"""Shared plumbing: checkout paths, the Spark session, window probes, the
process-tree RSS sampler, percentiles and the open-loop point-lookup driver.

Everything the benchmark writes lives under ``<checkout>/.perfbench``: the
seeded input cache survives between runs, each run's scratch directory is
removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")
PACKAGE = os.path.join(ROOT, "adsimportpipeline_spark")

#: driver heap for the one local[nproc] JVM, committed at start (-Xms) so
#: that heap resizing does not make peak RSS jump between runs.  The package
#: default (16g) is sized for the 32-CPU ledger host.
DRIVER_MEMORY = "2g"


def package_present() -> bool:
    return os.path.isdir(PACKAGE) and os.path.isfile(os.path.join(ROOT, "bench.py"))


def make_run_dir() -> str:
    """Per-run scratch dir; TMPDIR points into it before pyspark is imported
    so the package's temp files (py-files zip, query scratch tables) stay
    inside the checkout too."""
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):  # scratch of runs that were killed
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    d = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    os.environ["TMPDIR"] = os.path.join(d, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return d


def boot_session(run_dir: str, trace: bool):
    """The package's own session factory at local[nproc], with scratch dirs
    moved into the checkout.  Returns (spark, boot_seconds)."""
    sys.path.insert(0, ROOT)
    from adsimportpipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{os.cpu_count() or 1}]",
        extra_conf={
            # the package's 16g default would not fit beside other work
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -Xms{DRIVER_MEMORY} -Djava.io.tmpdir="
                + os.path.join(run_dir, "tmp")
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "2000",
            "spark.sql.ui.retainedExecutions": "20000" if trace else "200",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ probes
def window_probes():
    """bench.py's ambient-load and hypervisor-steal probes (imported, not
    copied, so both benchmarks read the host the same way)."""
    sys.path.insert(0, ROOT)
    import bench

    return bench._external_busy_frac, bench._steal_ticks


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    gateway JVM and its Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_bytes = 0
        self.peak_by_name: dict[str, int] = {}  # process name -> bytes at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> tuple[int, dict]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo, by_name = 0, [(os.getpid(), "")], {}
        while todo:
            pid, parent_exe = todo.pop()
            try:
                exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            except OSError:
                continue
            # a JVM child still running the JVM's image is a spawn in
            # flight that shares the JVM's pages; counting it would add
            # the whole JVM a second time
            if exe == parent_exe == "java":
                continue
            todo.extend((c, exe) for c in children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            total += rss
            by_name[name] = by_name.get(name, 0) + rss
        return total, by_name

    def _sample(self) -> None:
        total, by_name = self._tree_rss()
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_by_name = total, by_name

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_bytes / 2**20


# ------------------------------------------------------------- statistics
def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def sleep_until(t: float) -> None:
    """Sleep until wall-clock time ``t``.  Open-loop schedules use the wall
    clock because they are compared with commit and Spark-event times."""
    d = t - time.time()
    if d > 0:
        time.sleep(d)


# ---------------------------------------------------------------- lookups
class PointLookups:
    """Open-loop point lookups of a fixed url set at a fixed rate.

    Lookup ``j`` is due at ``t0 + j / rate`` whether or not earlier ones
    finished.  The pool is wide enough that lookups never queue in the client
    itself: a lookup that waits, waits inside the engine for a task slot, and
    that wait counts (latency is taken from the due time).  Each lookup resolves the table's current snapshot with
    ``LakeTable.manifest`` and reads the url's bucket with ``read_buckets``,
    exactly what a point reader of the lake does.

    ``table_fn`` returns the LakeTable to read at call time (the bulk
    workload swaps in each freshly written table); ``buckets`` maps each url
    to its bucket id for the table geometry.
    """

    def __init__(self, table_fn, urls, buckets, rate, seconds, workers=16, tracer=None):
        self.table_fn = table_fn
        self.urls, self.buckets = urls, buckets
        self.rate, self.n = rate, max(int(rate * seconds), 1)
        self.workers, self.tracer = workers, tracer
        self.results: list[dict] = []
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self._pool: ThreadPoolExecutor | None = None
        self._futures: list = []

    def _one(self, j: int, due: float, sent: float) -> None:
        from pyspark.sql import functions as F

        url = self.urls[j % len(self.urls)]
        rec = {"j": j, "due": due, "sent": sent, "url": url, "start": time.time()}
        try:
            span = self.tracer.top("lookup", f"lookup:{j}") if self.tracer else nullcontext()
            with span:
                tbl = self.table_fn()
                m = tbl.manifest()
                df = (
                    tbl.read_buckets([self.buckets[url]], m)
                    .filter(F.col("url") == url)
                    .select(
                        "url",
                        F.unix_micros(F.col("warc_ts").cast("timestamp")).alias("ts"),
                        "log_offset",
                        F.md5("text").alias("text_md5"),
                    )
                )
                rows = [tuple(r) for r in df.collect()]
            rec.update(
                end=time.time(), rows=rows, version=m["version"],
                epochs=dict(m["committed_epochs"]), root=tbl.root,
                files=len(m["buckets"].get(str(self.buckets[url]), [])),
            )
        except Exception as exc:  # noqa: BLE001 - a failed lookup is counted, not fatal
            rec.update(end=time.time(), error=repr(exc))
        with self._lock:
            self.results.append(rec)

    def _schedule(self, t0: float) -> None:
        for j in range(self.n):
            due = t0 + j / self.rate
            sleep_until(due)
            self._futures.append(self._pool.submit(self._one, j, due, time.time()))

    def start(self, t0: float) -> "PointLookups":
        self._pool = ThreadPoolExecutor(max_workers=self.workers)
        self._thread = threading.Thread(target=self._schedule, args=(t0,), daemon=True)
        self._thread.start()
        return self

    def join(self) -> list[dict]:
        self._thread.join()
        for f in self._futures:
            f.result()
        self._pool.shutdown(wait=True)
        return sorted(self.results, key=lambda r: r["j"])


def lookup_latencies(results: list[dict]) -> list[float]:
    return [r["end"] - r["due"] for r in results if "error" not in r]
