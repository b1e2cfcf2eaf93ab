"""Tracing for the per-layer run: spans recorded from the benchmark's side of
each layer boundary, plus Spark's own per-operator SQL metrics.

Spans wrap the package's public functions where their callers look them up
(``streaming.runner.apply_batch``, ``apply.lww_winner_rows`` ...), so the
package itself is untouched.  Each span keeps a name, start, end, thread and
the trace id of the batch, lookup or query that caused it; spans started in
a pool thread inside a batch (``overwrite_buckets`` runs its writes in one)
inherit the trace of the writer span that encloses them in time.  Spans stay
in memory and are written out once, after the measured window.

Spark's SQL metrics are read from the session's status store, which works
with the UI off.  Top-level spans tag their thread's Spark jobs with a
``pb:<trace>`` job description, so each SQL execution is attributed to its
lookup or query by tag and otherwise, by time, to the writer.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager

LAYER_OF = {
    "apply_batch": "apply",
    "manifest": "lake.table",
    "read_buckets": "lake.table",
    "overwrite_buckets": "lake.table",
    "compact_appends": "lake.table",
    "lww_winner_rows": "operators.lww",
    "lww_dedup_semi": "operators.lww",
    "tombstone_guard": "operators.cdc",
    "lookup": "lookup",
}


def layer_of(name: str) -> str:
    return "plans.driver_queries" if name.startswith("query:") else LAYER_OF[name]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # ------------------------------------------------------------- spans
    def _record(self, name, trace, t0, t1, error=None, info=None):
        with self._lock:
            self.spans.append({
                "name": name, "trace": trace, "start": t0, "end": t1,
                "thread": threading.get_ident(), "error": error, "info": info or {},
            })

    @contextmanager
    def top(self, name: str, trace: str):
        """A top-level span: sets the thread's trace id and Spark job tag.
        Opened inside another trace (``cdc_apply_replay`` calls
        ``apply_batch``) it stays a child of that trace."""
        prev = getattr(self._local, "trace", None)
        trace = prev or trace
        self._local.trace = trace
        self.sc.setLocalProperty("spark.job.description", f"pb:{trace}")
        t0 = time.time()
        info: dict = {}
        err = None
        try:
            yield info
        except BaseException as exc:
            err = type(exc).__name__
            raise
        finally:
            self._record(name, trace, t0, time.time(), err, info)
            self._local.trace = prev
            self.sc.setLocalProperty(
                "spark.job.description", f"pb:{prev}" if prev else None
            )

    def wrap(self, owner, attr: str, name: str, top_trace=None, info=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper.  ``top_trace(args,
        kwargs)`` makes it a top-level span with that trace id; ``info(args,
        kwargs, result)`` adds fields to the span."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if top_trace is not None:
                ctx = self.top(name, top_trace(args, kwargs))
            else:
                ctx = self._child(name)
            with ctx as rec:
                out = orig(*args, **kwargs)
                if info is not None:
                    rec.update(info(args, kwargs, out))
                return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    @contextmanager
    def _child(self, name: str):
        t0 = time.time()
        info: dict = {}
        err = None
        try:
            yield info
        except BaseException as exc:
            err = type(exc).__name__
            raise
        finally:
            self._record(name, getattr(self._local, "trace", None), t0, time.time(), err, info)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def install_package_spans(tracer: Tracer) -> None:
    """Spans around the apply and lake layer boundaries.  Queries are lazy
    (``QUERIES[name]`` only builds a plan), so the query workload opens its
    ``query:<name>`` span around the call and its sink instead."""
    from adsimportpipeline_spark import apply as apply_mod
    from adsimportpipeline_spark.lake.table import LakeTable
    from adsimportpipeline_spark.streaming import runner

    def batch_trace(args, kwargs):
        bid = kwargs.get("batch_id", args[2] if len(args) > 2 else "?")
        src = kwargs.get("epoch_source", "cdc")
        return f"batch:{src}:{bid}:{time.time():.3f}"

    def apply_info(args, kwargs, out):
        return {"stats": {k: v for k, v in out.items() if k != "committed_at"}}

    # runner imported apply_batch by name: wrap it where runner looks it up,
    # and in apply's own namespace for direct callers
    tracer.wrap(runner, "apply_batch", "apply_batch", batch_trace, apply_info)
    tracer.wrap(apply_mod, "apply_batch", "apply_batch", batch_trace, apply_info)
    for attr in ("manifest", "overwrite_buckets", "compact_appends"):
        tracer.wrap(LakeTable, attr, attr)

    def bucket_info(args, kwargs, out):
        return {"buckets": len(kwargs.get("bucket_ids", args[1] if len(args) > 1 else []))}

    tracer.wrap(LakeTable, "read_buckets", "read_buckets", info=bucket_info)
    for attr in ("lww_winner_rows", "lww_dedup_semi", "tombstone_guard"):
        tracer.wrap(apply_mod, attr, attr)


# ------------------------------------------------------------ analysis
def assign_traces(spans: list[dict], is_writer) -> None:
    """Give trace-less spans (pool threads) the trace of the innermost
    writer span enclosing their start."""
    writers = [s for s in spans if is_writer(s["name"]) and s["trace"]]
    for s in spans:
        if s["trace"] is None:
            enc = [w for w in writers if w["start"] <= s["start"] <= w["end"]]
            s["trace"] = min(enc, key=lambda w: w["end"] - w["start"])["trace"] if enc else "none"


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the union of its
    direct children (the innermost enclosing span of the same trace)."""
    by_trace: dict[str, list[dict]] = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)
    out: dict[str, float] = {}
    for group in by_trace.values():
        group.sort(key=lambda s: (s["start"], -(s["end"] - s["start"])))
        kids: dict[int, list] = {}
        for i, s in enumerate(group):
            parent = None
            for j in range(i - 1, -1, -1):
                p = group[j]
                if p["start"] <= s["start"] and s["end"] <= p["end"] + 1e-6:
                    if parent is None or (p["end"] - p["start"]) < (group[parent]["end"] - group[parent]["start"]):
                        parent = j
            s["parent"] = parent
            if parent is not None:
                kids.setdefault(parent, []).append((s["start"], s["end"]))
        for i, s in enumerate(group):
            own = (s["end"] - s["start"]) - _union(kids.get(i, []))
            layer = layer_of(s["name"])
            out[layer] = out.get(layer, 0.0) + max(own, 0.0)
    return out


# -------------------------------------------------------- SQL metrics
_NODE = re.compile(r'label="(?:<br>)?<b>(.*?)</b><br><br>(.*?)" tooltip="(.*?)"\];')
_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _value(text: str) -> float:
    parts = text.strip().split()
    num = float(parts[0].replace(",", ""))
    return num * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else num


def parse_plan_dot(dot: str) -> list[tuple[str, dict, str]]:
    """(operator, {metric: value in ms / bytes / count}, description) per
    plan node of ``SparkPlanGraph.makeDotFile``."""
    nodes = []
    for m in _NODE.finditer(dot):
        parts = m.group(2).split("<br>")
        metrics: dict[str, float] = {}
        i = 0
        while i < len(parts):
            p = parts[i]
            if " total (min, med, max" in p and i + 1 < len(parts):
                metrics[p.split(" total (min")[0]] = _value(parts[i + 1].split(" (")[0])
                i += 2
                continue
            if ": " in p:
                k, v = p.split(": ", 1)
                try:
                    metrics[k] = _value(v)
                except (ValueError, IndexError):
                    pass
            i += 1
        nodes.append((m.group(1).strip(), metrics, m.group(3)))
    return nodes


def sql_executions(spark, since: float) -> list[dict]:
    """Every SQL execution submitted at or after ``since`` (epoch seconds)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        start = e.submissionTime() / 1000.0
        if start < since:
            continue
        comp = e.completionTime()
        end = comp.get().getTime() / 1000.0 if comp.isDefined() else start
        eid = e.executionId()
        dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
        out.append({"id": eid, "desc": e.description() or "", "start": start,
                    "end": end, "nodes": parse_plan_dot(dot)})
    return out


def metric_sum(execs: list[dict], ops: tuple[str, ...], metric: str,
               where=None) -> float:
    """Sum of ``metric`` over plan nodes whose operator name starts with one
    of ``ops`` (optionally filtered on the node description)."""
    total = 0.0
    for e in execs:
        for op, metrics, desc in e["nodes"]:
            if op.startswith(ops) and metric in metrics and (where is None or where(desc)):
                total += metrics[metric]
    return total


PY_OPS = ("ArrowEvalPython", "MapInArrow", "PythonMapInArrow", "MapInPandas",
          "FlatMapGroupsInPandas", "BatchEvalPython", "FlatMapGroupsInArrow")
AGG_OPS = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
WRITE_OPS = ("Execute InsertIntoHadoopFsRelationCommand",)
