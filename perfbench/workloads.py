"""The three workloads.  Each has a set-up (untimed, reported as ``setup_s``),
a measured window of ``--seconds`` and checks after the window.

- ``bulk_replay``: back-to-back ``apply_batch`` of one full change log into a
  fresh table: the fused bulk path (winner rows, one bucket shuffle, Arrow
  HTML->text, bucketed write) with every bucket touched.  It bypasses the
  stale filter, the tombstone guard, bucket pruning, table reads and
  streaming.
- ``cdc_tail``: a preloaded table tailed by ``run_replay(available_now=
  False)`` while small ordered log files land open-loop at a fixed rate:
  the general path (pruning, stale filter, guard, copy-on-write rewrite of
  touched buckets, epoch CAS, ``compact_appends``) and the streaming WAL.
- ``query_suite``: the 15 ``bench.py`` headline queries on static tables,
  with the three recalls.  No lake writes except ``cdc_apply_replay``'s
  scratch table.

Every workload returns the same record: its operation latencies, its point
lookups (``bulk_replay`` and ``cdc_tail`` read the lake beside the writer),
the problems the checks found and the raw material of the per-layer
metrics.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field

import inputs
import oracle
from common import PointLookups, sleep_until

#: the 15 timed queries of bench.py's HEADLINE table, by group
QUERY_GROUPS = {
    "cdc": ["cdc_final_state", "cdc_apply_replay", "lww_latest",
            "lww_latest_salted", "origin_trust_merge", "record_merge"],
    "tpch": ["pricing_summary", "top_revenue_orders", "semi_join_lookup"],
    "neardup": ["embedding_near_dups_lsh", "doc_minhash_pairs", "doc_simhash",
                "ann_topk", "lsh_ann_topk", "ivf_ann_topk"],
}

#: bench.py's warm rule: the plans it measured to pay a 3x+ cold-codegen
#: penalty run once before timing; the others are timed on their first run
WARM_FIRST = ["cdc_final_state", "cdc_apply_replay", "record_merge",
              "doc_minhash_pairs", "lsh_ann_topk", "ivf_ann_topk"]

#: quality floors the recalls must hold.  On the sf0.01 tables the seed code
#: gives lsh 0.87, ivf 0.97 and pair 0.82 (each recall@5 rests on 6 query
#: vectors); the floors sit below those so they catch a broken operator,
#: not a tie broken another way
RECALL_FLOORS = {"lsh_ann_recall_at_5": 0.75, "ivf_ann_recall_at_5": 0.55,
                 "near_dup_pair_recall": 0.70}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: int
    scale: inputs.Scale
    run_dir: str
    tracer: object = None
    #: called once the measured work is over, before the checks
    window_end: object = lambda: None


@dataclass
class Outcome:
    setup_s: float = 0.0          # workload part of set-up (boot/warm added by run.py)
    gen_s: float = 0.0            # input generation, reported apart from set-up
    window: tuple = (0.0, 0.0)    # measured window, epoch seconds
    ops: list = field(default_factory=list)       # operation latencies, s
    op_attempts: int = 0
    op_failures: int = 0
    lookups: list = field(default_factory=list)
    lookup_failures: int = 0
    problems: list = field(default_factory=list)
    diag: dict = field(default_factory=dict)      # named workload metrics + window facts
    layer: dict = field(default_factory=dict)     # raw per-layer inputs


def _read_log(spark, paths):
    from adsimportpipeline_spark.schema import CHANGE_EVENT_SCHEMA

    return spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*paths)


def _lookup_urls(n: int, n_urls: int) -> list[str]:
    """The hot url plus an even spread of the key space."""
    step = max(n_urls // n, 1)
    return [f"https://example.org/page/{i * step}" for i in range(n)]


def _bucket_map(spark, urls: list[str], n_buckets: int) -> dict[str, int]:
    from adsimportpipeline_spark.lake.table import bucket_expr

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {r[0]: r[1] for r in df.select("url", bucket_expr("url", n_buckets)).collect()}


def _check_lookups(lookups: list[dict], lk_oracle, cutoff_of) -> int:
    """Count lookups whose rows differ from the oracle at the snapshot each
    one read; ``cutoff_of(lookup)`` is that snapshot's last applied offset."""
    bad = 0
    for r in lookups:
        if "error" in r or sorted(r["rows"]) != lk_oracle.expect(r["url"], cutoff_of(r)):
            bad += 1
    return bad


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ------------------------------------------------------------ bulk_replay
def bulk_replay(ctx: Ctx) -> Outcome:
    from adsimportpipeline_spark import apply as apply_mod
    from adsimportpipeline_spark.apply import pages_schema_for
    from adsimportpipeline_spark.lake.table import LakeTable

    spark, sc, out = ctx.spark, ctx.scale, Outcome()
    log, out.gen_s = inputs.bulk_log(spark, ctx.seed, sc)
    files = inputs.parquet_files(log)
    t_setup = time.perf_counter()
    urls = _lookup_urls(sc.lookup_urls, sc.bulk_urls)
    buckets = _bucket_map(spark, urls, sc.n_buckets)
    schema = pages_schema_for(_read_log(spark, files).schema)
    tables: list = []

    def fresh_apply() -> float:
        tbl = LakeTable.create(spark, os.path.join(ctx.run_dir, f"bulk{len(tables)}"),
                               schema, n_buckets=sc.n_buckets)
        t0 = time.perf_counter()
        apply_mod.apply_batch(tbl, _read_log(spark, files), batch_id=0, prune_buckets=False)
        wall = time.perf_counter() - t0
        tables.append(tbl)
        return wall

    fresh_apply()  # cold plan: JIT and codegen are set-up, not steady state
    out.setup_s = time.perf_counter() - t_setup

    lookups = PointLookups(lambda: tables[-1], urls, buckets,
                           sc.lookup_rate, ctx.seconds, tracer=ctx.tracer)
    t0 = time.time()
    lookups.start(t0)
    while time.time() < t0 + ctx.seconds:
        out.ops.append(fresh_apply())
    out.window = (t0, time.time())
    out.lookups = lookups.join()
    ctx.window_end()

    # checks: every table written in the window against the DuckDB replay
    timed = tables[1:]
    want = oracle.lww_oracle(files)
    n_in = want["rows"]
    for tbl in timed:
        got_pages, got_tombs = oracle.table_state(tbl)
        bad = oracle.diff("pages", got_pages, want["pages"]) + oracle.diff(
            "tombstones", got_tombs, want["tombs"])
        out.op_failures += bool(bad)
        out.problems += [f"{tbl.root}: {b}" for b in bad]
    out.op_attempts = len(timed)
    lk = oracle.LookupOracle.from_logs(files, urls)
    out.lookup_failures = _check_lookups(out.lookups, lk, lambda r: math.inf)

    wall = sorted(out.ops)[len(out.ops) // 2]
    out.diag.update(bulk_events_per_s=n_in / wall, bulk_events=n_in,
                    bulk_applies=len(out.ops))
    out.layer.update(
        input_rows=n_in * len(timed), input_bytes=_dir_bytes(log) * len(timed),
        committed_rows=sum(want["pages"].values()) * len(timed),
        winners=want["urls"] * len(timed), batches=len(timed),
        table=tables[-1], n_buckets=sc.n_buckets, source_marker=log,
    )
    return out


# --------------------------------------------------------------- cdc_tail
#: preload batch ids live far from the stream's 0, 1, 2 ... so the lineage
#: rows of the two epoch sources never share a batch id.  The second
#: preload batch (id 31 mod 32) is one ``apply_batch`` folds its tombstone
#: and lineage branches after (``compact_appends_every=32``), so set-up runs
#: ``compact_appends`` once; the window's stream batches (ids 0 to about 6)
#: never reach a fold.
PRELOAD_BATCH = 1_000_000_030


def cdc_tail(ctx: Ctx) -> Outcome:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from adsimportpipeline_spark import apply as apply_mod
    from adsimportpipeline_spark.apply import pages_schema_for
    from adsimportpipeline_spark.lake.table import LakeTable
    from adsimportpipeline_spark.schema import LINEAGE_SCHEMA
    from adsimportpipeline_spark.streaming.runner import run_replay

    spark, sc, out = ctx.spark, ctx.scale, Outcome()
    log, out.gen_s = inputs.tail_log(spark, ctx.seed, sc, ctx.seconds)
    t_setup = time.perf_counter()
    tail_files = log["files"]
    pre_files = inputs.parquet_files(log["preload"])
    urls = _lookup_urls(sc.lookup_urls, sc.tail_urls)
    buckets = _bucket_map(spark, urls, sc.n_buckets)

    root = os.path.join(ctx.run_dir, "tail_table")
    pre = _read_log(spark, pre_files)
    table = LakeTable.create(spark, root, pages_schema_for(pre.schema), n_buckets=sc.n_buckets)
    # two preload batches: the bulk of the prefix takes the fused path into
    # the empty table, its last 1,000 events the general path, so the
    # stream's first batch does not pay the general plan's cold codegen
    # inside the window
    split = log["cut"] - 1_000
    t_pre = time.perf_counter()
    folds = []
    for i, cond in enumerate([F.col("log_offset") < split, F.col("log_offset") >= split]):
        st = apply_mod.apply_batch(table, pre.filter(cond), batch_id=PRELOAD_BATCH + i,
                                   epoch_source="preload")
        if "compact_appends" in st["phases"]:
            folds.append(st["phases"]["compact_appends"])
    out.layer["preload_s"] = time.perf_counter() - t_pre
    if not folds:
        raise RuntimeError("the preload's second batch did not fold the append branches")
    out.layer["setup_folds"] = folds

    # the watched directory starts empty; files are staged beside it and
    # land by atomic rename, in offset order
    watch, stage = os.path.join(ctx.run_dir, "watch"), os.path.join(ctx.run_dir, "stage")
    os.makedirs(watch)
    os.makedirs(stage)
    staged = []
    for i, f in enumerate(tail_files):
        dst = os.path.join(stage, f"part-{i:05d}.parquet")
        shutil.copyfile(f, dst)
        staged.append(dst)
    file_hi = [int(pq.ParquetFile(f).metadata.row_group(0).column(2).statistics.max)
               for f in tail_files]
    file_events = [pq.ParquetFile(f).metadata.num_rows for f in tail_files]

    stats: list[dict] = []
    query = run_replay(spark, watch, root, os.path.join(ctx.run_dir, "ckpt"),
                       max_files_per_trigger=None, available_now=False,
                       collect_stats=stats)
    out.setup_s = time.perf_counter() - t_setup

    try:
        lookups = PointLookups(lambda: table, urls, buckets,
                               sc.lookup_rate, ctx.seconds, tracer=ctx.tracer)
        t0 = time.time()
        lookups.start(t0)
        due, landed = [], []
        for i, f in enumerate(staged):
            d = t0 + i / sc.tail_rate
            sleep_until(d)
            os.rename(f, os.path.join(watch, os.path.basename(f)))
            due.append(d)
            landed.append(time.time())
        out.lookups = lookups.join()
        out.window = (t0, max(time.time(), t0 + ctx.seconds))
        # drain: wait (bounded) until the last landed file is committed,
        # reading lineage once per new commit rather than loading the engine
        # with a polling job
        deadline, seen = time.time() + 90, -1
        while time.time() < deadline and query.exception() is None:
            if len(stats) != seen:
                seen = len(stats)
                if _applied_max(table) >= file_hi[-1]:
                    break
            time.sleep(0.05)
        out.layer["work_end"] = time.time()
        ctx.window_end()
        progress = query.recentProgress
    finally:
        query.stop()
    if query.exception() is not None:
        out.problems.append(f"stream failed: {query.exception()}")

    # map each file to the batch holding its last offset, via lineage
    lin = (
        table.read_lineage(LINEAGE_SCHEMA)
        .filter(F.col("batch_id") < PRELOAD_BATCH)
        .groupBy("batch_id").agg(F.max("offset_end").alias("hi"))
        .collect()
    )
    batch_hi = sorted((r["batch_id"], r["hi"]) for r in lin)
    committed = {s["batch_id"]: _epoch(s["committed_at"]) for s in stats if not s.get("skipped")}
    file_batch = []
    for i, hi in enumerate(file_hi):
        b = next((bid for bid, bhi in batch_hi if bhi >= hi), None)
        file_batch.append(b)
        if b is None or b not in committed:
            out.op_failures += 1
            out.problems.append(f"tail file {i} (offsets up to {hi}) never committed")
        else:
            out.ops.append(committed[b] - due[i])
    out.op_attempts = len(file_hi)

    # checks: final table, and every lookup at the snapshot it read
    all_files = pre_files + tail_files
    want = oracle.lww_oracle(all_files)
    got_pages, got_tombs = oracle.table_state(table)
    problems = oracle.diff("pages", got_pages, want["pages"]) + oracle.diff(
        "tombstones", got_tombs, want["tombs"])
    if problems:
        out.problems += problems
        out.op_failures = out.op_attempts
    cut_hi = log["cut"] - 1

    def cutoff(r):
        b = r["epochs"].get("cdc", -1)
        return max([cut_hi] + [hi for bid, hi in batch_hi if bid <= b])

    lk = oracle.LookupOracle.from_logs(all_files, urls)
    out.lookup_failures = _check_lookups(out.lookups, lk, cutoff)

    # LWW winners per batch: distinct urls of the files each batch held
    groups: dict = {}
    for f, b in zip(tail_files, file_batch):
        if b is not None:
            groups.setdefault(b, []).append(f)
    con = oracle._duck()
    winners = sum(con.execute(f"SELECT count(DISTINCT url) FROM {oracle._files_sql(fs)}")
                  .fetchone()[0] for fs in groups.values())
    con.close()

    lags = [lt - d for lt, d in zip(landed, due)]
    cdc_stats = [s for s in stats if not s.get("skipped")]
    touched = [s["touched_buckets"] / sc.n_buckets for s in cdc_stats]
    out.diag.update(
        arrival_rate_per_s=sc.tail_rate, lookup_rate_per_s=sc.lookup_rate,
        file_events=sc.tail_file_events, n_buckets=sc.n_buckets,
        arrivals=len(file_hi), batches=len(cdc_stats),
        touched_bucket_share=sum(touched) / max(len(touched), 1),
        arrival_lag_max_s=max(lags), preload_events=log["cut"],
    )
    out.layer.update(
        progress=[p for p in progress if p.numInputRows > 0],
        file_batch=file_batch, due=due, file_events=file_events,
        input_rows=sum(file_events),
        input_bytes=sum(os.path.getsize(f) for f in tail_files),
        committed_rows=sum(n for key, n in got_pages.items() if key[2] >= log["cut"]),
        winners=winners, batches=len(cdc_stats), table=table, n_buckets=sc.n_buckets,
        source_marker=watch, arrival_lags=lags, touched=touched,
    )
    return out


def _applied_max(table) -> int:
    """Highest log offset the table's lineage says is applied."""
    from pyspark.sql import functions as F

    from adsimportpipeline_spark.schema import LINEAGE_SCHEMA

    r = (table.read_lineage(LINEAGE_SCHEMA)
         .filter(F.col("batch_id") < PRELOAD_BATCH)
         .agg(F.max("offset_end")).collect()[0][0])
    return -1 if r is None else r


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso).timestamp()


# ------------------------------------------------------------ query_suite
def query_suite(ctx: Ctx) -> Outcome:
    spark, sc, out = ctx.spark, ctx.scale, Outcome()
    tables_dir = inputs.query_tables(sc)
    # the IVF and author-merge oracles inline literals fitted from the
    # dataset they run against; point them at the checked-in tables before
    # the query module is first imported
    os.environ["SPARK_GRAFT_ORACLE_SF"] = tables_dir
    from adsimportpipeline_spark.plans.driver_queries import QUERIES

    names = [q for g in QUERY_GROUPS.values() for q in g]

    def run(name: str):
        t0 = time.perf_counter()
        if ctx.tracer is not None:
            with ctx.tracer.top(f"query:{name}", f"query:{name}:{time.time():.3f}"):
                df = QUERIES[name](spark, tables_dir)
                rows = [tuple(r) for r in df.collect()]
        else:
            df = QUERIES[name](spark, tables_dir)
            rows = [tuple(r) for r in df.collect()]
        return time.perf_counter() - t0, df.columns, rows

    # ivf_ann_topk caches its cell-assigned corpus in /dev/shm, keyed on the
    # tables' path: drop it before and after the run so every run builds it
    # in the same place (the warm pass) and none is left behind
    ivf_cache = _ivf_corpus_cache(tables_dir)
    shutil.rmtree(ivf_cache, ignore_errors=True)
    t_setup = time.perf_counter()
    out.diag["setup_warm_s"] = {name: run(name)[0] for name in WARM_FIRST}
    out.setup_s = time.perf_counter() - t_setup

    times: dict[str, list[float]] = {n: [] for n in names}
    results: dict[str, list] = {n: [] for n in names}
    t0 = time.time()
    # whole passes only, so every run times the same mix of queries: one
    # per 15 s of --seconds (a pass takes 10-15 s on the 4-CPU host)
    passes = max(1, round(ctx.seconds / 15))
    for k in range(passes * len(names)):
        name = names[k % len(names)]
        wall, cols, rows = run(name)
        times[name].append(wall)
        results[name].append((cols, rows))
    out.window = (t0, time.time())
    ctx.window_end()
    t_checks = time.perf_counter()

    # checks: every execution bag-equal to the DuckDB twin
    qo = oracle.QueryOracle(tables_dir)
    try:
        for name in names:
            for cols, rows in results[name]:
                bad = qo.check(name, cols, rows)
                out.op_failures += bool(bad)
                out.problems += bad
        # the recall baseline: brute-force near-dup pairs, from the query's
        # DuckDB twin (the same pairs bench.py collects from Spark)
        brute = {(a, b) for a, b, _ in qo.rows("embedding_near_dups")}
    finally:
        qo.close()
    shutil.rmtree(ivf_cache, ignore_errors=True)
    out.op_attempts = passes * len(names) + len(RECALL_FLOORS)

    def ids(name, a="query_id", b="vec_id"):
        cols, rows = results[name][-1]
        ia, ib = cols.index(a), cols.index(b)
        return {(r[ia], r[ib]) for r in rows}

    exact = ids("ann_topk")
    recalls = {
        "lsh_ann_recall_at_5": len(exact & ids("lsh_ann_topk")) / max(len(exact), 1),
        "ivf_ann_recall_at_5": len(exact & ids("ivf_ann_topk")) / max(len(exact), 1),
        "near_dup_pair_recall": len(brute & ids("embedding_near_dups_lsh", "id_a", "id_b"))
        / max(len(brute), 1),
    }
    for key, floor in RECALL_FLOORS.items():
        if recalls[key] < floor:
            out.op_failures += 1
            out.problems.append(f"{key} {recalls[key]:.3f} below its floor {floor}")

    # an operation is one query, timed as its median over the passes
    med = {n: sorted(t)[len(t) // 2] for n, t in times.items()}
    out.ops = list(med.values())
    for g, qs in QUERY_GROUPS.items():
        out.diag[f"query_{g}_s"] = sum(med[q] for q in qs)
    out.diag.update(recalls, query_passes=passes, query_s=med,
                    checks_s=time.perf_counter() - t_checks)
    out.layer.update(query_median_s=med, recalls=recalls, batches=0)
    return out


def _ivf_corpus_cache(tables_dir: str) -> str:
    """Where ``driver_queries._ivf_cell_corpus`` materializes its corpus."""
    import hashlib

    from adsimportpipeline_spark.plans import driver_queries as dq

    key = hashlib.md5(
        f"v1|{os.path.abspath(tables_dir)}|{dq.IVF_LISTS}|{dq.IVF_FIT_ITER}|"
        f"{dq.IVF_FIT_SEED}".encode()
    ).hexdigest()[:12]
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return os.path.join(base, f"spark_graft_ivf_{key}")


WORKLOADS = {"bulk_replay": bulk_replay, "cdc_tail": cdc_tail, "query_suite": query_suite}
