"""Per-layer metrics of a traced run, named by the package module they
measure.  Every workload emits every name; a layer the workload bypasses
reads 0 (streaming in ``bulk_replay``, the apply path in ``query_suite``).

Per-batch figures are medians (span and phase times) or means (SQL-metric
sums divided by the batch count) over the batches of the measured window.
"""

from __future__ import annotations

import os
import statistics

import tracing as tr
from common import lookup_latencies, percentile
from workloads import QUERY_GROUPS, _dir_bytes, _epoch

_STREAM_DURATIONS = {
    "stream.trigger_ms": "triggerExecution", "stream.add_batch_ms": "addBatch",
    "stream.latest_offset_ms": "latestOffset", "stream.get_batch_ms": "getBatch",
    "stream.query_planning_ms": "queryPlanning", "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}
_PHASES = ["manifest_read", "dedup_and_touched", "plan_build", "commit_write", "compact_appends"]
_QUERY_GROUP_METRICS = {
    "scan_ms": ("ms", (("Scan",), "scan time")),
    "shuffle_bytes": ("B", (("Exchange",), "shuffle bytes written")),
    "broadcast_bytes": ("B", (("BroadcastExchange",), "data size")),
    "python_boot_ms": ("ms", (tr.PY_OPS, "time to start Python workers")),
    "python_compute_ms": ("ms", (tr.PY_OPS, "time to run Python workers")),
    "agg_ms": ("ms", (tr.AGG_OPS, "time in aggregation build")),
    "join_build_ms": ("ms", (("BroadcastExchange", "ShuffledHashJoin"), "time to build")),
}
_SELF_LAYERS = ["apply", "lake.table", "operators.lww", "operators.cdc", "plans.driver_queries"]

#: (name, unit) of every per-layer metric, in BENCHMARK.json order
METRICS: list[tuple[str, str]] = (
    [("session.boot_s", "s"), ("session.warm_s", "s"), ("setup.preload_s", "s"),
     ("sources.scan_ms", "ms"), ("sources.scan_bytes", "B"), ("sources.files_read", "count")]
    + [(k, "ms") for k in _STREAM_DURATIONS]
    + [("stream.queue_wait_s", "s"), ("stream.files_per_batch", "count"),
       ("stream.events_per_batch", "count"), ("stream.batches", "count"),
       ("stream.busy_frac", "ratio")]
    + [("apply.wall_s", "s")] + [(f"apply.{p}_s", "s") for p in _PHASES]
    + [("apply.unattributed_s", "s"), ("apply.touched_bucket_frac", "ratio"),
       ("apply.fused_batches", "count"), ("apply.general_batches", "count"),
       ("apply.shuffle_bytes", "B"),
       ("lww.winner_rows_s", "s"), ("lww.dedup_semi_s", "s"), ("lww.agg_ms", "ms"),
       ("lww.winner_ratio", "ratio"),
       ("cdc.guard_s", "s"), ("cdc.tombstones_read", "count"),
       ("html.python_boot_ms", "ms"), ("html.python_init_ms", "ms"),
       ("html.python_compute_ms", "ms"), ("html.bytes_to_python", "B"),
       ("html.bytes_from_python", "B"), ("html.rows_extracted", "count"),
       ("html.useful_ratio", "ratio"),
       ("lake.overwrite_s", "s"), ("lake.commit_tail_s", "s"), ("lake.read_buckets_s", "s"),
       ("lake.bytes_written", "B"), ("lake.files_written", "count"),
       ("lake.write_amplification", "ratio"), ("lake.space_amplification", "ratio"),
       ("lake.manifest_bytes", "B"), ("lake.live_files", "count"),
       ("lake.commit_conflicts", "count"),
       ("lookup.count", "count"), ("lookup.p50_s", "s"), ("lookup.p90_s", "s"),
       ("lookup.buckets_read", "count"), ("lookup.files_read", "count"),
       ("lookup.rows_scanned_per_row_returned", "ratio")]
    + [(f"query.{q}_s", "s") for g in QUERY_GROUPS.values() for q in g]
    + [(f"query.{g}.{m}", u) for g in QUERY_GROUPS for m, (u, _) in _QUERY_GROUP_METRICS.items()]
    + [("query.lsh_ann_recall_at_5", "ratio"), ("query.ivf_ann_recall_at_5", "ratio"),
       ("query.near_dup_pair_recall", "ratio")]
    + [(f"self.{layer}_s", "s") for layer in _SELF_LAYERS]
    + [("self.lookup_s", "s"), ("trace.wall_s", "s"), ("trace.writer_span_s", "s"),
       ("trace.overlap_s", "s"), ("trace.unattributed_s", "s"),
       ("bench.generator_lag_s", "s"), ("bench.steal_s", "s"),
       ("bench.ambient_busy_frac", "ratio"), ("bench.tracing_overhead_frac", "ratio"),
       ("bench.input_gen_s", "s")]
)


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def compute(out, spans, execs, run_facts) -> dict[str, float]:
    """Every per-layer metric for one traced run.  ``run_facts`` carries the
    session and window numbers run.py measured."""
    v = {name: 0.0 for name, _ in METRICS}
    lay = out.layer
    t0, t1 = out.window[0], lay.get("work_end", out.window[1])
    spans = [s for s in spans if s["start"] >= t0]
    execs = [e for e in execs if e["start"] <= t1]

    def is_writer(name):
        return name == "apply_batch" or name.startswith("query:")

    tr.assign_traces(spans, is_writer)
    writer_spans = [s for s in spans if not s["trace"].startswith("lookup:")]
    # untagged executions (pool threads) belong to the query running then
    queries = [s for s in writer_spans if s["name"].startswith("query:")]
    for e in execs:
        if not e["desc"].startswith("pb:"):
            enc = [q for q in queries if q["start"] <= e["start"] <= q["end"]]
            if enc:
                e["desc"] = "pb:" + enc[0]["trace"]
    lookup_execs = [e for e in execs if e["desc"].startswith("pb:lookup:")]
    query_execs = [e for e in execs if e["desc"].startswith("pb:query:")]
    writer_execs = [e for e in execs if e not in lookup_execs and e not in query_execs]

    v["session.boot_s"] = run_facts["boot_s"]
    v["setup.preload_s"] = lay.get("preload_s", 0.0)
    # the rest of set-up: query_suite's warm pass, bulk_replay's cold apply,
    # cdc_tail's staging and stream start; boot + warm + preload = setup_s
    v["session.warm_s"] = run_facts["setup_s"] - run_facts["boot_s"] - v["setup.preload_s"]

    # ---- apply / lww / cdc / lake, per batch of the window
    # batches of the apply layer proper; cdc_apply_replay's apply belongs to
    # its query
    applies = [s for s in writer_spans if s["name"] == "apply_batch"
               and not s["trace"].startswith("query:")
               and s["info"].get("stats", {}).get("skipped") is False]
    nb = max(len(applies), 1)
    by_trace: dict[str, list] = {}
    for s in writer_spans:
        by_trace.setdefault(s["trace"], []).append(s)

    def per_batch_span(name):
        return sum(s["end"] - s["start"] for s in writer_spans if s["name"] == name) / nb

    if applies:
        v["apply.wall_s"] = _median(s["end"] - s["start"] for s in applies)
        for p in _PHASES[:-1]:  # compact_appends: folding batches only, below
            v[f"apply.{p}_s"] = _median(s["info"]["stats"]["phases"].get(p, 0.0) for s in applies)
        v["apply.unattributed_s"] = _median(
            (s["end"] - s["start"]) - sum(s["info"]["stats"]["phases"].values()) for s in applies)
        v["apply.touched_bucket_frac"] = _median(
            s["info"]["stats"]["touched_buckets"] / lay["n_buckets"] for s in applies)
        names_in = [{k["name"] for k in by_trace.get(s["trace"], [])} for s in applies]
        v["apply.fused_batches"] = sum("lww_winner_rows" in n for n in names_in)
        v["apply.general_batches"] = sum("lww_dedup_semi" in n for n in names_in)
        v["lww.winner_rows_s"] = per_batch_span("lww_winner_rows")
        v["lww.dedup_semi_s"] = per_batch_span("lww_dedup_semi")
        v["cdc.guard_s"] = per_batch_span("tombstone_guard")
        v["lake.read_buckets_s"] = per_batch_span("read_buckets")
        overwrites = [s for s in writer_spans if s["name"] == "overwrite_buckets"]
        v["lake.overwrite_s"] = _median(s["end"] - s["start"] for s in overwrites)
        tails = []
        for s in overwrites:
            ends = [e["end"] for e in writer_execs if s["start"] <= e["start"] <= s["end"]]
            if ends:
                tails.append(s["end"] - max(ends))
        v["lake.commit_tail_s"] = _median(tails)
        v["lake.commit_conflicts"] = sum(1 for s in writer_spans if s["error"] == "CommitConflictError")

        v["apply.shuffle_bytes"] = tr.metric_sum(writer_execs, ("Exchange",), "shuffle bytes written") / nb
        v["lww.agg_ms"] = tr.metric_sum(writer_execs, tr.AGG_OPS, "time in aggregation build") / nb
        v["cdc.tombstones_read"] = tr.metric_sum(
            writer_execs, ("Scan",), "number of output rows", lambda d: "/tomb" in d) / nb
        marker = lay.get("source_marker")
        if marker:
            def is_src(d, m=marker):
                return m in d
            v["sources.scan_ms"] = tr.metric_sum(writer_execs, ("Scan",), "scan time", is_src) / nb
            v["sources.scan_bytes"] = tr.metric_sum(writer_execs, ("Scan",), "size of files read", is_src) / nb
            v["sources.files_read"] = tr.metric_sum(writer_execs, ("Scan",), "number of files read", is_src) / nb
        py = {"html.python_boot_ms": "time to start Python workers",
              "html.python_init_ms": "time to initialize Python workers",
              "html.python_compute_ms": "time to run Python workers",
              "html.bytes_to_python": "data sent to Python workers",
              "html.bytes_from_python": "data returned from Python workers",
              "html.rows_extracted": "number of output rows"}
        for name, metric in py.items():
            v[name] = tr.metric_sum(writer_execs, tr.PY_OPS, metric) / nb
        extracted = v["html.rows_extracted"] * nb
        v["html.useful_ratio"] = lay["committed_rows"] / extracted if extracted else 0.0
        written = tr.metric_sum(writer_execs, tr.WRITE_OPS, "written output")
        v["lake.bytes_written"] = written / nb
        v["lake.files_written"] = tr.metric_sum(writer_execs, tr.WRITE_OPS, "number of written files") / nb
        v["lake.write_amplification"] = written / max(lay["input_bytes"], 1)
        v["lww.winner_ratio"] = lay["winners"] / max(lay["input_rows"], 1)

    # the fold runs only on batches with id 31 mod 32: median over the ones
    # that folded, in set-up (cdc_tail's preload) or in the window
    folds = lay.get("setup_folds", []) + [
        s["info"]["stats"]["phases"]["compact_appends"] for s in applies
        if "compact_appends" in s["info"]["stats"]["phases"]]
    v["apply.compact_appends_s"] = _median(folds)

    table = lay.get("table")
    if table is not None:
        facts = _table_facts(table)
        v["lake.space_amplification"] = facts["space_amplification"]
        v["lake.manifest_bytes"] = facts["manifest_bytes"]
        v["lake.live_files"] = facts["live_files"]

    # ---- streaming (cdc_tail only)
    progress = lay.get("progress") or []
    if progress:
        for name, key in _STREAM_DURATIONS.items():
            v[name] = _median(p.durationMs.get(key, 0) for p in progress)
        start_of = {p.batchId: _epoch(p.timestamp) for p in progress}
        waits = [start_of[b] - d for b, d in zip(lay["file_batch"], lay["due"]) if b in start_of]
        v["stream.queue_wait_s"] = _median(waits)
        batches = [b for b in lay["file_batch"] if b is not None]
        v["stream.files_per_batch"] = len(batches) / max(len(set(batches)), 1)
        # from the files each batch held: numInputRows counts every re-scan
        # of the batch inside foreachBatch
        per_batch: dict = {}
        for b, n in zip(lay["file_batch"], lay["file_events"]):
            if b is not None:
                per_batch[b] = per_batch.get(b, 0) + n
        v["stream.events_per_batch"] = _median(per_batch.values())
        v["stream.batches"] = len(progress)
        v["stream.busy_frac"] = sum(p.durationMs.get("triggerExecution", 0) for p in progress) / 1e3 / max(t1 - t0, 1e-9)

    # ---- lookups
    lk = out.lookups
    v["lookup.count"] = len(lk)
    if lk:
        lat = lookup_latencies(lk)
        if lat:
            v["lookup.p50_s"], v["lookup.p90_s"] = percentile(lat, 50), percentile(lat, 90)
        v["lookup.buckets_read"] = _median(
            s["info"]["buckets"] for s in spans
            if s["name"] == "read_buckets" and s["trace"].startswith("lookup:"))
        v["lookup.files_read"] = _median(r.get("files", 0) for r in lk)
        returned = sum(len(r.get("rows", [])) for r in lk)
        scanned = tr.metric_sum(lookup_execs, ("Scan",), "number of output rows")
        v["lookup.rows_scanned_per_row_returned"] = scanned / max(returned, 1)

    # ---- queries (query_suite only)
    med = lay.get("query_median_s") or {}
    for q, t in med.items():
        v[f"query.{q}_s"] = t
    if med:
        group_of = {q: g for g, qs in QUERY_GROUPS.items() for q in qs}
        passes = max(out.diag.get("query_passes", 1), 1)
        for g in QUERY_GROUPS:
            ex = [e for e in query_execs if group_of.get(e["desc"].split(":")[2]) == g]
            for m, (_, (ops, metric)) in _QUERY_GROUP_METRICS.items():
                v[f"query.{g}.{m}"] = tr.metric_sum(ex, ops, metric) / passes
        for k, val in lay["recalls"].items():
            v[f"query.{k}"] = val

    # ---- self time per layer and the unattributed rest of the wall
    writer_lane = [s for s in writer_spans if s["start"] <= t1]
    selfs = tr.self_times(writer_lane)
    for layer in _SELF_LAYERS:
        v[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    v["self.lookup_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == "lookup")
    tops = [(max(s["start"], t0), min(s["end"], t1)) for s in writer_lane if s.get("parent") is None]
    covered = tr._union([iv for iv in tops if iv[1] > iv[0]])
    v["trace.wall_s"] = t1 - t0
    v["trace.writer_span_s"] = covered
    v["trace.overlap_s"] = sum(selfs.values()) - covered
    v["trace.unattributed_s"] = (t1 - t0) - covered

    v["bench.generator_lag_s"] = run_facts["generator_lag_s"]
    v["bench.steal_s"] = run_facts["steal_s"]
    v["bench.ambient_busy_frac"] = run_facts["ambient_busy_frac"]
    v["bench.tracing_overhead_frac"] = run_facts["tracing_overhead_frac"]
    v["bench.input_gen_s"] = out.gen_s
    return v


def _table_facts(table) -> dict:
    """Storage facts of the table's current snapshot."""
    m = table.manifest()
    entries = [e for es in m["buckets"].values() for e in es]
    entries += m["tombstone_files"] + m["lineage_files"]
    live = sum(os.path.getsize(e["path"]) for e in entries)
    return {
        "manifest_bytes": os.path.getsize(table._manifest_path(m["version"])),
        "live_files": len(entries),
        "space_amplification": _dir_bytes(os.path.join(table.root, "data")) / max(live, 1),
    }
