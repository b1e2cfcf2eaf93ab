"""Repository benchmark for the CDC engine: three workloads driven through the
package's public API in one local[nproc] Spark process per run.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 12 --trace 0

prints diagnostic JSON lines and, last, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--workload all`` runs the three workloads one after another, each in its
own process, and prints the named workload metrics of all three.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOAD_NAMES = ["bulk_replay", "cdc_tail", "query_suite"]

#: the end-to-end metrics every workload reports, with their units
END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("op_mean_s", "s"),
              ("op_p50_s", "s"), ("op_p90_s", "s")]

#: the workload-specific figures each workload prints on its diagnostics line
NAMED_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "bulk_events_per_s": "events/s",
    "tail_latency_p50_s": "s", "tail_latency_p90_s": "s",
    "lookup_latency_p50_s": "s", "lookup_latency_p90_s": "s",
    "query_cdc_s": "s", "query_tpch_s": "s", "query_neardup_s": "s",
    "lsh_ann_recall_at_5": "ratio", "ivf_ann_recall_at_5": "ratio",
    "near_dup_pair_recall": "ratio",
}


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def run_one(args) -> int:
    import inputs
    import workloads

    scale = inputs.TINY if args.scale == "tiny" else inputs.FULL
    run_dir = common.make_run_dir()
    rss = common.RssSampler().start()
    busy_frac, steal_ticks = common.window_probes()
    steal0 = steal_ticks()
    spark = None
    try:
        spark, boot_s = common.boot_session(run_dir, bool(args.trace))
        ambient = busy_frac()
        tracer = None
        if args.trace:
            import tracing as tr

            tracer = tr.Tracer(spark)
            tr.install_package_spans(tracer)
        window: dict = {}

        def window_end() -> None:
            window["peak_mb"] = rss.stop()
            window["steal_s"] = (steal_ticks() - steal0) / 100.0

        ctx = workloads.Ctx(spark, args.seed, args.seconds, scale, run_dir, tracer, window_end)
        out = workloads.WORKLOADS[args.workload](ctx)
        peak_mb, steal_s = window["peak_mb"], window["steal_s"]

        ops = out.ops
        if not ops:
            raise RuntimeError("no operation completed in the window")
        lk_lat = common.lookup_latencies(out.lookups)
        setup_s = boot_s + out.setup_s
        e2e = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_mb,
            "op_mean_s": sum(ops) / len(ops),
            "op_p50_s": common.percentile(ops, 50),
            "op_p90_s": common.percentile(ops, 90),
        }
        lag = max([r["sent"] - r["due"] for r in out.lookups]
                  + out.layer.get("arrival_lags", []) + [0.0])
        named = {"setup_s": setup_s, "peak_rss_mb": peak_mb}
        if args.workload == "cdc_tail":
            named.update(tail_latency_p50_s=e2e["op_p50_s"], tail_latency_p90_s=e2e["op_p90_s"])
        if lk_lat:
            named.update(lookup_latency_p50_s=common.percentile(lk_lat, 50),
                         lookup_latency_p90_s=common.percentile(lk_lat, 90))
        for k in NAMED_UNITS:
            if k in out.diag:
                named[k] = out.diag[k]
        attempted = out.op_attempts + len(out.lookups)
        failed = out.op_failures + out.lookup_failures
        diag = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "named_metrics": {k: _metric(v, NAMED_UNITS[k]) for k, v in named.items()},
            "samples": {"operations": len(ops), "lookups": len(lk_lat)},
            "window_s": out.window[1] - out.window[0],
            "input_gen_s": out.gen_s, "generator_lag_s": lag,
            "steal_s": steal_s, "ambient_busy_frac": ambient,
            "boot_s": boot_s,
            "peak_rss_mb_by_process": {k: v / 2**20 for k, v in rss.peak_by_name.items()},
            **{k: v for k, v in out.diag.items() if k not in NAMED_UNITS},
            "problems": out.problems[:20],
        }

        if not args.trace:
            metrics = {k: _metric(e2e[k], u) for k, u in END_TO_END}
        else:
            import layers
            import tracing as tr

            execs = tr.sql_executions(spark, out.window[0])
            tracer.restore()
            overhead = _span_cost(tracer) * len(tracer.spans) / max(
                out.window[1] - out.window[0], 1e-9)
            facts = {"boot_s": boot_s, "setup_s": setup_s, "generator_lag_s": lag,
                     "steal_s": steal_s, "ambient_busy_frac": ambient,
                     "tracing_overhead_frac": overhead}
            values = layers.compute(out, tracer.spans, execs, facts)
            metrics = {name: _metric(values[name], unit) for name, unit in layers.METRICS}
            tracer.dump(os.path.join(common.WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        print(json.dumps({"diagnostics": diag}, default=str))
        print(json.dumps({"correct": failed == 0 and not out.problems,
                          "attempted": attempted, "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            common.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _span_cost(tracer) -> float:
    """Seconds one child span costs (a top span adds two Spark tag calls,
    which the per-span figure covers on average with the many child
    spans)."""
    n = 2000
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer._child("probe"):
            pass
    cost = (time.perf_counter() - t0) / n
    del tracer.spans[-n:]
    return cost


def run_all(args) -> int:
    """The three workloads in turn, each its own process; prints every named
    workload metric."""
    named: dict[str, dict] = {}
    ok = True
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", "0", "--scale", args.scale]
        res = subprocess.run(cmd, capture_output=True, text=True)
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or len(lines) < 2:
            sys.stderr.write(res.stderr[-4000:])
            return res.returncode or 1
        diag = json.loads(lines[-2])["diagnostics"]
        last = json.loads(lines[-1])
        ok = ok and last["correct"]
        named[w] = diag["named_metrics"]
        for k, m in diag["named_metrics"].items():
            print(f"{w:12s} {k:24s} {m['value']:.4f} {m['unit']}")
    print(json.dumps({"correct": ok, "named_metrics": named}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is the self-test's scale")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not common.package_present():
        sys.stderr.write("perfbench: the adsimportpipeline_spark package and bench.py "
                         "must sit beside perfbench/ (run from a repository checkout)\n")
        return 2
    if args.workload == "all":
        return run_all(args)
    try:
        return run_one(args)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
