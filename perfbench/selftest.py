"""Self-test of the benchmark at its smallest scale (``--scale tiny``: the sf0.001
test tables, a 10k-event bulk log).

    python3 perfbench/selftest.py

1. Runs every workload (the two BENCHMARK.json gates and ``bulk_replay``)
   once untraced and once traced, and asserts that each run is correct and
   emits exactly the end-to-end or per-layer metric names of
   BENCHMARK.json, each with its unit.
2. Asserts that the table checker rejects a corrupted result: one text byte
   flipped in a committed data file, and one tombstone dropped.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402


def check_emitted_metrics(spec: dict) -> None:
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    from run import WORKLOAD_NAMES

    for w in WORKLOAD_NAMES:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", "7", "--seconds", "3", "--trace", str(trace), "--scale", "tiny"]
            res = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            if res.returncode != 0:
                sys.stderr.write(res.stderr[-3000:])
                raise AssertionError(f"{w} trace={trace}: exit {res.returncode}")
            last = json.loads(res.stdout.strip().splitlines()[-1])
            assert set(last) == {"correct", "attempted", "failed", "metrics"}, last.keys()
            assert last["correct"] and last["failed"] == 0, (w, trace, res.stdout[-2000:])
            assert last["attempted"] >= 1
            got = {k: m["unit"] for k, m in last["metrics"].items()}
            assert got == want[trace], (w, trace, set(got) ^ set(want[trace]))
            for k, m in last["metrics"].items():
                assert isinstance(m["value"], float), (k, m)
            print(f"ok  {w} trace={trace}: {len(got)} metrics, "
                  f"{last['attempted']} operations", flush=True)


def check_checker_rejects_corruption() -> None:
    import pyarrow.parquet as pq

    import inputs
    import oracle

    run_dir = common.make_run_dir()
    spark, _ = common.boot_session(run_dir, trace=False)
    try:
        from adsimportpipeline_spark.apply import apply_batch, pages_schema_for
        from adsimportpipeline_spark.lake.table import LakeTable
        from adsimportpipeline_spark.schema import CHANGE_EVENT_SCHEMA

        log, _ = inputs.bulk_log(spark, 7, inputs.TINY)
        files = inputs.parquet_files(log)
        ev = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*files)
        table = LakeTable.create(spark, os.path.join(run_dir, "t"), pages_schema_for(ev.schema),
                                 n_buckets=inputs.TINY.n_buckets)
        apply_batch(table, ev, batch_id=0, prune_buckets=False)
        want = oracle.lww_oracle(files)

        def problems() -> list[str]:
            pages, tombs = oracle.table_state(table)
            return oracle.diff("pages", pages, want["pages"]) + oracle.diff(
                "tombstones", tombs, want["tombs"])

        assert problems() == [], problems()

        def rewrite(path: str, t) -> None:
            """Replace a committed file and drop its Hadoop checksum sidecar,
            as silent corruption would leave it."""
            pq.write_table(t, path)
            crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)

        m = table.manifest()
        data_file = next(e["path"] for es in m["buckets"].values() for e in es)
        saved = data_file + ".orig"
        shutil.copyfile(data_file, saved)
        t = pq.read_table(data_file)
        texts = t.column("text").to_pylist()
        s = texts[0]
        texts[0] = chr(ord(s[0]) ^ 1) + s[1:]  # one byte flipped
        t = t.set_column(t.schema.get_field_index("text"), "text", [texts])
        rewrite(data_file, t)
        assert any(p.startswith("pages") for p in problems()), "flipped text byte not caught"
        os.replace(saved, data_file)
        assert problems() == []
        print("ok  checker rejects one flipped text byte", flush=True)

        tomb_file = m["tombstone_files"][0]["path"]
        t = pq.read_table(tomb_file)
        assert t.num_rows > 0
        rewrite(tomb_file, t.slice(1))
        assert any(p.startswith("tombstones") for p in problems()), "dropped tombstone not caught"
        print("ok  checker rejects one dropped tombstone", flush=True)
    finally:
        common.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_checker_rejects_corruption()
    check_emitted_metrics(spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
