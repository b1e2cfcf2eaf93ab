"""Per-stage scaling profile of the CDC replay job.

Runs the exact bench replay (fresh table, every bucket touched) pinned to N
cores with the Spark UI enabled, then dumps per-job / per-stage wall and
task-time metrics from the UI REST API.  Compare a 1-core and a 4-core
run to see which stage fails to scale.

NOTE: unlike bench.py (which boots unpinned and pins the process tree
only for the timed runs), this profiler pins before the JVM spawns —
simpler, and stage-relative numbers are what matter here, not absolute
walls.

Usage:
    python scripts/profile_replay.py gen <log_path> <n_events> <n_urls>
    python scripts/profile_replay.py run <cores> <log_path> <n_events>
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCRATCH = "/dev/shm/bench" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def _fresh_spark(cores: int, name: str, ui: bool):
    from adsimportpipeline_spark.session import get_spark

    extra = dict(json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{}")))
    if ui:
        extra.update({"spark.ui.enabled": "true", "spark.ui.port": "4049"})
    return get_spark(
        name,
        master=f"local[{cores}]",
        shuffle_partitions=max(cores * 2, 16),
        extra_conf=extra,
    )


def gen(log_path: str, n_events: int, n_urls: int) -> None:
    from adsimportpipeline_spark.datagen import GenSpec, write_change_log

    spark = _fresh_spark(os.cpu_count() or 8, "profile-datagen", ui=False)
    if not os.path.isdir(log_path):
        write_change_log(
            spark, log_path,
            GenSpec(n_events=n_events, n_urls=n_urls, seed=42),
            n_files=64, ordered=False,
        )
    spark.stop()


def run(cores: int, log_path: str, n_events: int) -> None:
    try:
        os.sched_setaffinity(0, set(range(cores)))
    except (AttributeError, OSError):
        pass

    from pyspark.sql import functions as F

    from adsimportpipeline_spark.apply import apply_batch
    from adsimportpipeline_spark.functions.html import html_to_text
    from adsimportpipeline_spark.lake.table import LakeTable
    from adsimportpipeline_spark.schema import CHANGE_EVENT_SCHEMA, PAGES_SCHEMA
    from adsimportpipeline_spark.sources.changelog import read_change_log

    spark = _fresh_spark(cores, f"profile-replay-{cores}", ui=True)
    # identical warmups to bench.replay_child
    spark.range(0, cores * 4, 1, cores * 4).select(
        html_to_text(F.encode(F.lit("<p>warm</p>"), "utf-8"))
    ).write.format("noop").mode("overwrite").save()
    warm_root = tempfile.mkdtemp(prefix=f"profwarm{cores}-", dir=SCRATCH)
    warm_table = LakeTable.create(spark, warm_root, PAGES_SCHEMA, n_buckets=128)
    files = sorted(glob.glob(os.path.join(log_path, "part-*")))
    warm_files = files[: max(int(len(files) * float(os.environ.get("PROFILE_WARM_FRAC", "0.125"))), 1)]
    warm_df = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*warm_files)
    apply_batch(warm_table, warm_df, batch_id=0, prune_buckets=False)
    shutil.rmtree(warm_root, ignore_errors=True)

    app_id = spark.sparkContext.applicationId

    def _jobs_snapshot():
        url = f"http://localhost:4049/api/v1/applications/{app_id}/jobs"
        return json.loads(urllib.request.urlopen(url, timeout=10).read())

    jobs_before = {j["jobId"] for j in _jobs_snapshot()}

    walls = []
    for _ in range(int(os.environ.get("PROFILE_RUNS", "1"))):
        root = tempfile.mkdtemp(prefix=f"proftbl{cores}-", dir=SCRATCH)
        table = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=128)
        df = read_change_log(spark, log_path)
        t0 = time.time()
        stats = apply_batch(table, df, batch_id=0, prune_buckets=False)
        walls.append(round(time.time() - t0, 2))
        shutil.rmtree(root, ignore_errors=True)
    wall = walls[-1]

    jobs = [j for j in _jobs_snapshot() if j["jobId"] not in jobs_before]
    stages_url = f"http://localhost:4049/api/v1/applications/{app_id}/stages?status=complete"
    stages = json.loads(urllib.request.urlopen(stages_url, timeout=10).read())
    stage_by_id = {s["stageId"]: s for s in stages}

    out = {
        "cores": cores,
        "wall_sec": round(wall, 2),
        "walls": walls,
        "events_per_sec": round(n_events / wall, 1),
        "phases": stats.get("phases", {}),
        "jobs": [],
    }
    for j in sorted(jobs, key=lambda x: x["jobId"]):
        jd = {
            "jobId": j["jobId"],
            "name": (j.get("name") or "")[:70],
            "submitted": j.get("submissionTime"),
            "completed": j.get("completionTime"),
            "stages": [],
        }
        for sid in sorted(j.get("stageIds", [])):
            s = stage_by_id.get(sid)
            if not s:
                continue
            jd["stages"].append({
                "stageId": sid,
                "name": (s.get("name") or "")[:60],
                "tasks": s.get("numCompleteTasks"),
                "executorRunTime_s": round(s.get("executorRunTime", 0) / 1000.0, 2),
                "executorCpuTime_s": round(s.get("executorCpuTime", 0) / 1e9, 2),
                "firstLaunch": s.get("firstTaskLaunchedTime"),
                "completion": s.get("completionTime"),
                "shuffleWrite_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                "shuffleRead_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                "output_mb": round(s.get("outputBytes", 0) / 1e6, 1),
            })
        out["jobs"].append(jd)
    spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    if sys.argv[1] == "gen":
        gen(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
    else:
        run(int(sys.argv[2]), sys.argv[3], int(sys.argv[4]))
