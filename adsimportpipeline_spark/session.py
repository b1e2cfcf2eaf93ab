"""SparkSession factory with scale-aware defaults.

Settings chosen for the CDC workload (large shuffles keyed on ``url``,
Arrow-batched pandas UDFs, AQE for skew):

- AQE on (runtime coalesce + skew-join splitting),
- shuffle partitions sized to parallelism (overridable),
- Arrow enabled for pandas UDF transfer,
- parquet pushdown on (default, made explicit for documentation).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor python workers (the local-mode analog of
    ``spark-submit --py-files pkg.zip`` the north_rule deploys with)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(), "adsimportpipeline_spark_pyfiles")
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)


def ensure_shipped(spark: SparkSession) -> SparkSession:
    """Idempotently ship the package into an externally-created session
    (e.g. the verification driver's) so pandas UDFs resolve on workers."""
    marker = "adsimportpipeline.shipped"
    try:
        if spark.conf.get(marker, None) != "true":
            _ship_package(spark)
            spark.conf.set(marker, "true")
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "adsimportpipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    # shuffle/spill dirs on tmpfs when available: local-mode shuffle over a
    # virtio disk serializes concurrent writers and inverts core scaling; on
    # a real cluster this is the node-local NVMe. Falls back to the default
    # temp dir when /dev/shm is absent.
    local_dir = None
    if os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the lake reads files its manifest already lists (read_buckets over
        # 64 bucket files, a stream micro-batch of ~34 files): above the
        # default 32-path threshold Spark "lists" them in a 64-task
        # "Listing leaf files and directories" job, measured at 0.29-0.38 s
        # per tail batch, serial at plan time.  Stat-ing 1024 known paths on
        # the driver is cheaper than that job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # INT96 (Spark's legacy default) carries NO parquet min/max
        # statistics, which kills both the lake's manifest column metrics
        # and scan-side row-group skipping on warc_ts; TIMESTAMP_MICROS is
        # the modern encoding every reader understands
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # zstd over default snappy: html payloads compress ~3-5x better, and
        # on a memory-bandwidth-bound node (or tmpfs scratch) every written /
        # re-read byte is bus traffic — trading decompression ALU (which
        # scales with cores) for bandwidth (which doesn't) is the right side
        # of the exchange at every cluster size
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # throughput collector for a batch engine: G1's concurrent mark /
        # refinement threads compete with the (few) worker cores and its
        # region management costs more at this heap churn (shuffle + parquet
        # encode).  Measured on the replay: better steady walls at every
        # core count, ~2x better cold first-run at 4 cores, and a
        # consistently higher N->4N scaling ratio.  Cluster deployments set
        # the same flag via spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark
