"""Structured Streaming wiring: change stream -> foreachBatch apply.

Replaces the reference's RabbitMQ/Celery orchestration (config.py:38-39
at-least-once) with checkpointed foreachBatch + the lake's commit-epoch
manifest => exactly-once end-to-end.  ``trigger(availableNow=True)`` is the
bounded-replay mode (process the whole backlog as micro-batches, then stop);
kill-and-resume works because the checkpoint replays the in-flight batch id
and the epoch check makes the replay a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..apply import apply_batch
from ..lake.table import LakeTable
from ..sources.changelog import stream_change_log


def _apply_and_maintain_index(table, index, batch_df, batch_id, decision_col=None, **apply_kwargs):
    """apply_batch + incremental LSH index maintenance, shared by both
    replay modes.  The applied-upserts frame apply_batch materializes
    (``keep_applied`` — text extracted exactly once, shared with the write
    job) feeds the index with no table read-back.  It is filtered from the
    persisted merge output, which covers the touched buckets (their stored
    rows too), so only an attached index asks for it.  The epoch no-op
    re-delivery (crash between the table and index commits) falls back to
    reading the applied rows back from the committed table.  The persisted
    frame's lifetime covers apply_batch itself, so a commit that raises
    AFTER the persist (e.g. CommitConflictError) cannot leak pinned
    storage.

    ``decision_col`` (the stateful mode's in-stream LWW decision): rows
    the state already rejected are dropped before the apply, except
    deletes of ANY decision, which keep flowing for the tombstone audit
    (reference appends every delete).  The read-back fallback reads the
    whole batch minus the decision column."""
    from ..operators.incremental_dedup import (
        applied_winner_texts,
        update_lsh_index,
    )

    raw_batch_df = batch_df
    if decision_col is not None:
        raw_batch_df = batch_df.drop(decision_col)
        batch_df = batch_df.filter(
            (F.col(decision_col) == "apply") | (F.col("op") == "delete")
        )
    ka: list = [] if index is not None else None
    try:
        stats = apply_batch(
            table, batch_df, batch_id, keep_applied=ka,
            decision_col=decision_col, **apply_kwargs,
        )
        if index is not None:
            if ka:
                applied = ka[0].select("url", "warc_ts", "log_offset", "text")
            else:
                applied = applied_winner_texts(table, raw_batch_df)
            update_lsh_index(index, applied, batch_id)
        return stats
    finally:
        for c in ka or []:
            c.unpersist()


def _replay(
    spark: SparkSession,
    stream: DataFrame,
    table_root: str,
    checkpoint: str,
    query_name: str,
    available_now: bool,
    collect_stats: list | None,
    lsh_index_root: str | None,
    **apply_kwargs,
) -> StreamingQuery | None:
    """The replay loop of both modes: a checkpointed foreachBatch sink
    over ``stream`` that applies each micro-batch with
    :func:`_apply_and_maintain_index` (``apply_kwargs`` select the mode)."""
    table = LakeTable.load(spark, table_root)
    index = None
    if lsh_index_root is not None:
        from ..operators.incremental_dedup import create_lsh_index

        index = create_lsh_index(spark, lsh_index_root)

    def _apply(batch_df, batch_id):
        stats = _apply_and_maintain_index(
            table, index, batch_df, batch_id, **apply_kwargs
        )
        if collect_stats is not None:
            collect_stats.append(stats)

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )
    if not available_now:
        return writer.start()
    writer.trigger(availableNow=True).start().awaitTermination()
    return None


def run_replay(
    spark: SparkSession,
    log_path: str,
    table_root: str,
    checkpoint: str,
    max_files_per_trigger: int | None = 8,
    salted: bool = False,
    available_now: bool = True,
    collect_stats: list | None = None,
    lsh_index_root: str | None = None,
) -> StreamingQuery | None:
    """Replay the change log into the lake table.  With the default
    ``available_now=True`` it blocks until the log is drained and returns
    None; with ``available_now=False`` it starts a CONTINUOUS query and
    returns the live :class:`StreamingQuery` — keep the handle, it is the
    only way to stop/await the stream.

    ``lsh_index_root``: when given, the MinHash-LSH band index
    (:mod:`..operators.incremental_dedup`) is maintained in the same
    micro-batch loop — per-batch work stays O(batch) — so near-dup
    candidates are queryable at any point via
    :func:`~..operators.incremental_dedup.lsh_index_pairs` without a
    full-corpus recompute.  Exactly-once composes: the main table commits
    its epoch FIRST; a crash between the two commits replays the batch,
    the table apply no-ops on its epoch, and the index (whose epoch never
    landed) catches up — both sides idempotent, proven by
    tests/test_incremental_dedup.py."""
    return _replay(
        spark, stream_change_log(spark, log_path, max_files_per_trigger),
        table_root, checkpoint, "cdc-replay", available_now, collect_stats,
        lsh_index_root, salted=salted,
    )


def run_replay_stateful(
    spark: SparkSession,
    log_path: str,
    table_root: str,
    checkpoint: str,
    max_files_per_trigger: int | None = 8,
    available_now: bool = True,
    collect_stats: list | None = None,
    lsh_index_root: str | None = None,
) -> StreamingQuery | None:
    """State-store replay mode: LWW resolved IN-STREAM with
    ``applyInPandasWithState`` (per-url high-water mark as streaming state),
    the sink applying only 'apply' rows and skipping the tombstone read, so
    per-batch delete-history work stays proportional to the batch rather
    than the table (the operator's whole point).

    Exactly-once composition: the state store checkpoints with the query, so
    after a kill Spark replays the in-flight micro-batch against the
    rolled-back state version and reproduces identical decisions; the lake's
    commit-epoch manifest then makes re-application of an already-committed
    batch a no-op — same guarantee as :func:`run_replay`, proven by the
    kill-and-resume test (tests/test_stateful_streaming.py).

    ``lsh_index_root`` maintains the MinHash-LSH band index in the same
    loop, exactly as in :func:`run_replay`: the table epoch commits first,
    and the index consumes the applied-upserts frame apply_batch
    materialized (``keep_applied``), so state-rejected rows are never
    indexed at all — they are absent from the applied set by construction.
    Only the crash-between-commits re-delivery falls back to reading the
    applied rows back from the committed table."""
    from .stateful import stateful_lww_decisions

    stream = stream_change_log(spark, log_path, max_files_per_trigger)
    return _replay(
        spark, stateful_lww_decisions(stream, passthrough_payload=True),
        table_root, checkpoint, "cdc-replay-stateful", available_now,
        collect_stats, lsh_index_root, decision_col="decision",
    )
