"""The micro-batch apply path: one bucket shuffle per micro-batch.

This is the Spark rebuild of the reference's task chain
``task_find_new_records -> task_read_records -> task_merge_metadata ->
update_storage`` (tasks.py:34-119, app.py:24-74) collapsed into one
DataFrame plan executed per micro-batch inside ``foreachBatch``.  The table
is the last-writer-wins (LWW) state of the change log: per url, the max
``(warc_ts, log_offset)`` event seen, unless a newer delete exists.  The
plan Spark builds:

1. **Bucket pruning** (one narrow job): the table buckets holding the
   batch's urls.  Only those are read and rewritten (the reference's
   changed-record short-circuit, tasks.py:52-64).
2. **Merge inputs**, all in the table's row schema plus a ``_kind`` tag:
   the batch's LWW winner rows (:func:`lww_winner_rows`: an argmax over
   the ordering keys, joined back to the events on the winning
   ``log_offset``; Spark's planner picks the join from the batch's size
   estimate, a broadcast for a tail batch, with no job to measure it;
   explicit salting via :func:`lww_dedup_salted` when ``salted``), the
   stored rows of the touched buckets, and their tombstones reduced to the
   latest per url (a partial aggregate, so a hot url's delete history
   never reaches one task whole).
3. **One payload shuffle**: ``repartition(n, _bucket)`` of the union, then
   ``sortWithinPartitions(url, warc_ts desc, log_offset desc, _kind)``.
   ``n`` is one wave of tasks (:func:`bucket_shuffle_width`), capped by
   the touched bucket count, for a tail batch and a bulk replay alike.
4. **One Arrow pass** (``mapInArrow``): the first row per url wins.  A
   stored row is emitted unchanged; a winning batch upsert gets its
   ``text`` extracted (HTML->text runs for applied upserts only); deletes
   and tombstones emit nothing.  Ties sort stored rows first, so a
   re-delivered event never rewrites its row, and a tombstone blocks every
   older upsert, so no stale event resurrects a deleted url (app.py:34-39,
   54-67).
5. **Atomic commit** of the rewritten buckets (written as shuffled, no
   second repartition) + tombstone audit appends + per-partition lineage +
   the commit epoch, in one manifest flip (exactly-once under
   foreachBatch replays).

With no stored rows and no tombstones (a fresh table, a bulk replay) the
same plan is the winner rows' single bucket shuffle and extraction pass.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from .evolve import align_to_schema, reconcile_schema
from .lake.table import (
    CommitConflictError,
    LakeTable,
    bucket_expr,
    bucket_shuffle_width,
)
from .operators.lww import lww_dedup_salted, lww_winner_rows
from .schema import LINEAGE_SCHEMA, OP_DELETE, TOMBSTONE_SCHEMA

# not called here; kept importable from this module because perfbench's
# per-layer tracer wraps these two names in it
from .operators.cdc import tombstone_guard  # noqa: F401
from .operators.lww import lww_dedup_semi  # noqa: F401

#: ``_kind`` tags of the merge rows: a stored row, a delete (a batch delete
#: or a stored tombstone; it wins by emitting nothing), a batch upsert.  On
#: an equal (url, warc_ts, log_offset) the lower tag sorts first and wins.
KIND_STORED, KIND_DELETE, KIND_UPSERT = 0, 1, 2

#: every this-many batch ids, ``apply_batch`` folds the tombstone and
#: lineage append branches (batch ids ending the period, ``id % 32 == 31``)
COMPACT_APPENDS_EVERY = 32


def pages_schema_for(batch_schema: T.StructType) -> T.StructType:
    """Target row schema for a change-event schema: drop ``op``, add ``text``
    right after ``html`` (schema evolution on the stream flows through)."""
    out: list[T.StructField] = []
    for f in batch_schema.fields:
        if f.name == "op":
            continue
        out.append(f)
        if f.name == "html":
            out.append(T.StructField("text", T.StringType(), True))
    return T.StructType(out)


def _first_per_key(key: str, out_cols: list[str]):
    """The ``mapInArrow`` body of the merge: input is one bucket group,
    sorted by (key, newest first, ``_kind``); output is the first row of
    each key when it is a stored row (as is) or a batch upsert (with
    ``text`` extracted).  The key comparison is vectorized; the last key of
    each Arrow batch is carried into the next, so a key split across
    batches still keeps only its first row."""
    text_at, html_at = out_cols.index("text"), out_cols.index("html")

    def run(it: "Iterator") -> "Iterator":
        import pyarrow as pa
        import pyarrow.compute as pc

        from .functions.html import extract_text_arrow

        prev = None
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            keys = batch.column(batch.schema.get_field_index(key))
            head = pa.array([prev is None or keys[0].as_py() != prev])
            first = pa.concat_arrays(
                [head, pc.not_equal(keys.slice(1), keys.slice(0, n - 1))]
            )
            prev = keys[n - 1].as_py()
            kind = batch.column(batch.schema.get_field_index("_kind"))
            stored = batch.filter(pc.and_(first, pc.equal(kind, KIND_STORED)))
            if stored.num_rows:
                yield stored.select(out_cols)
            ups = batch.filter(pc.and_(first, pc.equal(kind, KIND_UPSERT)))
            if ups.num_rows:
                ups = ups.select(out_cols)
                cols = list(ups.columns)
                cols[text_at] = extract_text_arrow(ups.column(html_at))
                # same field flags as the stored rows' batches: one stream
                # carries one schema
                yield pa.RecordBatch.from_arrays(cols, schema=ups.schema)

    return run


def _merged_rows(
    table: LakeTable,
    m: dict,
    batch_df: DataFrame,
    touched: list[int],
    evolved: T.StructType,
    salted: bool,
) -> DataFrame:
    """The rows the touched buckets hold after this batch, tagged with
    ``_kind`` (stored or applied upsert), shuffled by ``_bucket``: batch
    winners, stored rows and reduced tombstones through ONE bucket shuffle
    and ONE Arrow pass (steps 2-4 of the module docstring)."""
    key, nb = m["key"], m["n_buckets"]
    mschema = T.StructType(
        evolved.fields + [T.StructField("_kind", T.ByteType(), False)]
    )

    def tagged(df: DataFrame, kind) -> DataFrame:
        return align_to_schema(df.withColumn("_kind", kind.cast("byte")), mschema)

    if salted:
        winners = lww_dedup_salted(batch_df, key)
    else:
        winners = lww_winner_rows(batch_df, key, unique_order_col="log_offset")
    # a NULL op is no upsert: like a delete it replaces, and emits nothing
    parts = [tagged(winners, F.when(F.col("op") != OP_DELETE, KIND_UPSERT)
                    .otherwise(KIND_DELETE))]
    if any(m["buckets"].get(str(b)) for b in touched):
        parts.append(tagged(table.read_buckets(touched, m), F.lit(KIND_STORED)))
    if m["tombstone_files"]:
        tombs = table.read_tombstones(TOMBSTONE_SCHEMA, m).withColumnRenamed("url", key)
        if len(touched) < nb:
            tombs = tombs.filter(bucket_expr(key, nb).isin(touched))
        latest = F.max(F.struct("deleted_ts", "log_offset")).alias("_t")
        tombs = tombs.groupBy(key).agg(latest).select(
            key,
            F.col("_t.deleted_ts").alias("warc_ts"),
            F.col("_t.log_offset").alias("log_offset"),
        )
        parts.append(tagged(tombs, F.lit(KIND_DELETE)))
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.union(p)

    width = bucket_shuffle_width(batch_df.sparkSession, len(touched))
    shuffled = (
        merged.withColumn("_bucket", bucket_expr(key, nb))
        .repartition(width, F.col("_bucket"))
        .sortWithinPartitions(
            key, F.col("warc_ts").desc(), F.col("log_offset").desc(), "_kind"
        )
    )
    out_cols = [f.name for f in mschema.fields]
    return shuffled.mapInArrow(_first_per_key(key, out_cols), mschema)


def apply_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: int,
    epoch_source: str = "cdc",
    salted: bool = False,
    prune_buckets: bool = True,
    keep_applied: list | None = None,
) -> dict:
    """Apply one micro-batch of change events. Returns stats. Idempotent:
    re-delivery of an already-committed batch_id is a no-op.

    ``keep_applied``: when a list is passed, the merge output is persisted
    (the write job materializes it) and two frames are appended: first the
    applied upserts WITH their extracted ``text``, then the persisted merge
    output they are filtered from.  The caller owns the unpersist of every
    element.  A derived-index maintainer (update_lsh_index) can then
    consume the rows this batch actually applied with no table read-back
    and no second HTML->text extraction.  The persisted frame is every row
    the touched buckets hold after the batch, stored rows included: its
    size follows the touched buckets (most of the table for a tail batch
    that touches most buckets), not the batch, so pass ``keep_applied``
    only when the applied rows are read (the replay runner does so only
    with an LSH index attached).  Empty when the batch was an epoch no-op
    (caller falls back to a table read for that crash-recovery case)."""
    if batch_id <= table.last_epoch(epoch_source):
        return {"batch_id": batch_id, "skipped": True}

    t0 = time.time()
    phases: dict[str, float] = {}

    def _mark(name: str) -> None:
        now = time.time()
        phases[name] = round(now - (t0 + sum(phases.values())), 3)

    m = table.manifest()
    key, nb = m["key"], m["n_buckets"]
    # batch_df is deliberately NOT cached: its passes (touched discovery,
    # lineage stats, winners, tombstone audit) each prune to a few columns,
    # so columnar re-reads from the source beat materializing full rows
    _mark("manifest_read")  # time since t0: the manifest open above

    # bucket pruning: which table buckets does this batch touch?  A
    # narrow url-column scan of the batch; a bulk replay touches
    # every bucket anyway — prune_buckets=False skips the job.
    if prune_buckets:
        touched = [
            r[0]
            for r in batch_df.select(bucket_expr(key, nb).alias("b")).distinct().collect()
        ]
    else:
        touched = list(range(nb))
    has_tombs = bool(m["tombstone_files"])
    evolved = reconcile_schema(table.schema(m), pages_schema_for(batch_df.schema))
    _mark("dedup_and_touched")

    # Passed as a thunk: the merge's driver-side plan construction (the
    # stored-bucket and tombstone listings, analysis) then runs in
    # overwrite_buckets' pool thread, overlapping the tombstone/lineage
    # append jobs.
    def new_data() -> DataFrame:
        merged = _merged_rows(table, m, batch_df, touched, evolved, salted)
        if keep_applied is not None:
            merged = merged.persist(StorageLevel.MEMORY_AND_DISK)
            keep_applied.append(
                merged.filter(F.col("_kind") == KIND_UPSERT).drop("_kind")
            )
            keep_applied.append(merged)
        return merged.drop("_kind")

    # tombstone audit: every delete event in the batch (reference
    # app.py:15-21 appends every delete to change_log).  Anti-join
    # against already-stored tombstones so a duplicate delivery that
    # lands in a *different* micro-batch than its original does not
    # append a second (url, ts, offset) row — the audit log stays a
    # distinct set, matching replay_oracle's semantics exactly.  Passed
    # as a THUNK: its driver-side plan construction runs in
    # overwrite_buckets' pool thread, overlapped with the main write.
    def _tomb_appends() -> DataFrame:
        t = (
            batch_df.filter(F.col("op") == OP_DELETE)
            .select(
                F.col(key).alias("url"),
                F.col("warc_ts").alias("deleted_ts"),
                F.lit("deleted").alias("key"),
                F.col("log_offset"),
            )
            .distinct()
        )
        if has_tombs:
            t = t.join(
                table.read_tombstones(TOMBSTONE_SCHEMA, m).select(
                    "url", "deleted_ts", "log_offset"
                ),
                ["url", "deleted_ts", "log_offset"],
                "left_anti",
            )
        return t

    # lineage: per-source-partition offset range + row counts
    # (north_rule).  A pure transformation — no driver collect; plan
    # built in the pool thread, write runs as a concurrent Spark job
    # alongside the data write inside overwrite_buckets.  The reported
    # merge latency is captured HERE (plan time), not at thunk call.
    latency_ms = (time.time() - t0) * 1000.0

    def _lineage_df() -> DataFrame:
        ldf = (
            batch_df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.min("log_offset").alias("offset_start"),
                F.max("log_offset").alias("offset_end"),
                F.count(F.lit(1)).alias("rows_applied"),
            )
            .select(
                F.lit(int(batch_id)).alias("batch_id"),
                "partition_id",
                "offset_start",
                "offset_end",
                "rows_applied",
                F.lit(float(latency_ms)).alias("merge_latency_ms"),
                F.lit(int(batch_id)).alias("commit_epoch"),
            )
        )
        return align_to_schema(ldf, LINEAGE_SCHEMA)

    _mark("plan_build")
    version = table.overwrite_buckets(
        new_data,
        touched,
        epoch_source=epoch_source,
        epoch=batch_id,
        new_schema=evolved,
        tombstone_appends=_tomb_appends,
        lineage_appends=_lineage_df,
        pre_partitioned=True,
        # revalidation parent = the snapshot THIS batch's plan read at
        # its top (bucket pruning, stored rows, epochs all came from it)
        parent_version=m["version"],
    )
    _mark("commit_write")
    # periodic fold of the append-only tombstone/lineage branches keeps
    # per-batch guard reads and the manifest O(1) over the table's
    # lifetime (its own atomic commit; a crash between the two commits
    # loses only the fold, never data).  The fold is COSMETIC: losing a
    # CAS to a concurrent maintenance job (compact/expire between the
    # data commit above and here) must not kill the streaming query —
    # absorb one conflict with a fresh re-plan, and if the table is
    # racing that hard this trigger just skips; the next scheduled
    # batch folds everything anyway.
    if batch_id % COMPACT_APPENDS_EVERY == COMPACT_APPENDS_EVERY - 1:
        try:
            table.compact_appends(retries=1)
        except CommitConflictError:
            pass
        _mark("compact_appends")
    return {
        "batch_id": batch_id,
        "skipped": False,
        "version": version,
        "touched_buckets": len(touched),
        "latency_ms": latency_ms,
        "phases": phases,
        "committed_at": datetime.now(timezone.utc).isoformat(),
    }
