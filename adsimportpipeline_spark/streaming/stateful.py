"""Custom stateful streaming operator: in-stream LWW decisions with
``applyInPandasWithState``.

The operator keeps the per-url LWW high-water mark ``(warc_ts, log_offset)``
as STREAMING STATE, so arbitrarily late or duplicated events are classified
without touching the lake: the streaming-native analog of the reference's
per-record "is this newer than what we have?" check (app.py:34-39).  A
post-delete event is 'apply' only if strictly newer than the delete, so no
separate delete flag is stored.  State is checkpointed by Spark, surviving
kill-and-resume.

Emitted per input event: ``decision`` in {'apply', 'stale', 'duplicate'}.

The decisions are relative to the events THIS stream has seen, not to the
table.  A table with history from outside the stream (a preload, a
backfill, a replay under a new checkpoint) holds rows and tombstones the
state never saw: an upsert older than a delete applied before the stream
started is still 'apply' here.  So the decisions cannot stand in for the
table's tombstones, and the lake's apply path
(:func:`..apply.apply_batch`) resolves every batch against the stored rows
and tombstones instead.

The batch body is pandas-vectorized: one concat, one sort by
``(warc_ts, log_offset)`` and shifted compares per group per micro-batch;
no per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: per-url state: LWW high-water mark.  No delete flag is stored — the LWW
#: ordering alone provides the resurrection guard (a post-delete event is
#: 'apply' only if strictly newer than the delete), so the mark is the
#: entire state.
#:
#: COMPATIBILITY: this schema once carried a third ``deleted`` field; the
#: state store pins its schema at checkpoint creation (stateSchemaCheck),
#: so a checkpoint written by that build cannot resume under this one —
#: Spark refuses the query with StateSchemaNotCompatible.  Upgrading a
#: live deployment means a NEW checkpoint dir and a log replay from the
#: start (exactly-once makes the replay a no-op against the lake table);
#: never edit this struct casually.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("max_ts", T.LongType(), True),      # epoch micros
        T.StructField("max_off", T.LongType(), True),
    ]
)

DECISION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("log_offset", T.LongType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("decision", T.StringType(), False),
    ]
)


def _decide_group(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Group body: classify one url's events of this micro-batch against
    its state and advance the high-water mark."""
    url = key[0]
    has_state = state.exists
    if has_state:
        max_ts, max_off = state.get
    else:
        max_ts, max_off = 0, 0  # placeholders; never compared below

    batch = pd.concat(list(pdfs), ignore_index=True)
    ts_us = batch["warc_ts"].astype("int64") // 1000  # pandas ns -> micros
    off = batch["log_offset"].astype("int64")

    # ascending sort by the LWW key: every row then compares only against
    # its predecessor (in-batch) and the state's high-water mark
    keyed = pd.DataFrame({"ts": ts_us, "off": off})
    order = keyed.sort_values(["ts", "off"], kind="mergesort").index
    b = batch.loc[order].reset_index(drop=True)
    bts = keyed["ts"].loc[order].reset_index(drop=True)
    boff = keyed["off"].loc[order].reset_index(drop=True)

    # in-batch exact re-delivery: equal key to the previous (sorted) row
    dup_in_batch = bts.eq(bts.shift(1)) & boff.eq(boff.shift(1))
    if has_state:
        # exact re-delivery of the cross-batch high-water mark
        dup_vs_state = (bts == max_ts) & (boff == max_off)
        # strictly newer than everything seen before this row
        newer_than_state = (bts > max_ts) | (
            (bts == max_ts) & (boff > max_off)
        )
    else:
        # absence IS the sentinel: a magic (-1, -1) mark would classify
        # a first-seen pre-1970 timestamp (negative epoch micros) as
        # 'stale' and silently drop it
        dup_vs_state = pd.Series(False, index=b.index)
        newer_than_state = pd.Series(True, index=b.index)

    decision = pd.Series("stale", index=b.index)
    decision[newer_than_state.to_numpy()] = "apply"
    decision[(dup_in_batch | dup_vs_state).to_numpy()] = "duplicate"

    new_ts, new_off = int(bts.iloc[-1]), int(boff.iloc[-1])
    if not has_state or (new_ts, new_off) > (max_ts, max_off):
        state.update((new_ts, new_off))

    yield pd.DataFrame({
        "url": url,
        "warc_ts": b["warc_ts"],
        "log_offset": b["log_offset"],
        "op": b["op"],
        "decision": decision,
    })


def stateful_lww_decisions(events: DataFrame) -> DataFrame:
    """Streaming transform: change events -> per-event LWW decisions with
    per-url state (exact semantics: an event is 'apply' iff strictly newer
    than every event for its url seen in any earlier batch OR earlier in
    this batch's order)."""
    core = ["url", "warc_ts", "log_offset", "op"]
    return events.select(*core).groupBy("url").applyInPandasWithState(
        _decide_group,
        outputStructType=DECISION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
