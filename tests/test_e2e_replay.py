"""End-to-end: synthetic CDC log -> replay -> final state == pure-Python oracle.

The golden-final-state strategy mirrors the reference's fixture tests
(tests/stubdata/mergerdata.py golden dicts; SURVEY.md §5) upgraded to a
full-log equivalence assert: row counts, per-url latest text bytes
(byte-identical), tombstone handling — the north_star correctness gate.
"""

from __future__ import annotations

import shutil

import pytest

from adsimportpipeline_spark.apply import apply_batch
from adsimportpipeline_spark.datagen import GenSpec, generate_change_log, replay_oracle, write_change_log
from adsimportpipeline_spark.lake.table import LakeTable
from adsimportpipeline_spark.schema import PAGES_SCHEMA, TOMBSTONE_SCHEMA
from adsimportpipeline_spark.streaming.runner import run_replay

SPEC = GenSpec(n_events=8000, n_urls=400, seed=7)


@pytest.fixture(scope="module")
def events_and_oracle(spark):
    df = generate_change_log(spark, SPEC)
    rows = [r.asDict() for r in df.collect()]
    pages, tombs = replay_oracle(rows)
    return df, rows, pages, tombs


def _assert_state_matches(table, pages, tombs):
    got = {r["url"]: r.asDict() for r in table.read().collect()}
    assert len(got) == len(pages), f"row count {len(got)} != oracle {len(pages)}"
    for url, exp in pages.items():
        g = got[url]
        assert g["text"] == exp["text"], f"text mismatch for {url}"
        assert bytes(g["html"]) == exp["html"]
        assert g["warc_ts"] == exp["warc_ts"], (url, g["warc_ts"], exp["warc_ts"])
        assert g["log_offset"] == exp["log_offset"]
        assert g["lang"] == exp["lang"]
        assert g["fingerprint"] == exp["fingerprint"]
    got_tombs = sorted(
        (r["url"], r["deleted_ts"], r["log_offset"])
        for r in table.read_tombstones(TOMBSTONE_SCHEMA).collect()
    )
    assert got_tombs == tombs


def test_single_batch_replay(spark, tmp_path, events_and_oracle):
    df, _, pages, tombs = events_and_oracle
    root = str(tmp_path / "tbl")
    table = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=16)
    stats = apply_batch(table, df, batch_id=0)
    assert not stats["skipped"]
    _assert_state_matches(table, pages, tombs)
    # idempotency: replaying the same epoch is a no-op
    v = table.current_version()
    assert apply_batch(table, df, batch_id=0)["skipped"]
    assert table.current_version() == v


def test_backfill_racing_stream_conflicts_cleanly(spark, tmp_path, events_and_oracle):
    """A backfill writer whose plan was built against a snapshot the stream
    has since advanced past must get CommitConflictError from its
    apply_batch commit — not silently revert the stream's batch.  After
    re-planning (a fresh apply_batch call reads the current snapshot) the
    backfill applies and the final state matches the oracle."""
    from adsimportpipeline_spark.lake.table import CommitConflictError

    df, _, pages, tombs = events_and_oracle
    half = df.filter("log_offset % 2 = 0")
    rest = df.filter("log_offset % 2 = 1")
    root = str(tmp_path / "race")
    stream = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=16)
    apply_batch(stream, half, batch_id=0)

    backfill = LakeTable.load(spark, root)
    stale_parent = backfill.current_version()
    # the stream commits again while the backfill is (conceptually) planning
    apply_batch(stream, rest, batch_id=1)
    with pytest.raises(CommitConflictError):
        # simulate the stale plan by forcing the parent the backfill read
        backfill.overwrite_buckets(
            backfill.read(version=stale_parent).limit(0),
            list(range(16)),
            parent_version=stale_parent,
        )
    # re-plan against the current snapshot: a fresh apply_batch succeeds
    # (different epoch source so the epoch gate doesn't skip it)
    stats = apply_batch(backfill, rest, batch_id=0, epoch_source="backfill")
    assert not stats["skipped"]
    _assert_state_matches(backfill, pages, tombs)


def _merge_case_batches(rows, pages):
    """Two follow-up batches against a populated table that hit every case
    of the apply merge, as (event dicts, salted, extra column or None):

    - batch A (salted): a re-delivery of an already-applied event (the
      stored row wins the tie), a delete newer than a stored row, and a hot
      url's new event delivered three times beside two older events of it;
    - batch B (schema-evolved, an extra ``rank`` column): an upsert older
      than batch A's delete (the tombstone blocks it), and a newer upsert
      of a stored url (applied, with the new column)."""
    from datetime import timedelta

    off = max(r["log_offset"] for r in rows) + 1
    top = max(r["warc_ts"] for r in rows)
    stored = sorted(pages)
    redelivered, deleted, updated = stored[0], stored[1], stored[2]
    hot = max({r["url"] for r in rows}, key=lambda u: sum(r["url"] == u for r in rows))

    def ev(url, ts, offset, op, rev):
        html = None if op == "delete" else f"<p>{url} rev {rev}</p>".encode()
        return {"url": url, "warc_ts": ts, "log_offset": offset, "op": op,
                "html": html, "lang": "en", "source_origin": "crawl",
                "fingerprint": None}

    again = next(r for r in rows if r["url"] == redelivered
                 and r["log_offset"] == pages[redelivered]["log_offset"])
    hot_new = ev(hot, top + timedelta(hours=2), off + 1, "update", "hot")
    batch_a = [
        dict(again),
        ev(deleted, top + timedelta(hours=1), off, "delete", 0),
        hot_new, dict(hot_new), dict(hot_new),
        ev(hot, top - timedelta(hours=1), off + 2, "update", "old1"),
        ev(hot, top, off + 3, "insert", "old2"),
    ]
    batch_b = [
        ev(deleted, top, off + 4, "update", "stale"),
        ev(updated, top + timedelta(hours=3), off + 5, "update", "evolved"),
    ]
    return [(batch_a, True, None), (batch_b, False, "rank")]


def test_multi_batch_replay_matches_oracle(spark, tmp_path, events_and_oracle):
    """Split the log by delivery order into 5 sequential batches: the final
    state must equal the single global LWW (batch boundaries invisible).
    Then two hand-built batches hit every merge case against the populated
    table, each checked against the oracle replay of everything so far."""
    from pyspark.sql import types as T

    from adsimportpipeline_spark.schema import CHANGE_EVENT_SCHEMA

    df, rows, pages, tombs = events_and_oracle
    root = str(tmp_path / "tbl5")
    table = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=16)
    n = SPEC.n_events
    step = n // 5 + 1
    for i in range(5):
        lo, hi = i * step, min((i + 1) * step, n)
        batch = df.filter(
            (df.log_offset >= lo) & (df.log_offset < hi)
        )
        apply_batch(table, batch, batch_id=i, salted=(i % 2 == 1))
    _assert_state_matches(table, pages, tombs)

    seen = list(rows)
    for i, (events, salted, extra) in enumerate(_merge_case_batches(rows, pages), start=5):
        schema = CHANGE_EVENT_SCHEMA
        if extra:
            schema = T.StructType(schema.fields + [T.StructField(extra, T.IntegerType())])
            events = [dict(e, **{extra: i}) for e in events]
        batch = spark.createDataFrame([[e[f] for f in schema.names] for e in events], schema)
        apply_batch(table, batch, batch_id=i, salted=salted)
        seen += events
        want_pages, want_tombs = replay_oracle(seen)
        _assert_state_matches(table, want_pages, want_tombs)
    assert "rank" in table.schema().names


def test_streaming_replay_and_resume(spark, tmp_path, events_and_oracle):
    """availableNow streaming replay; then kill-and-resume semantics: a second
    run over the same checkpoint applies nothing new."""
    _, _, pages, tombs = events_and_oracle
    log = str(tmp_path / "log")
    root = str(tmp_path / "tbl_s")
    ckpt = str(tmp_path / "ckpt")
    write_change_log(spark, log, SPEC, n_files=10)
    LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=16)

    stats: list = []
    run_replay(spark, log, root, ckpt, max_files_per_trigger=3, collect_stats=stats)
    table = LakeTable.load(spark, root)
    assert len(stats) >= 3  # several micro-batches
    _assert_state_matches(table, pages, tombs)

    v = table.current_version()
    stats2: list = []
    run_replay(spark, log, root, ckpt, max_files_per_trigger=3, collect_stats=stats2)
    assert table.current_version() == v  # nothing re-applied
    _assert_state_matches(table, pages, tombs)


def test_kill_mid_replay_then_resume(spark, tmp_path, events_and_oracle):
    """Simulate a crash after some batches: re-run from the same checkpoint;
    replayed epochs are skipped, the rest applied, final state correct."""
    df, rows, pages, tombs = events_and_oracle
    log = str(tmp_path / "log2")
    root = str(tmp_path / "tbl_k")
    ckpt = str(tmp_path / "ckpt2")
    write_change_log(spark, log, SPEC, n_files=8)
    table = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=16)

    # first run processes only part of the backlog (2 files/trigger, then we
    # "crash" by limiting with maxFilesPerTrigger and stopping after 1 batch)
    from adsimportpipeline_spark.sources.changelog import stream_change_log
    from adsimportpipeline_spark.apply import apply_batch as _ab

    hits = []

    def _apply_once(batch_df, batch_id):
        if len(hits) >= 2:
            raise RuntimeError("injected crash")
        hits.append(batch_id)
        _ab(table, batch_df, batch_id)

    q = (
        stream_change_log(spark, log, 2)
        .writeStream.foreachBatch(_apply_once)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination()

    # resume from the same checkpoint — including a replay of the failed batch
    stats: list = []
    run_replay(spark, log, root, ckpt, max_files_per_trigger=2, collect_stats=stats)
    _assert_state_matches(table, pages, tombs)


def test_rescale_mid_replay_matches_oracle(spark, tmp_path, events_and_oracle):
    """Grow the bucket count between micro-batches (the 100x-table growth
    path): batches 0-1 apply at 8 buckets, a maintenance rescale_buckets(32)
    runs, batches 2-4 apply at the manifest's new geometry — final state
    must still equal the global LWW oracle, with epochs and tombstones
    carried through the rescale."""
    df, rows, pages, tombs = events_and_oracle
    root = str(tmp_path / "tbl_rs")
    table = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=8,
                             stats_cols=["warc_ts"])
    n = SPEC.n_events
    step = n // 5 + 1
    for i in range(5):
        lo, hi = i * step, min((i + 1) * step, n)
        batch = df.filter((df.log_offset >= lo) & (df.log_offset < hi))
        apply_batch(table, batch, batch_id=i)
        if i == 1:
            table.rescale_buckets(32)
            assert table.manifest()["n_buckets"] == 32
            assert table.last_epoch("cdc") == 1  # bookkeeping survives
    _assert_state_matches(table, pages, tombs)
    # idempotency holds across the rescale: epoch 1 replays as a no-op
    v = table.current_version()
    assert apply_batch(
        table, df.filter(df.log_offset < step), batch_id=1)["skipped"]
    assert table.current_version() == v
