"""Incremental LSH index vs batch-mode recompute — the never-diverge invariant.

Replays a hand-built change log (inserts, text-changing updates, deletes,
duplicate deliveries) in micro-batches through the REAL apply path while
maintaining the band index incrementally, then asserts the index's
valid-pair set equals batch-mode lsh_candidate_pairs over the final table —
row for row.  Also covers the fast-append commit, exactly-once re-delivery,
and index compaction.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from adsimportpipeline_spark.apply import apply_batch
from adsimportpipeline_spark.lake.table import LakeTable
from adsimportpipeline_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    word_shingles,
)
from adsimportpipeline_spark.operators.incremental_dedup import (
    LSH_INDEX_SCHEMA,
    batch_winner_texts,
    compact_lsh_index,
    create_lsh_index,
    lsh_index_pairs,
    update_lsh_index,
)
from adsimportpipeline_spark.schema import CHANGE_EVENT_SCHEMA, PAGES_SCHEMA

T0 = datetime(2026, 1, 1)

# word soups with controlled overlap; identical texts guarantee identical
# signatures (the probabilistic near-identical cases just have to AGREE
# between incremental and batch mode, whatever the hashes say)
TPL_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
TPL_B = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 3
TPL_C = "one two three four five six seven eight nine ten " * 3
TPL_D = "unrelated words that share nothing with any other document here " * 3
TPL_E = "completely different text after the update arrived for this url " * 3


def _ev(url, minute, offset, op, text):
    html = None if op == "delete" else f"<p>{text}</p>".encode()
    return (url, T0 + timedelta(minutes=minute), offset, op, html, "en", "crawl", None)


BATCHES = [
    # b0: u1,u2 identical (A); u3 B; u4 D; u5,u6 identical (C);
    #     plus a duplicate delivery of u1's event (LWW collapses it)
    [
        _ev("u1", 1, 1, "insert", TPL_A),
        _ev("u1", 1, 1, "insert", TPL_A),
        _ev("u2", 2, 2, "insert", TPL_A),
        _ev("u3", 3, 3, "insert", TPL_B),
        _ev("u4", 4, 4, "insert", TPL_D),
        _ev("u5", 5, 5, "insert", TPL_C),
        _ev("u6", 6, 6, "insert", TPL_C),
    ],
    # b1: u7 joins the A-cluster (cross-batch pairs vs stored u1,u2);
    #     u3's text changes (old B band rows become stale)
    [
        _ev("u7", 11, 11, "insert", TPL_A),
        _ev("u3", 12, 12, "update", TPL_E),
    ],
    # b2: u5 deleted (its C-pair must die); u2 leaves the A-cluster
    [
        _ev("u5", 21, 21, "delete", None),
        _ev("u2", 22, 22, "update", TPL_B),
    ],
]


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("incdedup")
    table = LakeTable.create(spark, str(root / "pages"), PAGES_SCHEMA, n_buckets=8)
    index = create_lsh_index(spark, str(root / "lsh"), n_buckets=8)
    emitted: dict[int, set] = {}
    for i, rows in enumerate(BATCHES):
        batch = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
        apply_batch(table, batch, batch_id=i)
        current = table.read().select("url", "warc_ts", "log_offset")
        owned: list = []  # consume pairs while the band cache is hot
        pairs = update_lsh_index(
            index, batch_winner_texts(batch), i, pages_current=current,
            cleanup=owned,
        )
        emitted[i] = {tuple(r) for r in pairs.collect()}
        for df in owned:
            df.unpersist(blocking=False)
    return table, index, emitted


def _batch_mode_pairs(pages_df):
    sigs = minhash_signatures(word_shingles(pages_df, id_col="url"), id_col="url")
    return {tuple(r) for r in lsh_candidate_pairs(sigs, id_col="url").collect()}


def test_guaranteed_pairs_emitted_per_batch(replayed):
    _, _, emitted = replayed
    # identical texts => identical signatures => guaranteed pairs
    assert ("u1", "u2") in emitted[0]
    assert ("u5", "u6") in emitted[0]
    # cross-batch: u7 (b1) vs the A-cluster stored in b0
    assert ("u1", "u7") in emitted[1] and ("u2", "u7") in emitted[1]
    # b2 applied a delete and a de-clustering update: u2's new B-text may
    # band with nothing that still exists (u3 left B in b1) — whatever the
    # hashes say, no emitted pair may involve the deleted u5
    assert not any("u5" in p for p in emitted[2])


def test_final_index_pairs_equal_batch_mode(replayed):
    table, index, _ = replayed
    final = table.read()
    incremental = {
        tuple(r)
        for r in lsh_index_pairs(
            index, final.select("url", "warc_ts", "log_offset")
        ).collect()
    }
    assert incremental == _batch_mode_pairs(final)
    # the dead relations are really dead: u5 tombstoned, u2's A-membership
    # superseded — identical-text guarantees make these assertions exact
    assert ("u5", "u6") not in incremental
    assert ("u1", "u2") not in incremental
    assert ("u1", "u7") in incremental


def test_emitted_superset_of_final(replayed):
    table, index, emitted = replayed
    final_pairs = {
        tuple(r)
        for r in lsh_index_pairs(
            index, table.read().select("url", "warc_ts", "log_offset")
        ).collect()
    }
    assert set().union(*emitted.values()) >= final_pairs


def test_redelivery_is_noop(replayed, spark):
    _, index, _ = replayed
    v = index.current_version()
    batch = spark.createDataFrame(BATCHES[1], CHANGE_EVENT_SCHEMA)
    assert update_lsh_index(index, batch_winner_texts(batch), 1) is None
    assert index.current_version() == v


def test_compaction_drops_stale_keeps_answer(replayed):
    table, index, _ = replayed
    current = table.read().select("url", "warc_ts", "log_offset")
    before = {tuple(r) for r in lsh_index_pairs(index, current).collect()}
    n_before = index.read().count()
    compact_lsh_index(index, current)
    after = {tuple(r) for r in lsh_index_pairs(index, current).collect()}
    assert after == before
    n_after = index.read().count()
    assert n_after < n_before  # u3's B rows, u2's A rows, u5's C rows gone
    # compacted index holds exactly the valid distinct rows
    valid = (
        index.read()
        .join(current, ["url", "warc_ts", "log_offset"], "left_semi")
        .distinct()
        .count()
    )
    assert n_after == valid


def test_append_buckets_fast_append(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "ap"), LSH_INDEX_SCHEMA,
                         key="bucket", n_buckets=4)
    df1 = spark.createDataFrame(
        [("b1", "u1", T0, 1), ("b2", "u2", T0, 2)], LSH_INDEX_SCHEMA
    )
    df2 = spark.createDataFrame([("b1", "u3", T0, 3)], LSH_INDEX_SCHEMA)
    v1 = t.append_buckets(df1, epoch_source="x", epoch=0)
    m1 = t.manifest()
    v2 = t.append_buckets(df2, epoch_source="x", epoch=1)
    assert v2 == v1 + 1
    # fast-append: prior file groups untouched, new group added
    m2 = t.manifest()
    for b, entries in m1["buckets"].items():
        assert entries == m2["buckets"][b][: len(entries)]
    assert t.read().count() == 3
    # exactly-once: same epoch again is a committed duplicate
    assert t.append_buckets(df2, epoch_source="x", epoch=1) == v2
    assert t.read().count() == 3


def test_update_survives_restart(replayed, spark, tmp_path):
    """A fresh LakeTable handle over the same roots (driver restart) sees
    the committed epochs and the same pair answer."""
    table, index, _ = replayed
    reopened = LakeTable.load(spark, index.root)
    assert reopened.last_epoch("lsh_index") == 2
    current = table.read().select("url", "warc_ts", "log_offset")
    a = {tuple(r) for r in lsh_index_pairs(reopened, current).collect()}
    b = {tuple(r) for r in lsh_index_pairs(index, current).collect()}
    assert a == b


def test_streaming_replay_maintains_index(spark, tmp_path):
    """run_replay(lsh_index_root=...) maintains the band index inside the
    checkpointed streaming loop: after the replay the index's valid pairs
    equal a full batch recompute over the final table, and resuming from
    the same checkpoint advances neither the table nor the index."""
    from adsimportpipeline_spark.datagen import GenSpec, write_change_log
    from adsimportpipeline_spark.streaming.runner import run_replay

    log = str(tmp_path / "log")
    write_change_log(
        spark, log, GenSpec(n_events=3000, n_urls=150, seed=7), n_files=6
    )
    table = LakeTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, n_buckets=8
    )
    idx_root = str(tmp_path / "lsh")
    ckpt = str(tmp_path / "ckpt")
    run_replay(
        spark, log, table.root, ckpt,
        max_files_per_trigger=2, lsh_index_root=idx_root,
    )
    index = LakeTable.load(spark, idx_root)
    assert index.last_epoch("lsh_index") >= 1  # several micro-batches ran

    final = table.read()
    incremental = {
        tuple(r)
        for r in lsh_index_pairs(
            index, final.select("url", "warc_ts", "log_offset")
        ).collect()
    }
    assert incremental == _batch_mode_pairs(final)
    assert incremental  # the generator's duplicate factor guarantees some

    # resume from the same checkpoint: no new data -> both sides untouched
    tv, iv = table.current_version(), index.current_version()
    run_replay(
        spark, log, table.root, ckpt,
        max_files_per_trigger=2, lsh_index_root=idx_root,
    )
    assert table.current_version() == tv
    assert index.current_version() == iv


#: follow-up batches for the keep_applied check, against the table BATCHES
#: populated: every case of the apply merge, as (rows, salted, extra column)
MERGE_CASES = [
    # re-delivery of u7's applied event (the stored row wins the tie, so it
    # is NOT applied again); a hot url's new event delivered three times
    # beside an older one; an upsert of u5 older than its delete (blocked)
    ([
        _ev("u7", 11, 11, "insert", TPL_A),
        _ev("u8", 31, 31, "insert", TPL_C),
        _ev("u8", 31, 31, "insert", TPL_C),
        _ev("u8", 31, 31, "insert", TPL_C),
        _ev("u8", 30, 30, "insert", TPL_D),
        _ev("u5", 20, 32, "update", TPL_B),
    ], True, None),
    # a delete newer than u4's stored row; u6 updated by a schema-evolved
    # batch (extra column)
    ([
        _ev("u4", 41, 41, "delete", None),
        _ev("u6", 42, 42, "update", TPL_E),
    ], False, "rank"),
]


def test_keep_applied_equals_committed_readback(spark, tmp_path):
    """apply_batch(keep_applied=[...]) hands back EXACTLY the rows the
    commit applied — (url, warc_ts, log_offset, text) equal to what the
    committed table gained from the batch (its read-back semi-joined on the
    batch, the O(table) path it replaces in the runners, minus the rows
    already stored before it) — on a fresh table (batch 0), a populated
    one (batches 1-2), and the merge cases of MERGE_CASES; after every
    batch the table equals the oracle replay of all batches so far."""
    from pyspark.sql import types as T

    from adsimportpipeline_spark.datagen import replay_oracle
    from adsimportpipeline_spark.operators.incremental_dedup import (
        applied_winner_texts,
    )

    cols = ["url", "warc_ts", "log_offset", "text"]
    table = LakeTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, n_buckets=8
    )
    cases = [(rows, False, None) for rows in BATCHES] + MERGE_CASES
    seen: list = []
    applied: list = []
    for i, (rows, salted, extra) in enumerate(cases):
        schema = CHANGE_EVENT_SCHEMA
        if extra:
            schema = T.StructType(schema.fields + [T.StructField(extra, T.IntegerType())])
            rows = [r + (i,) for r in rows]
        batch = spark.createDataFrame(rows, schema)
        before = {tuple(r) for r in table.read().select(*cols).collect()}
        ka: list = []
        stats = apply_batch(table, batch, batch_id=i, salted=salted, keep_applied=ka)
        assert not stats["skipped"] and len(ka) == 2
        got = {tuple(r) for r in ka[0].select(*cols).collect()}
        want = {tuple(r) for r in applied_winner_texts(table, batch).collect()} - before
        assert got == want and got  # non-empty in every case
        applied.append({g[:3] for g in got})
        for c in ka:
            c.unpersist()
        seen += [dict(zip(schema.names, r)) for r in rows]
        pages, _ = replay_oracle(seen)
        state = {r["url"]: r for r in table.read().collect()}
        assert set(state) == set(pages)
        for url, exp in pages.items():
            assert (state[url]["log_offset"], state[url]["text"]) == (
                exp["log_offset"], exp["text"]), url
    # the re-delivered u7 event was not applied a second time
    assert ("u7", T0 + timedelta(minutes=11), 11) not in applied[len(BATCHES)]
    # epoch no-op re-delivery: the cache is NOT built (runner falls back
    # to the table read)
    ka2: list = []
    stats = apply_batch(
        table,
        spark.createDataFrame(BATCHES[0], CHANGE_EVENT_SCHEMA),
        batch_id=0,
        keep_applied=ka2,
    )
    assert stats["skipped"] and ka2 == []
