"""Last-writer-wins deduplication — the engine's central operator.

Reference semantics: ``equalTrustFallback`` (merger.py:320-339) resolves
equal-priority blocks by latest modtime, then content length, then arbitrary
order — a LWW cascade.  ``_getBestOrigin`` folds blocks to a single winner
(merger.py:286-318).  Collapsed onto the CDC envelope this is: one winner per
``url`` ordered by ``(warc_ts, log_offset)``.

Three physical strategies, all producing identical results:

- :func:`lww_dedup` — hash-aggregate ``max_by(struct(payload), struct(order))``.
  **Default.** Partial (map-side) aggregation makes it skew-resilient by
  construction: a hot url is pre-reduced to one row per input partition
  before the shuffle, so no single reducer ever sees the hot url's full
  event list.  This is the plan that survives 100 TB.
- :func:`lww_dedup_salted` — *explicit* two-phase salting (north_rule
  requires explicit hot-key splitting): pre-reduce per ``(url, salt)``,
  then final reduce per ``url``.  Two shuffles, but the first is uniform.
  Useful when the payload is too wide for efficient partial agg structs.
- :func:`lww_dedup_window` — ``row_number() over (partitionBy(url)
  orderBy ... desc) == 1``.  The literal translation of reference W5;
  kept for cross-checking — a window sorts the whole group, so it is the
  *worst* plan under skew and not used in the apply path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: LWW ordering: event time first, log offset as the tie-break
DEFAULT_ORDER = ("warc_ts", "log_offset")


def _is_simple_scan(df: DataFrame) -> bool:
    """True iff ``df``'s analyzed plan is ONE file-relation leaf with only
    row-preserving-or-reducing nodes (Project/Filter/alias) above it.  A
    join, explode/generate, or self-union would make ``inputFiles()`` an
    invalid row-count proxy (Spark dedupes the file list; a join multiplies
    rows), so footer arithmetic is only trusted on this shape."""
    allowed_inner = {"Project", "Filter", "SubqueryAlias", "ResolvedHint", "View"}
    allowed_leaf = {"LogicalRelation", "Relation", "RelationV2", "LogicalRDD"}
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        leaves = 0
        while stack:
            node = stack.pop()
            ch = node.children()
            n = ch.size()
            if n == 0:
                leaves += 1
                if node.nodeName() not in allowed_leaf:
                    return False
            else:
                if node.nodeName() not in allowed_inner:
                    return False
                for i in range(n):
                    stack.append(ch.apply(i))
        return leaves == 1
    except Exception:
        return False


def _metadata_row_upper_bound(df: DataFrame, max_files: int = 1024) -> int | None:
    """Upper bound on ``df``'s row count from parquet footers alone (no data
    scan, no job).  None when the frame is not a plain parquet file scan or
    listing the footers would itself be expensive — callers must treat None
    as "unknown, measure instead".  Filters applied on top of the scan only
    make the true count smaller, so the bound stays valid.  The plan shape
    is validated first: for a join / generate / self-union, ``inputFiles()``
    under-counts (files dedupe; joins multiply rows), so those shapes
    return None rather than a bogus bound."""
    if not _is_simple_scan(df):
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > max_files:
        return None
    try:
        import urllib.parse

        import pyarrow.parquet as pq

        total = 0
        for f in files:
            if ".parquet" not in f and not f.endswith(".pq"):
                return None
            p = urllib.parse.urlparse(f)
            path = urllib.parse.unquote(p.path) if p.scheme in ("file", "") else None
            if path is None:
                return None  # non-local URI: footer read may be a remote call
            total += pq.ParquetFile(path).metadata.num_rows
        return total
    except Exception:
        return None


def _offset_broadcast_cap_rows(spark, max_rows: int) -> int:
    """How many 8-byte offset rows fit the broadcast budget: the tighter of
    ``spark.sql.autoBroadcastJoinThreshold`` (bytes / 8) and the caller's
    explicit row cap — a caller sizing for small executors must never be
    silently overridden upward.  A non-positive threshold means the user
    disabled broadcast joins: return 0 (gate off, no forced broadcasts)."""
    raw = None
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    except Exception:
        pass
    try:
        s = str(raw).strip().lower()
        mult = 1
        for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
            if s.endswith(suf):
                s, mult = s[: -len(suf)], m
                break
        thr_bytes = int(float(s)) * mult
    except Exception:
        thr_bytes = 10 << 20
    if thr_bytes <= 0:
        return 0
    return min(thr_bytes // 8, max_rows)


def _order_struct(order_cols: tuple[str, ...]):
    return F.struct(*[F.col(c) for c in order_cols])


def lww_dedup(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
) -> DataFrame:
    """One winner row per key via max_by — associative, partial-agg friendly."""
    payload = [c for c in df.columns if c != key]
    winner = F.max_by(F.struct(*payload), _order_struct(order_cols)).alias("w")
    out = df.groupBy(key).agg(winner)
    return out.select(key, *[F.col(f"w.{c}").alias(c) for c in payload])


def lww_dedup_salted(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
    n_salts: int = 16,
) -> DataFrame:
    """Explicit two-phase skew splitting: (key, salt) pre-reduce, key reduce.

    Salt is derived from the *ordering* column so duplicates of one hot key
    spread uniformly over ``n_salts`` reducers; the second phase then sees at
    most ``n_salts`` rows per key.  Safe because max is associative.
    """
    payload = [c for c in df.columns if c != key]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(n_salts))
    pre = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.max_by(F.struct(*payload), _order_struct(order_cols)).alias("w"))
        .select(key, *[F.col(f"w.{c}").alias(c) for c in payload])
    )
    return lww_dedup(pre, key=key, order_cols=order_cols)


def lww_winner_rows(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
    broadcast_keys: bool | None = None,
    broadcast_max_keys: int = 4_000_000,
    cleanup: list | None = None,
    unique_order_col: str | None = None,
) -> DataFrame:
    """Payload-light LWW core: argmax over the ordering keys only, then fetch
    the winning rows back with a semi-join.  Returns each key's winning rows
    INCLUDING exact duplicate deliveries of the winner (rows sharing the
    max (key, order_cols)); use :func:`lww_dedup_semi` for one row per key.

    The default :func:`lww_dedup` shuffles every event's full payload (html
    blobs!); this variant shuffles only ``(key, order_cols)`` (~40 bytes/row)
    to find each key's winning version, then joins the winner keys back to
    the unshuffled events — the payload of losers never crosses the wire.
    On a memory-bandwidth-bound node this is ~10x less data movement; at
    cluster scale it is the difference between shuffling 100 TB and
    shuffling 400 GB.

    ``broadcast_keys``: ``True``/``False`` force the join strategy.  The
    default ``None`` MEASURES: the winner-key aggregate itself is persisted
    and counted — one narrow scan total, because the count's materialization
    is exactly the relation the join consumes (the earlier design ran a
    separate ``approx_count_distinct`` scan AND re-ran the aggregate inside
    the main job — two narrow passes over the full log).  The join
    broadcasts iff the exact count is under ``broadcast_max_keys``, else
    falls back to a shuffled join.  Deferring the choice to AQE instead
    would be too late — AQE submits both shuffle stages of a sort-merge
    join before converting it, so the full payload shuffle gets WRITTEN
    even when the runtime stats would have chosen broadcast (measured: an
    avoidable 1.3 GB write + read per 8M-event batch).  A bulk replay with
    10^9 distinct keys still takes the shuffled path — no driver OOM.

    ``broadcast_max_keys`` gates on row count as a proxy for bytes: a
    (key, order-struct) row is ~50-100 B, so the 4M default keeps the
    replicated table in the low hundreds of MB — inside a default-sized
    executor and of the same order as a generous
    ``spark.sql.autoBroadcastJoinThreshold``.  Raise it only with the
    executor memory to match.

    ``cleanup``: when a list is passed, the persisted key aggregate is
    appended to it and the caller unpersists after its job (the apply path
    does — apply.py's ``finally``).  Without one, the cache is dropped
    immediately after the count so a long-lived session cannot leak it —
    the join then recomputes the aggregate inside the main job (the
    count's cost matches the old HLL scan, so the worst case is the old
    behavior, never worse).
    """
    order_struct = _order_struct(order_cols)
    if unique_order_col is not None:
        # ``unique_order_col`` (one of order_cols) uniquely identifies an
        # event across the whole log — the CDC log_offset.  Then the
        # winning rows are exactly the rows carrying the winning offsets:
        # the join key shrinks from (string key + order-struct equality
        # filter) to ONE 8-byte long — a ~12x smaller broadcast and a
        # cheaper probe hash, with the post-join filter gone entirely.
        #
        # The key itself never leaves this aggregation (only the offsets
        # do), so the argmax groups by a 128-bit hash of the key (two
        # independently-seeded xxhash64 columns) instead of the key
        # string: ~16 B group keys instead of ~60 B urls halve the
        # partial-agg shuffle and speed both hash-map sides.  A collision
        # would merge two urls' argmax (losing one winner); with 2^128
        # hash space that is p ~= n^2/2^129 — about 1.5e-19 at the full
        # 10^10-event scale, far below any hardware error rate (the same
        # trade every content-hash dedup in this repo already makes).
        keys = (
            df.groupBy(
                F.xxhash64(F.col(key)).alias("_h1"),
                F.xxhash64(F.lit(0x5EED), F.col(key)).alias("_h2"),
            )
            .agg(F.max(order_struct).alias("_w"))
            .select(F.col(f"_w.{unique_order_col}").alias(unique_order_col))
        )
    else:
        keys = df.groupBy(key).agg(F.max(order_struct).alias("_w"))
    if broadcast_keys is None and unique_order_col is not None:
        # 0-cost decision first: parquet footers give an UPPER BOUND on the
        # key count (keys <= source rows) without touching data.  When the
        # bound already fits the broadcast budget (8 B per offset row vs
        # autoBroadcastJoinThreshold), hint the broadcast directly — the
        # winner aggregation then runs INSIDE the main job's broadcast
        # exchange: one narrow scan total, no measuring job, no barrier,
        # and (in the apply path) fully overlapped with the tombstone/
        # lineage jobs.  A 10^10-row log blows the bound and falls through
        # to measure-and-cache below.
        ub = _metadata_row_upper_bound(df)
        cap_rows = _offset_broadcast_cap_rows(df.sparkSession, broadcast_max_keys)
        if cap_rows > 0 and ub is not None and ub <= cap_rows:
            return df.join(F.broadcast(keys), unique_order_col)
    if broadcast_keys is None and unique_order_col is not None:
        # measure-and-cache: persist the winner-offset aggregate, count it
        # (one narrow scan — the count's materialization IS the relation
        # the join consumes), and broadcast FROM THE CACHE.  The broadcast
        # exchange then collects from InMemoryTableScan entirely JVM-side
        # (~0.3s for 300k offsets).  The previous design collected the
        # offsets to the driver as an Arrow table and re-created a local
        # DataFrame from it — measured at 4 cores, that Arrow->LocalRelation
        # round-trip plus re-broadcast left every core idle for >1s per
        # batch, a pure serial term in the N-vs-4N scaling ratio.  Overflow
        # falls back to the shuffled join (the 10^9-key bulk case never
        # touches driver memory).
        from pyspark.storagelevel import StorageLevel

        keys = keys.persist(StorageLevel.MEMORY_AND_DISK)
        n_keys = keys.count()
        if cleanup is not None:
            cleanup.append(keys)
        if n_keys <= cap_rows:
            out = df.join(F.broadcast(keys), unique_order_col)
            if cleanup is None:
                keys.unpersist()  # plan keeps the lineage; worst case re-agg
            return out
        if cleanup is None:
            keys.unpersist()
        broadcast_keys = False
    if broadcast_keys is None:
        from pyspark.storagelevel import StorageLevel

        keys = keys.persist(StorageLevel.MEMORY_AND_DISK)
        n_keys = keys.count()
        if cleanup is not None:
            cleanup.append(keys)
        else:
            keys.unpersist()
        broadcast_keys = n_keys <= _offset_broadcast_cap_rows(
            df.sparkSession, broadcast_max_keys
        )
    if broadcast_keys:
        keys = F.broadcast(keys)
    else:
        keys = keys.hint("shuffle_hash")
    if unique_order_col is not None:
        return df.join(keys, unique_order_col)
    return df.join(keys, key).filter(order_struct == F.col("_w")).drop("_w")


def lww_dedup_semi(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
    broadcast_keys: bool | None = None,
    broadcast_max_keys: int = 4_000_000,
    cleanup: list | None = None,
    unique_order_col: str | None = None,
) -> DataFrame:
    """:func:`lww_winner_rows` + collapse of exact duplicate deliveries
    (rows sharing (key, order_cols) are identical payloads by the log's
    offset-uniqueness, so any winner among them is THE winner).

    Callers that already need a payload shuffle downstream (e.g. the
    apply path repartitioning by storage bucket) should take
    :func:`lww_winner_rows` and fold the duplicate-collapse into that
    shuffle instead of paying this one — see ``apply._merged_rows``.
    """
    matched = lww_winner_rows(
        df,
        key=key,
        order_cols=order_cols,
        broadcast_keys=broadcast_keys,
        broadcast_max_keys=broadcast_max_keys,
        cleanup=cleanup,
        unique_order_col=unique_order_col,
    )
    return lww_dedup(matched, key=key, order_cols=order_cols)


def lww_first(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
) -> DataFrame:
    """First-writer-wins: the min_by twin of :func:`lww_dedup`.

    Orders on the native column values (full timestamp precision — no
    unix_timestamp truncation), so Spark and a SQL oracle ordering by the
    same columns agree even on same-second, different-microsecond events.
    """
    payload = [c for c in df.columns if c != key]
    winner = F.min_by(F.struct(*payload), _order_struct(order_cols)).alias("w")
    out = df.groupBy(key).agg(winner)
    return out.select(key, *[F.col(f"w.{c}").alias(c) for c in payload])


def lww_dedup_window(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
) -> DataFrame:
    """row_number()==1 formulation (reference W5, merger.py:286-339)."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
