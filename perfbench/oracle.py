"""Correctness checks, all run outside the timed region.

A committed table is compared row for row with a DuckDB replay of the same
log files: last writer per url by ``(warc_ts, log_offset)``, deletes remove
the row, every delete delivery lands once in the tombstone audit.  Rows are
compared as ``(url, warc_ts in us, log_offset, md5(text))`` tuples, so one
flipped text byte or one dropped tombstone is a mismatch.  The text side of
the oracle is the package's SQL twin of the extractor
(``functions.html.extract_text_sql``), which is tested byte-identical to the
Arrow and Python extractors.

Applied rows are counted from the committed table, never from lineage:
lineage ``rows_applied`` counts every input row of a batch.
"""

from __future__ import annotations

import math
from collections import Counter


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _files_sql(files: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def lww_oracle(files: list[str]) -> dict:
    """Expected pages and tombstones of replaying ``files``, with the input
    row and distinct url counts."""
    from adsimportpipeline_spark.functions.html import extract_text_sql

    con = _duck()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM {_files_sql(files)}")
    text = extract_text_sql("decode(html)")
    pages = con.execute(f"""
        SELECT url, epoch_us(warc_ts), log_offset, md5({text}) FROM (
          SELECT *, row_number() OVER (PARTITION BY url
                    ORDER BY warc_ts DESC, log_offset DESC) AS rn FROM ev)
        WHERE rn = 1 AND op <> 'delete'""").fetchall()
    tombs = con.execute("""
        SELECT DISTINCT url, epoch_us(warc_ts), log_offset FROM ev
        WHERE op = 'delete'""").fetchall()
    n, urls = con.execute("SELECT count(*), count(DISTINCT url) FROM ev").fetchone()
    con.close()
    return {"pages": Counter(pages), "tombs": Counter(tombs), "rows": n, "urls": urls}


def table_state(table) -> tuple[Counter, Counter]:
    """The committed snapshot of a LakeTable as comparable tuples."""
    from pyspark.sql import functions as F

    from adsimportpipeline_spark.schema import TOMBSTONE_SCHEMA

    pages = table.read().select(
        "url", F.unix_micros("warc_ts"), "log_offset", F.md5("text")
    ).collect()
    tombs = table.read_tombstones(TOMBSTONE_SCHEMA).select(
        "url", F.unix_micros("deleted_ts"), "log_offset"
    ).collect()
    return Counter(tuple(r) for r in pages), Counter(tuple(r) for r in tombs)


def diff(kind: str, got: Counter, want: Counter) -> list[str]:
    if got == want:
        return []
    missing, extra = want - got, got - want
    return [f"{kind}: {sum(missing.values())} missing, {sum(extra.values())} "
            f"unexpected (e.g. missing {list(missing)[:1]}, extra {list(extra)[:1]})"]


# ---------------------------------------------------------------- lookups
class LookupOracle:
    """Expected point-lookup answers at any log prefix, from every event of
    the looked-up urls: ``(url, warc_ts in us, log_offset, op, md5(text))``
    rows."""

    def __init__(self, urls: list[str], rows):
        self.events: dict[str, list[tuple]] = {u: [] for u in urls}
        for url, ts, off, op, md5 in rows:
            self.events[url].append((ts, off, op, md5))

    @classmethod
    def from_logs(cls, files: list[str], urls: list[str]) -> "LookupOracle":
        from adsimportpipeline_spark.functions.html import extract_text_sql

        con = _duck()
        url_list = ", ".join("'" + u.replace("'", "''") + "'" for u in urls)
        rows = con.execute(f"""
            SELECT url, epoch_us(warc_ts), log_offset, op,
                   md5({extract_text_sql('decode(html)')})
            FROM {_files_sql(files)} WHERE url IN ({url_list})""").fetchall()
        con.close()
        return cls(urls, rows)

    def expect(self, url: str, max_offset: float = math.inf) -> list[tuple]:
        seen = [e for e in self.events[url] if e[1] <= max_offset]
        if not seen:
            return []
        ts, off, op, md5 = max(seen, key=lambda e: (e[0], e[1]))
        return [] if op == "delete" else [(url, ts, off, md5)]


# ---------------------------------------------------------------- queries
QUERY_TABLES = ["events", "customer", "orders", "lineitem", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def _bag(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class QueryOracle:
    """Bag comparison of a query's collected rows with its DuckDB twin in
    ``driver_queries.ORACLES`` (floats compared at 6 decimals, as the
    repository's oracle test does)."""

    def __init__(self, tables_dir: str):
        self.con = _duck()
        for t in QUERY_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")

    def rows(self, name: str) -> list[tuple]:
        from adsimportpipeline_spark.plans.driver_queries import ORACLES

        return self.con.execute(ORACLES[name]).fetchall()

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> list[str]:
        from adsimportpipeline_spark.plans.driver_queries import ORACLES

        if name not in ORACLES:
            return []
        res = self.con.execute(ORACLES[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return [f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}"]
        got, want = _bag(rows, cols), _bag(orows, ocols)
        if got != want:
            bad = sum((Counter(got) - Counter(want)).values())
            return [f"{name}: {bad} of {len(got)} rows differ from the oracle ({len(want)} rows)"]
        return []

    def close(self) -> None:
        self.con.close()
