"""Seeded, cached benchmark inputs.

Change logs come from the package's own generator
(``datagen.generate_change_log`` / ``write_change_log``) with the default
``GenSpec`` mix: 10% of events on one hot url, 3% deletes, 5% duplicate
deliveries and out-of-order ``warc_ts`` with ties.  The query suite reads
the repository's sf0.01 (self-test: sf0.001) test tables, checked in under
``perfbench/data`` so the benchmark needs nothing outside its checkout.

Each change log lives in ``.perfbench/cache/<key>``, where the key hashes the
seed, the sizes, ``datagen.py`` and this file, so a change to either
generator rebuilds the inputs.  Generation time is returned so that it can
be reported beside ``setup_s``, never inside it.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import time
from dataclasses import dataclass

from common import CACHE, PACKAGE


@dataclass(frozen=True)
class Scale:
    """Input sizes and open-loop rates.  ``FULL`` is what the benchmark runs;
    ``TINY`` is the self-test's smallest scale."""

    n_buckets: int = 64
    # bulk_replay: one change log replayed into fresh tables
    bulk_events: int = 200_000
    bulk_urls: int = 20_000
    bulk_files: int = 8
    # cdc_tail: preload, then small ordered files landing at tail_rate/s
    tail_preload_events: int = 30_000
    tail_urls: int = 10_000
    tail_file_events: int = 40
    tail_rate: float = 9.0
    # point lookups beside the tail and the bulk applies
    lookup_rate: float = 9.0
    lookup_urls: int = 64
    # query_suite tables: a directory under perfbench/data
    q_tables: str = "sf0.01"


FULL = Scale()
TINY = Scale(
    n_buckets=16, bulk_events=10_000, bulk_urls=1_000, bulk_files=4,
    tail_preload_events=5_000, tail_urls=1_000, tail_file_events=20,
    tail_rate=4.0, lookup_rate=4.0, lookup_urls=16, q_tables="sf0.001",
)


def _file_sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _cached(kind: str, seed: int, sizes: dict, build) -> tuple[str, float]:
    """Return (dir, generation seconds; 0.0 on a cache hit).  ``build(tmp)``
    writes the input into ``tmp``; the rename makes a half-built input
    invisible to later runs."""
    key = hashlib.sha256(
        json.dumps(
            [kind, seed, sizes, _file_sha(os.path.join(PACKAGE, "datagen.py")),
             _file_sha(os.path.abspath(__file__))],
            sort_keys=True,
        ).encode()
    ).hexdigest()[:20]
    final = os.path.join(CACHE, f"{kind}-{key}")
    if os.path.isdir(final):
        return final, 0.0
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    build(tmp)
    gen_s = time.perf_counter() - t0
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run won the rename; use its copy
        shutil.rmtree(tmp, ignore_errors=True)
    return final, gen_s


def parquet_files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


# ------------------------------------------------------------ change logs
def bulk_log(spark, seed: int, sc: Scale) -> tuple[str, float]:
    from adsimportpipeline_spark.datagen import GenSpec, write_change_log

    spec = GenSpec(n_events=sc.bulk_events, n_urls=sc.bulk_urls, seed=seed)
    sizes = {"events": sc.bulk_events, "urls": sc.bulk_urls, "files": sc.bulk_files}

    def build(tmp: str) -> None:
        # unordered, as bench.py writes its single-batch replay log
        write_change_log(spark, os.path.join(tmp, "log"), spec,
                         n_files=sc.bulk_files, ordered=False)

    d, gen_s = _cached("bulk", seed, sizes, build)
    return os.path.join(d, "log"), gen_s


def tail_log(spark, seed: int, sc: Scale, seconds: int) -> tuple[dict, float]:
    """One change log split at ``tail_preload_events``: the prefix is the
    preload, the rest is ``ceil(tail_rate * seconds)`` small files, each a
    contiguous ``log_offset`` range in offset order (the layout
    ``write_change_log(ordered=True)`` gives, split here with pyarrow from
    one collect because a hundred tiny Spark output files cost seconds).  Returns
    ({"preload": dir, "files": [...], "cut": first tail offset},
    generation seconds)."""
    from adsimportpipeline_spark.datagen import GenSpec, generate_change_log

    n_files = math.ceil(sc.tail_rate * seconds)
    n_events = sc.tail_preload_events + n_files * sc.tail_file_events
    spec = GenSpec(n_events=n_events, n_urls=sc.tail_urls, seed=seed)
    sizes = {"preload": sc.tail_preload_events, "urls": sc.tail_urls,
             "files": n_files, "file_events": sc.tail_file_events}
    cut = sc.tail_preload_events

    def build(tmp: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        log = generate_change_log(spark, spec).toArrow().sort_by("log_offset")
        pre = pc.less(log.column("log_offset"), cut)
        os.makedirs(os.path.join(tmp, "preload"))
        pq.write_table(log.filter(pre), os.path.join(tmp, "preload", "part-00000.parquet"))
        tail = log.filter(pc.invert(pre))
        offsets = tail.column("log_offset").to_pylist()
        os.makedirs(os.path.join(tmp, "tail"))
        lo = 0
        for i in range(n_files):
            hi = len(offsets) * (i + 1) // n_files
            # a duplicate delivery shares its original's offset: keep both
            # copies in one file so every file is a disjoint offset range
            while 0 < hi < len(offsets) and offsets[hi] == offsets[hi - 1]:
                hi += 1
            pq.write_table(tail.slice(lo, hi - lo),
                           os.path.join(tmp, "tail", f"part-{i:05d}.parquet"))
            lo = hi

    d, gen_s = _cached("tail", seed, sizes, build)
    files = parquet_files(os.path.join(d, "tail"))
    return {"preload": os.path.join(d, "preload"), "files": files, "cut": cut}, gen_s


# ---------------------------------------------------------- query tables
#: the repository's TPC-H-ish test tables, checked in unchanged under
#: perfbench/data: the tables bench.py's headline queries and the
#: DuckDB oracles' fitted literals were built against
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def query_tables(sc: Scale) -> str:
    """The directory of the tables the 15 headline queries and the recalls
    read.  They are fixed data: every seed reads the same tables."""
    return os.path.join(DATA, sc.q_tables)
