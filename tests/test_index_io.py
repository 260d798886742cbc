"""The index tables' one reader (open_index) and its writers: compaction
of base + appended segments reproduces a from-scratch build byte for byte,
and opening or compacting an index runs a bounded number of Spark jobs."""

import tempfile

import pytest

from ipfs_search_spark.catalog import TableIO
from ipfs_search_spark.fixtures import pages_df
from ipfs_search_spark.operators.index_build import (
    build_index, compact_segments,
)
from ipfs_search_spark.plans.query import Searcher
from ipfs_search_spark.streaming.ingest_stream import (
    incremental_index_microbatch,
)


def _rows(io, table, *cols):
    """A table's rows in key order (the leading columns are unique)."""
    return sorted(tuple(r) for r in io.read(table).select(*cols).collect())


POSTINGS_COLS = ("term", "shard", "bucket", "df_part", "cf_part", "blocks")


@pytest.mark.parametrize("positions", [False, True])
def test_compaction_equals_rebuild_bytes(spark, positions):
    """base (250 pages) + appends of 70 and of the rest, compacted, holds
    the same postings rows (every block field, `pos` included), term_stats
    rows and index_stats row as one build over all 400 pages."""
    all_pages = pages_df(spark, n=400, seed=91).cache()
    base = all_pages.limit(250).cache()
    rest = all_pages.subtract(base).cache()
    b1 = rest.limit(70).cache()
    b2 = rest.subtract(b1)

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-bytes-inc-"))
    build_index(spark, base, io, n_shards=4, n_buckets=16, extract=False,
                positions=positions)
    handle = incremental_index_microbatch(io, n_shards=4, n_buckets=16,
                                          positions=positions)
    handle(b1, batch_id=1)
    handle(b2, batch_id=2)
    assert compact_segments(io)["segments_folded"] == 2

    io_full = TableIO(spark, tempfile.mkdtemp(prefix="isx-bytes-full-"))
    build_index(spark, all_pages, io_full, n_shards=4, n_buckets=16,
                extract=False, positions=positions)

    got = _rows(io, "postings", *POSTINGS_COLS)
    want = _rows(io_full, "postings", *POSTINGS_COLS)
    assert len(got) == len(want) > 0
    assert got == want
    assert all((blk["pos"] is not None) == positions
               for r in got for blk in r[5])
    assert _rows(io, "term_stats", "term", "bucket", "df", "cf") == \
        _rows(io_full, "term_stats", "term", "bucket", "df", "cf")
    assert io.read("index_stats").collect()[0].asDict() == \
        io_full.read("index_stats").collect()[0].asDict()


def test_open_and_compact_job_budget(spark):
    """Searcher() on a base-only index, on base + two segments, and
    compact_segments each stay within a fixed Spark job count: init reads
    every table once and collects the vocabulary in one bounded job, and
    compaction re-reads nothing its opened view already holds."""
    pages = pages_df(spark, n=600, seed=7).cache()
    base = pages.limit(450).cache()
    rest = pages.subtract(base).cache()
    b1 = rest.limit(80).cache()
    b2 = rest.subtract(b1)

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-jobs-"))
    build_index(spark, base, io, n_shards=4, n_buckets=16)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(tracker.getJobIdsForGroup(group))

    base_only = jobs("open-base", lambda: Searcher(spark, io))
    handle = incremental_index_microbatch(io, n_shards=4, n_buckets=16)
    handle(b1, batch_id=1)
    handle(b2, batch_id=2)
    segmented = jobs("open-segmented", lambda: Searcher(spark, io))
    compact = jobs("compact", lambda: compact_segments(io))
    assert base_only <= 6 and segmented <= 15 and compact <= 21, \
        (base_only, segmented, compact)
