"""The index tables' one reader (open_index) and its writers: compaction
of base + appended segments reproduces a from-scratch build byte for byte,
and opening or compacting an index runs a bounded number of Spark jobs."""

import re
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


@pytest.mark.parametrize("positions,block_size", [
    (False, 128), (True, 128), (False, 16), (True, 16)],
    ids=["False", "True", "False-16", "True-16"])
def test_compaction_equals_rebuild_bytes(spark, positions, block_size):
    """base (250 pages) + appends of 70 and of the rest, compacted, holds
    the same postings rows (every block field, `pos` included), term_stats
    rows and index_stats row as one build over all 400 pages. At block
    size 16 the touched (term, shard) rows carry multi-block runs; at 128
    every one of them is a single block."""
    all_pages = pages_df(spark, n=400, seed=91).cache()
    base = all_pages.limit(250).cache()
    rest = all_pages.subtract(base).cache()
    b1 = rest.limit(70).cache()
    b2 = rest.subtract(b1)

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-bytes-inc-"))
    build_index(spark, base, io, n_shards=4, n_buckets=16, extract=False,
                positions=positions, block_size=block_size)
    handle = incremental_index_microbatch(io, n_shards=4, n_buckets=16,
                                          positions=positions)
    handle(b1, batch_id=1)
    handle(b2, batch_id=2)
    assert compact_segments(io)["segments_folded"] == 2

    io_full = TableIO(spark, tempfile.mkdtemp(prefix="isx-bytes-full-"))
    build_index(spark, all_pages, io_full, n_shards=4, n_buckets=16,
                extract=False, positions=positions, block_size=block_size)

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


def test_compaction_merges_per_bucket_shard_cell(spark, monkeypatch):
    """Compaction's merge is one pandas call per (bucket, shard) cell, not
    one per (term, shard): its FlatMapGroupsInPandas groups by exactly
    [bucket, shard]."""
    import ipfs_search_spark.operators.index_build as ib
    pages = pages_df(spark, n=160, seed=12).cache()
    base = pages.limit(120).cache()
    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-cellplan-"))
    build_index(spark, base, io, n_shards=2, n_buckets=4, extract=False)
    incremental_index_microbatch(io, n_shards=2, n_buckets=4)(
        pages.subtract(base), batch_id=1)

    plans = []

    def capture(_io, postings, name, _n_buckets):
        plans.append(postings._sc._jvm.PythonSQLUtils.explainString(
            postings._jdf.queryExecution(), "extended"))
        raise RuntimeError("plan captured")

    monkeypatch.setattr(ib, "write_postings", capture)
    with pytest.raises(RuntimeError, match="plan captured"):
        ib.compact_segments(io)
    keys = {re.sub(r"#\d+L?", "", k)
            for k in re.findall(r"FlatMapGroupsInPandas \[([^\]]*)\]",
                                plans[0])}
    assert keys == {"bucket, shard"}, keys


@pytest.mark.parametrize("base_positional", [True, False])
def test_segment_positional_mismatch_raises(spark, base_positional):
    """A micro-batch whose positional flag differs from the base's is a
    segment layout mismatch, in either direction, and raises before it
    writes anything: documents and posting_segments are unchanged."""
    pages = pages_df(spark, n=160, seed=13).cache()
    base = pages.limit(120).cache()
    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-posmismatch-"))
    build_index(spark, base, io, n_shards=2, n_buckets=4, extract=False,
                positions=base_positional)
    rest = pages.subtract(base).cache()
    incremental_index_microbatch(io, n_shards=2, n_buckets=4,
                                 positions=base_positional)(
        rest.limit(20), batch_id=1)
    docs = _rows(io, "documents", "url", "doc_id")
    segs = _rows(io, "posting_segments", "segment_id", *POSTINGS_COLS)
    handle = incremental_index_microbatch(io, n_shards=2, n_buckets=4,
                                          positions=not base_positional)
    with pytest.raises(ValueError, match="segment layout mismatch"):
        handle(rest.subtract(rest.limit(20)), batch_id=2)
    assert _rows(io, "documents", "url", "doc_id") == docs
    assert _rows(io, "posting_segments", "segment_id",
                 *POSTINGS_COLS) == segs


def test_cell_merger_refuses_mixed_positional_cell():
    """A cell whose runs mix positional and non-positional blocks raises
    instead of merging into blocks without positions."""
    import numpy as np
    import pandas as pd
    from ipfs_search_spark.functions.codec import encode_blocks
    from ipfs_search_spark.operators.index_build import _make_cell_merger
    one = np.array([1], dtype=np.int64)
    with_pos = encode_blocks(np.array([5], dtype=np.int64), one, one,
                             positions=np.array([0], dtype=np.int64))
    without = encode_blocks(np.array([9], dtype=np.int64), one, one)
    cell = pd.DataFrame({"term": ["data", "data"], "shard": [0, 0],
                         "bucket": [3, 3], "df_part": [1, 1],
                         "cf_part": [1, 1], "blocks": [with_pos, without]})
    with pytest.raises(ValueError, match="mixes positional"):
        _make_cell_merger(128)(cell)


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
    assert base_only <= 6 and segmented <= 10 and compact <= 16, \
        (base_only, segmented, compact)


def test_segment_postings_use_base_block_size(spark):
    """A segment appended to a block_size=16 base is encoded at 16 too:
    index_stats records one block size for base and segments alike."""
    pages = pages_df(spark, n=400, seed=91).cache()
    base = pages.limit(250).cache()
    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-segblock-"))
    build_index(spark, base, io, n_shards=4, n_buckets=16, extract=False,
                block_size=16)
    incremental_index_microbatch(io, n_shards=4, n_buckets=16)(
        pages.subtract(base), batch_id=1)
    sizes = [blk["n"] for r in io.read("posting_segments")
             .select("blocks").collect() for blk in r["blocks"]]
    assert sizes and max(sizes) <= 16, max(sizes)


def test_postings_files_are_term_sorted(spark):
    """Every postings file holds its rows in term order, so parquet
    row-group min/max stats on `term` can prune `term IN (...)` scans."""
    import glob
    import os

    import pyarrow.parquet as pq
    pages = pages_df(spark, n=400, seed=7)
    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-termsorted-"))
    build_index(spark, pages, io, n_shards=4, n_buckets=16, extract=False)
    files = glob.glob(os.path.join(io._path("postings"), "bucket=*",
                                   "*.parquet"))
    assert files
    for f in files:
        terms = pq.read_table(f, columns=["term"])["term"].to_pylist()
        assert terms == sorted(terms), f
