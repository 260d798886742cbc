"""Resumable per-partition build: skip-completed semantics, metrics lineage,
and rank-identity of an index assembled from checkpointed steps."""

import shutil
import tempfile

import pytest

from ipfs_search_spark.catalog import TableIO
from ipfs_search_spark.checkpoints import (
    CheckpointedBuild, checkpointed_postings_build,
)
from ipfs_search_spark.operators.index_build import (
    INDEX_STATS_DDL, canonical_documents, doc_stats_sums, term_stats_of,
)


@pytest.fixture()
def tmp_io(spark):
    d = tempfile.mkdtemp(prefix="isx-ckpt-")
    yield TableIO(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def test_run_partitioned_skips_completed(spark, tmp_io):
    calls = []

    def fn(p):
        calls.append(p)
        return spark.createDataFrame([(p, 1)], "part string, v int")

    cb = CheckpointedBuild(spark, tmp_io, "b1")
    r1 = cb.run_partitioned(["p0", "p1"], fn, "out")
    assert not r1["p0"]["skipped"] and not r1["p1"]["skipped"]
    r2 = cb.run_partitioned(["p0", "p1", "p2"], fn, "out")
    assert r2["p0"]["skipped"] and r2["p1"]["skipped"]
    assert not r2["p2"]["skipped"]
    assert calls == ["p0", "p1", "p2"]  # p0/p1 ran exactly once
    assert tmp_io.read("out").count() == 3
    m = cb.metrics().collect()
    assert {r["partition"] for r in m} == {"p0", "p1", "p2"}
    assert all(r["rows_per_sec"] > 0 for r in m)
    # a different build_id sees a clean slate
    assert CheckpointedBuild(spark, tmp_io, "b2").completed() == set()


def test_checkpointed_index_matches_direct(spark, pages, tmp_io, built_index):
    """Index assembled via checkpointed bucket steps must answer queries
    identically to the directly-built index."""
    from ipfs_search_spark.plans.query import search

    docs = canonical_documents(pages, max_bytes=1 << 15)
    tmp_io.write(docs, "documents")
    n_docs, total_dl = doc_stats_sums(tmp_io.read("documents"))
    report = checkpointed_postings_build(
        spark, tmp_io, "bx", n_buckets=16, n_shards=4,
        buckets_per_step=4)
    assert sum(1 for v in report.values() if not v.get("skipped")) == 4
    # resume: nothing re-runs
    report2 = checkpointed_postings_build(
        spark, tmp_io, "bx", n_buckets=16, n_shards=4,
        buckets_per_step=4)
    assert all(v.get("skipped") for v in report2.values())

    # expose checkpointed output under the standard table names + stats
    pc = tmp_io.read("postings_ckpt")
    tmp_io.write(pc, "postings", partition_by=["bucket"])
    tmp_io.write(term_stats_of(pc), "term_stats")
    tmp_io.write(spark.createDataFrame(
        [(n_docs, total_dl / n_docs, 4, 16, 128, False, total_dl)],
        INDEX_STATS_DDL), "index_stats")

    io_direct, _ = built_index
    queries = [(0, "data spark"), (1, "index merge block")]
    a = search(spark, tmp_io, queries, k=10).collect()
    b = search(spark, io_direct, queries, k=10).collect()
    assert [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in a] == \
           [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in b]


def test_checkpointed_positional_build_has_positions(spark, pages, tmp_io):
    """The resumable bucket-sliced build writes positional blocks when asked;
    a resume skips completed steps and the result decodes positions."""
    from ipfs_search_spark.checkpoints import checkpointed_postings_build
    from ipfs_search_spark.functions.codec import (
        decode_block, decode_block_positions,
    )
    from ipfs_search_spark.operators.index_build import canonical_documents

    io = tmp_io
    io.write(canonical_documents(pages), "documents")
    rep1 = checkpointed_postings_build(spark, io, "bpos", n_buckets=8,
                                       n_shards=2, buckets_per_step=4,
                                       positions=True)
    assert all(not v.get("skipped") for v in rep1.values())
    rep2 = checkpointed_postings_build(spark, io, "bpos", n_buckets=8,
                                       n_shards=2, buckets_per_step=4,
                                       positions=True)
    assert all(v.get("skipped") for v in rep2.values())
    blk = io.read("postings_ckpt").select("blocks").first()["blocks"][0]
    _, tfs, _ = decode_block(blk)
    assert decode_block_positions(blk, tfs).size == tfs.sum()


@pytest.mark.parametrize("positions", [False, True])
def test_checkpointed_postings_equal_direct_build(spark, pages, tmp_io,
                                                  positions):
    """The checkpointed build feeds the encoder aggregated (doc, term) rows,
    build_postings feeds it raw token rows; both must emit the same
    postings rows byte for byte, every block field included."""
    from ipfs_search_spark.operators.index_build import build_postings

    tmp_io.write(canonical_documents(pages), "documents")
    checkpointed_postings_build(spark, tmp_io, "beq", n_buckets=8,
                                n_shards=2, buckets_per_step=4,
                                positions=positions)

    def rows(df):
        return sorted((r["term"], r["shard"], r["bucket"], r["df_part"],
                       r["cf_part"], [b.asDict() for b in r["blocks"]])
                      for r in df.collect())

    ckpt = rows(tmp_io.read("postings_ckpt"))
    direct = rows(build_postings(tmp_io.read("documents"), n_shards=2,
                                 n_buckets=8, positions=positions))
    assert ckpt and ckpt == direct
    assert all((b["pos"] is not None) == positions
               for r in ckpt for b in r[5])
