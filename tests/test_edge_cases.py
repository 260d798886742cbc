"""Adversarial edge cases: exact score ties, empty index hits, lang-aware
build path, spark-submit packaging."""

import os
import subprocess
import sys

import pytest


def test_exact_ties_break_by_doc_id(spark, tmp_path):
    """Two docs with identical text → identical BM25 score; order must be
    deterministic (doc_id asc), matching the oracle tie rule."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index_from_docs
    from ipfs_search_spark.plans.query import search

    rows = [(str(i), i, "alpha beta gamma", "en", "ok") for i in (5, 1, 9)]
    rows += [(str(i), i, "alpha delta", "en", "ok") for i in (2, 7)]
    docs = spark.createDataFrame(
        rows, "url string, doc_id long, text string, lang string, status string")
    io = TableIO(spark, str(tmp_path / "ties"))
    build_index_from_docs(spark, docs, io, n_shards=2, n_buckets=4)
    out = search(spark, io, [(0, "alpha")], k=5).collect()
    scores = [r["score"] for r in out]
    ids = [r["doc_id"] for r in out]
    # the two-doc group (higher tf-norm share) and the three-doc group are
    # internally tied; ties must be ordered by doc_id ascending
    assert len(out) == 5
    for i in range(4):
        if abs(scores[i] - scores[i + 1]) < 1e-12:
            assert ids[i] < ids[i + 1]


def test_and_mode_shard_missing_term(spark, tmp_path):
    """AND semantics across shards: a shard that contains NO postings for one
    query term must yield zero AND matches from that shard (the expected
    group count comes from the query, not from rows present per shard)."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index_from_docs
    from ipfs_search_spark.plans.query import search

    rows = [(str(i), i, "common filler words here", "en", "ok")
            for i in range(40)]
    rows.append(("rare", 1000, "common rareword", "en", "ok"))
    docs = spark.createDataFrame(
        rows, "url string, doc_id long, text string, lang string, status string")
    io = TableIO(spark, str(tmp_path / "andix"))
    build_index_from_docs(spark, docs, io, n_shards=8, n_buckets=4)
    hits = search(spark, io, [(0, "common rareword")], k=50,
                  mode="and").collect()
    assert [r["doc_id"] for r in hits] == [1000]


def test_unknown_terms_and_empty_results(spark, built_index):
    from ipfs_search_spark.plans.query import search
    io, _ = built_index
    assert search(spark, io, [(0, "qqqzzzz")], k=5).count() == 0
    assert search(spark, io, [(0, "")], k=5).count() == 0
    # negation-only query = match-all minus the term's docs (OpenSearch
    # query_string semantics for pure-prohibit queries)
    neg = search(spark, io, [(0, "-data")], k=10**6).collect()
    assert len(neg) > 0
    with_data = {r["doc_id"] for r in
                 search(spark, io, [(0, "data")], k=10**6).collect()}
    n_ok = io.read("documents").filter("status = 'ok'").count()
    assert len(neg) == n_ok - len(with_data)
    assert not ({r["doc_id"] for r in neg} & with_data)


def test_lang_aware_build_path(spark, tmp_path):
    """lang_aware=True routes tokenization through the CJK-capable pandas
    UDF; CJK doc must be retrievable by single Han character."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import (
        INDEX_STATS_DDL, build_postings, term_stats_of,
    )
    from ipfs_search_spark.plans.query import search

    docs = spark.createDataFrame(
        [("a", 1, "搜索 engine", "zh", "ok"),
         ("b", 2, "plain engine text", "en", "ok")],
        "url string, doc_id long, text string, lang string, status string")
    io = TableIO(spark, str(tmp_path / "cjk"))
    io.write(docs, "documents")
    docs = io.read("documents")
    postings = build_postings(docs, n_shards=2, n_buckets=4, lang_aware=True)
    io.write(postings, "postings", partition_by=["bucket"])
    io.write(term_stats_of(io.read("postings")), "term_stats")
    # lang-aware dl is 3 tokens for each doc (搜,索,engine / plain,engine,text)
    io.write(spark.createDataFrame([(2, 3.0, 2, 4, 128, False, 6)],
                                   INDEX_STATS_DDL), "index_stats")
    hits = search(spark, io, [(0, "搜")], k=5).collect()
    assert [r["doc_id"] for r in hits] == [1]


def test_pyfiles_package_builds():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(["sh", "scripts/make_pyfiles.sh"], cwd=repo,
                       capture_output=True, text=True)
    assert r.returncode == 0, r.stderr
    assert os.path.exists(os.path.join(repo, "dist/ipfs_search_spark.zip"))
    import zipfile
    names = zipfile.ZipFile(
        os.path.join(repo, "dist/ipfs_search_spark.zip")).namelist()
    assert "ipfs_search_spark/plans/query.py" in names
    assert "ipfs_search_spark/functions/codec.py" in names
