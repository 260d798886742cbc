"""Incremental segment querying: base index + streamed micro-batch segments
must answer queries identically to a from-scratch rebuild over the union."""

import tempfile

import pyspark.sql.functions as F
import pytest

from ipfs_search_spark.catalog import TableIO
from ipfs_search_spark.fixtures import pages_df
from ipfs_search_spark.operators.index_build import build_index
from ipfs_search_spark.plans.query import Searcher
from ipfs_search_spark.streaming.ingest_stream import (
    incremental_index_microbatch,
)

QUERIES = [(0, "data spark"), (1, "index merge"), (2, "page crawl token")]


def _results(sx, queries=QUERIES, k=10):
    res = {}
    for r in sx.search(queries, k=k).collect():
        res.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9)))
    for v in res.values():
        v.sort()
    return res


def test_segment_union_matches_rebuild(spark):
    all_pages = pages_df(spark, n=400, seed=21).cache()
    # split: first 250 are the base build, rest arrive as two micro-batches
    base = all_pages.limit(250).cache()
    rest = all_pages.subtract(base).cache()
    b1 = rest.limit(70).cache()
    b2 = rest.subtract(b1)

    io_inc = TableIO(spark, tempfile.mkdtemp(prefix="isx-inc-q-"))
    build_index(spark, base, io_inc, n_shards=4, n_buckets=16)
    handle = incremental_index_microbatch(io_inc, n_shards=4, n_buckets=16)
    handle(b1, batch_id=1)
    handle(b2, batch_id=2)

    io_full = TableIO(spark, tempfile.mkdtemp(prefix="isx-full-q-"))
    build_index(spark, all_pages, io_full, n_shards=4, n_buckets=16)

    inc = _results(Searcher(spark, io_inc))  # segments auto-detected
    full = _results(Searcher(spark, io_full))
    assert inc == full


def _scan_read_schemas(df, table):
    """ReadSchema of every parquet scan of `table` in df's formatted plan."""
    import re
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    scan = (r"Location: [^\n]*/" + table +
            r"\b[^\n]*\n(?:.*\n)*?ReadSchema: ([^\n]*)")
    return plan, [m.group(1) for m in re.finditer(scan, plan)]


def test_segmented_searcher_init_reads_no_postings(spark):
    """Searcher init on a segmented index derives global stats from the base
    stats tables and the segments' per-shard df/cf parts — never from the
    base postings (a full postings scan per session at web scale) and never
    from a segment's encoded blocks. Plan-asserted: no base postings scan,
    and the posting_segments scan reads no `blocks` column; the derived
    stats equal a from-scratch aggregation."""
    pages = pages_df(spark, n=300, seed=44).cache()
    base = pages.limit(200).cache()
    rest = pages.subtract(base)

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-seg-init-"))
    build_index(spark, base, io, n_shards=4, n_buckets=16)
    handle = incremental_index_microbatch(io, n_shards=4, n_buckets=16)
    handle(rest, batch_id=1)

    sx = Searcher(spark, io)
    plan, seg_schemas = _scan_read_schemas(sx.term_stats,
                                           "posting_segments")
    # "/postings" never matches ".../posting_segments" (the char after
    # "posting" there is "_"), so this asserts no postings-table scan
    assert "/postings" not in plan
    assert seg_schemas and all("blocks" not in rs for rs in seg_schemas), \
        seg_schemas
    # stats parity vs the legacy full-aggregation path
    legacy = {r["term"]: (r["df"], r["cf"])
              for r in sx.postings.groupBy("term")
              .agg(F.sum("df_part").alias("df"), F.sum("cf_part").alias("cf"))
              .collect()}
    got = {r["term"]: (r["df"], r["cf"]) for r in sx.term_stats.collect()}
    assert got == legacy
    from ipfs_search_spark.operators.index_build import doc_stats_sums
    n_exact, total_exact = doc_stats_sums(io.read("documents"))
    assert (sx.n_docs, sx.avgdl) == (n_exact, total_exact / n_exact)


def test_torn_batch_before_commit_row_is_invisible(spark, monkeypatch):
    """A micro-batch torn at its last append (the segment_doc_stats commit
    row) leaves uncommitted posting_segments rows that no reader counts:
    n_docs, the merged term_stats and every result equal those of the
    index holding only the committed segment, and compaction folds
    exactly that segment."""
    from ipfs_search_spark.operators.index_build import compact_segments
    all_pages = pages_df(spark, n=300, seed=77).cache()
    base = all_pages.limit(200).cache()
    rest = all_pages.subtract(base).cache()
    b1 = rest.limit(50).cache()
    b2 = rest.subtract(b1).cache()
    real_append = TableIO.append_atomic

    def torn(self, df, name):
        if name == "segment_doc_stats":
            raise RuntimeError("torn before the commit row")
        real_append(self, df, name)

    def tear(handle, batch, batch_id):
        with monkeypatch.context() as m:
            m.setattr(TableIO, "append_atomic", torn)
            with pytest.raises(RuntimeError, match="commit row"):
                handle(batch, batch_id=batch_id)

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-torn-"))
    build_index(spark, base, io, n_shards=4, n_buckets=16)
    handle = incremental_index_microbatch(io, n_shards=4, n_buckets=16)
    handle(b1, batch_id=1)
    tear(handle, b2, 2)
    assert io.exists("posting_segments")

    io_ref = TableIO(spark, tempfile.mkdtemp(prefix="isx-torn-ref-"))
    build_index(spark, base, io_ref, n_shards=4, n_buckets=16)
    incremental_index_microbatch(io_ref, n_shards=4, n_buckets=16)(
        b1, batch_id=1)

    want = _index_view(Searcher(spark, io_ref))
    assert _index_view(Searcher(spark, io)) == want
    assert compact_segments(io)["segments_folded"] == 1
    assert _index_view(Searcher(spark, io)) == want


def _index_view(sx):
    return (sx.n_docs, sorted(tuple(r) for r in sx.term_stats.collect()),
            _results(sx))


def test_legacy_segment_without_stats_raises(spark):
    """A postings segment with no segment_doc_stats row (written by code
    predating the commit row, or a batch torn before it) is never counted:
    on a base index the Searcher equals the base-only index, and with no
    base Searcher init raises instead of serving postings that no n_docs
    covers."""
    all_pages = pages_df(spark, n=300, seed=77).cache()
    base = all_pages.limit(200).cache()
    rest = all_pages.subtract(base).cache()

    io_inc = TableIO(spark, tempfile.mkdtemp(prefix="isx-legacyseg-"))
    build_index(spark, base, io_inc, n_shards=4, n_buckets=16)
    incremental_index_microbatch(io_inc, n_shards=4, n_buckets=16)(
        rest, batch_id=1)
    io_inc.drop("segment_doc_stats")
    assert io_inc.exists("posting_segments")

    io_base = TableIO(spark, tempfile.mkdtemp(prefix="isx-legacyseg-base-"))
    build_index(spark, base, io_base, n_shards=4, n_buckets=16)
    assert _index_view(Searcher(spark, io_inc)) == \
        _index_view(Searcher(spark, io_base))

    io_seg = TableIO(spark, tempfile.mkdtemp(prefix="isx-legacyseg-only-"))
    incremental_index_microbatch(io_seg, n_shards=4, n_buckets=16)(
        rest, batch_id=1)
    io_seg.drop("segment_doc_stats")
    assert io_seg.exists("posting_segments")
    with pytest.raises(ValueError, match="no index here"):
        Searcher(spark, io_seg)


def test_segments_only_index_matches_rebuild(spark):
    """An index made of micro-batch appends alone (no base build, so no
    index_stats) answers filtered, filter-leaf, default-true and match-all
    queries exactly like a from-scratch build (a negative term's postings
    span several segment rows in one shard): the segments record n_shards, so
    the per-doc rows route to the right shard."""
    all_pages = pages_df(spark, n=300, seed=31).cache()
    b1 = all_pages.limit(120).cache()
    b2 = all_pages.subtract(b1)

    io_seg = TableIO(spark, tempfile.mkdtemp(prefix="isx-segonly-"))
    handle = incremental_index_microbatch(io_seg, n_shards=4, n_buckets=16)
    handle(b1, batch_id=1)
    handle(b2, batch_id=2)
    assert not io_seg.exists("postings") and not io_seg.exists("index_stats")

    io_full = TableIO(spark, tempfile.mkdtemp(prefix="isx-segonly-full-"))
    build_index(spark, all_pages, io_full, n_shards=4, n_buckets=16)

    queries = [(0, "data lang:de"), (1, "lang:de OR data"),
               (2, "data OR NOT lang:de"), (3, "lang:de -spark"),
               (4, "-data")]
    seg = _results(Searcher(spark, io_seg), queries)
    assert seg == _results(Searcher(spark, io_full), queries)
    assert all(seg.get(q) for q, _ in queries)

    # a later segment appended with another n_shards: no single doc→shard
    # route, raise
    incremental_index_microbatch(io_seg, n_shards=2, n_buckets=16)(
        all_pages.limit(20).withColumn("url", F.concat("url", F.lit("?v3"))),
        batch_id=3)
    with pytest.raises(ValueError, match="disagree on n_shards"):
        Searcher(spark, io_seg)
    # segment stats written without n_shards: no doc→shard route, raise
    rows = [tuple(r) for r in io_seg.read("segment_doc_stats")
            .select("segment_id", "n_docs", "total_dl").collect()]
    io_seg.write_rows("segment_doc_stats", rows,
                      "segment_id long, n_docs long, total_dl long")
    with pytest.raises(ValueError, match="n_shards"):
        Searcher(spark, io_seg)


def test_compact_segments_matches_rebuild(spark):
    """N micro-batch appends → compact_segments → Searcher reads BASE
    tables only (segments gone, plan-asserted no postings/segment scan in
    the stats plan), every score bit-identical to both the pre-compaction
    segmented index and a from-scratch rebuild, and the from-scratch
    layout invariant (ONE posting row per (term, shard)) restored."""
    from ipfs_search_spark.operators.index_build import compact_segments
    all_pages = pages_df(spark, n=400, seed=91).cache()
    base = all_pages.limit(250).cache()
    rest = all_pages.subtract(base).cache()
    b1 = rest.limit(70).cache()
    b2 = rest.subtract(b1)

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-compact-"))
    build_index(spark, base, io, n_shards=4, n_buckets=16)
    handle = incremental_index_microbatch(io, n_shards=4, n_buckets=16)
    handle(b1, batch_id=1)
    handle(b2, batch_id=2)
    before = _results(Searcher(spark, io))

    out = compact_segments(io)
    assert out["segments_folded"] == 2
    for t in ("posting_segments", "segment_doc_stats",
              "_compaction_manifest",
              "_compacting_postings", "_compacting_term_stats"):
        assert not io.exists(t), t

    sx = Searcher(spark, io)  # no segments left
    after = _results(sx)
    assert after == before
    io_full = TableIO(spark, tempfile.mkdtemp(prefix="isx-compactfull-"))
    build_index(spark, all_pages, io_full, n_shards=4, n_buckets=16)
    assert after == _results(Searcher(spark, io_full))

    # one docid-sorted posting row per (term, shard) — rebuild layout
    assert (io.read("postings").groupBy("term", "shard").count()
            .filter("count > 1").count()) == 0
    # stats came from index_stats + term_stats alone: no postings or
    # segment-table scan anywhere in the term_stats plan
    plan = sx.term_stats._sc._jvm.PythonSQLUtils.explainString(
        sx.term_stats._jdf.queryExecution(), "formatted")
    assert "/postings" not in plan and "segment" not in plan
    # idempotent no-op on an already-compacted index
    assert compact_segments(io)["segments_folded"] == 0


def test_compact_segments_resumes_after_crash(spark, monkeypatch):
    """A crash between the manifest commit point and the install leaves
    the live index untouched; re-invoking compact_segments resumes the
    install from the manifest and completes it."""
    import ipfs_search_spark.operators.index_build as ib
    all_pages = pages_df(spark, n=250, seed=92).cache()
    base = all_pages.limit(180).cache()
    rest = all_pages.subtract(base).cache()

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-compactcrash-"))
    build_index(spark, base, io, n_shards=4, n_buckets=16)
    handle = incremental_index_microbatch(io, n_shards=4, n_buckets=16)
    handle(rest, batch_id=1)
    before = _results(Searcher(spark, io))

    real_install = ib._install_compaction
    monkeypatch.setattr(ib, "_install_compaction",
                        lambda _io: (_ for _ in ()).throw(
                            RuntimeError("crash at commit point")))
    with pytest.raises(RuntimeError, match="commit point"):
        ib.compact_segments(io)
    # manifest committed, live tables untouched (still segmented + correct)
    assert io.exists(ib.COMPACTION_MANIFEST)
    assert io.exists("posting_segments")
    assert _results(Searcher(spark, io)) == before

    monkeypatch.setattr(ib, "_install_compaction", real_install)
    out = ib.compact_segments(io)  # resumes from the manifest
    assert out["segments_folded"] == 1
    assert not io.exists(ib.COMPACTION_MANIFEST)
    assert _results(Searcher(spark, io)) == before


def test_compact_segments_positional(spark):
    """Compaction preserves positions: phrase queries over the compacted
    index match the segmented union bit-for-bit."""
    from ipfs_search_spark.operators.index_build import compact_segments
    all_pages = pages_df(spark, n=300, seed=93).cache()
    base = all_pages.limit(200).cache()
    rest = all_pages.subtract(base).cache()

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-compactpos-"))
    build_index(spark, base, io, n_shards=4, n_buckets=16, positions=True)
    handle = incremental_index_microbatch(io, n_shards=4, n_buckets=16,
                                          positions=True)
    handle(rest, batch_id=1)
    phrase_qs = [(0, '"data spark"'), (1, 'value "table key"~2')]
    before = _results(Searcher(spark, io), queries=phrase_qs)
    compact_segments(io)
    sx = Searcher(spark, io)
    assert sx.positional
    assert _results(sx, queries=phrase_qs) == before
    assert any(before.values())


def test_compact_segments_refuses_uncovered_segment(spark):
    """A postings segment without its segment_doc_stats commit row is not
    folded (its df/n_docs would be counted without a record of them):
    compaction folds nothing and leaves the base tables as they were."""
    from ipfs_search_spark.operators.index_build import compact_segments
    all_pages = pages_df(spark, n=200, seed=94).cache()
    base = all_pages.limit(150).cache()
    rest = all_pages.subtract(base).cache()

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-compactlegacy-"))
    build_index(spark, base, io, n_shards=4, n_buckets=16)
    incremental_index_microbatch(io, n_shards=4, n_buckets=16)(
        rest, batch_id=1)
    io.drop("segment_doc_stats")
    before = _index_view(Searcher(spark, io))
    stats = io.read("index_stats").collect()
    assert compact_segments(io) == {"segments_folded": 0}
    assert io.read("index_stats").collect() == stats
    assert _index_view(Searcher(spark, io)) == before


def test_resighted_urls_not_reindexed(spark):
    pages = pages_df(spark, n=120, seed=5).cache()
    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-reseen-"))
    build_index(spark, pages, io, n_shards=2, n_buckets=8)
    n_docs_before = io.read("documents").count()
    handle = incremental_index_microbatch(io, n_shards=2, n_buckets=8)
    handle(pages.limit(50), batch_id=7)  # all urls already known
    assert io.read("documents").count() == n_docs_before
    assert not io.exists("posting_segments")  # nothing new → no segment


def test_positional_segments_phrase_over_union(spark):
    """Phrase queries spanning base + streamed positional segments match a
    from-scratch positional rebuild."""
    all_pages = pages_df(spark, n=300, seed=33).cache()
    base = all_pages.limit(200).cache()
    rest = all_pages.subtract(base).cache()

    io_inc = TableIO(spark, tempfile.mkdtemp(prefix="isx-incpos-"))
    build_index(spark, base, io_inc, n_shards=4, n_buckets=16,
                positions=True)
    handle = incremental_index_microbatch(io_inc, n_shards=4, n_buckets=16,
                                          positions=True)
    handle(rest, batch_id=1)

    io_full = TableIO(spark, tempfile.mkdtemp(prefix="isx-fullpos-"))
    build_index(spark, all_pages, io_full, n_shards=4, n_buckets=16,
                positions=True)

    phrase_qs = [(0, '"data spark"'), (1, 'value "table key"')]
    inc = _results(Searcher(spark, io_inc), queries=phrase_qs)
    full = _results(Searcher(spark, io_full), queries=phrase_qs)
    assert inc == full
    assert any(inc.values())  # phrase actually matched something
