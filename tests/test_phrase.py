"""Phrase queries over the positional index + match-all filter queries.

The reference's index stores `term_vector: with_positions_offsets`
(/root/reference/docs/indices/files.json:93) and its query surface is
OpenSearch query_string (/root/reference/docs/api.md:4) where quoted phrases
require adjacency. Our contract (plans/parser.py): quoted phrases are
required clauses; their terms also score; `-"a b"` excludes phrase matches;
filter-only queries are match-all-then-filter ranked by doc_id, run
through the same per-shard scorer as every other query.
"""

import numpy as np
import pytest

from ipfs_search_spark.oracle import BM25Oracle
from ipfs_search_spark.plans.query import Searcher, search


@pytest.fixture(scope="module")
def pos_index(spark, pages, tmp_path_factory):
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index
    d = str(tmp_path_factory.mktemp("isx-pos-index"))
    io = TableIO(spark, d)
    stats = build_index(spark, pages, io, n_shards=4, n_buckets=16,
                        max_bytes=1 << 15, positions=True)
    assert stats["positional"] is True
    return io, stats


@pytest.fixture(scope="module")
def oracle(pos_index):
    io, _ = pos_index
    docs = io.read("documents").filter("status = 'ok'").select(
        "doc_id", "text").collect()
    return BM25Oracle({r["doc_id"]: r["text"] for r in docs})


def _run(spark, io, queries, k=10, **kw):
    out = search(spark, io, queries, k=k, **kw).collect()
    res = {}
    for r in out:
        res.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for v in res.values():
        v.sort()
    return res


# --- positional codec ------------------------------------------------------

def test_positions_roundtrip_random():
    from ipfs_search_spark.functions.codec import (
        decode_block, decode_block_positions, encode_blocks,
    )
    rng = np.random.default_rng(11)
    n = 700
    ids = np.unique(rng.integers(-2**62, 2**62, n).astype(np.int64))
    tfs = rng.integers(1, 7, ids.size).astype(np.int64)
    dls = rng.integers(5, 300, ids.size).astype(np.int64)
    pos = np.concatenate([
        np.sort(rng.choice(100000, t, replace=False)) for t in tfs
    ]).astype(np.int64)
    starts = np.zeros(ids.size, np.int64)
    np.cumsum(tfs[:-1], out=starts[1:])
    # shuffled posting order exercises the encoder's internal sort+permute
    perm = rng.permutation(ids.size)
    pos_shuf = np.concatenate(
        [pos[starts[i]:starts[i] + tfs[i]] for i in perm])
    blocks = encode_blocks(ids[perm], tfs[perm], dls[perm],
                           positions=pos_shuf, block_size=128)
    got_ids, got_pos = [], []
    for b in blocks:
        i, t, _ = decode_block(b)
        got_ids.append(i)
        got_pos.append(decode_block_positions(b, t))
    order = np.argsort(ids.view(np.uint64))
    assert (np.concatenate(got_ids) == ids[order]).all()
    exp = np.concatenate([pos[starts[i]:starts[i] + tfs[i]] for i in order])
    assert (np.concatenate(got_pos) == exp).all()


def test_nonpositional_block_has_null_pos(built_index):
    io, _ = built_index
    blk = io.read("postings").select("blocks").first()["blocks"][0]
    assert blk["pos"] is None


# --- phrase rank identity --------------------------------------------------

PHRASE_QUERIES = [
    (0, '"data spark"'),
    (1, '"data data"'),
    (2, '"spark index" data'),
    (3, '"token page crawl"'),
    (4, '"data zzzznotaterm"'),
    (5, 'value "table key"'),
]


def _oracle_phrase(oracle, terms, phrases, k=10, mode="or"):
    allt = sorted(set(terms) | {t for ph in phrases for t in ph})
    return oracle.search(allt, k=k, mode=mode, phrases=phrases)


def test_phrase_rank_identity(spark, pos_index, oracle):
    io, _ = pos_index
    engine = _run(spark, io, PHRASE_QUERIES, k=10)
    specs = {
        0: ([], [["data", "spark"]]),
        1: ([], [["data", "data"]]),
        2: (["data"], [["spark", "index"]]),
        3: ([], [["token", "page", "crawl"]]),
        4: ([], [["data", "zzzznotaterm"]]),
        5: (["value"], [["table", "key"]]),
    }
    n_nonempty = 0
    for qid, (terms, phrases) in specs.items():
        expected = _oracle_phrase(oracle, terms, phrases, k=10)
        got = engine.get(qid, [])
        assert len(got) == len(expected), (qid, got, expected)
        for (rank, doc_id, score), (exp_doc, exp_score) in zip(got, expected):
            assert doc_id == exp_doc, (qid, rank)
            assert abs(score - exp_score) <= 1e-9, (qid, rank)
        n_nonempty += bool(expected)
    # the corpus must actually exercise phrase hits
    assert n_nonempty >= 2


def test_phrase_subset_of_and(spark, pos_index, oracle):
    """Phrase matches ⊆ AND matches of the same terms."""
    io, _ = pos_index
    ph = _run(spark, io, [(0, '"data spark"')], k=10**6).get(0, [])
    anded = _run(spark, io, [(0, "data spark")], k=10**6,
                 mode="and").get(0, [])
    assert {d for _, d, _ in ph} <= {d for _, d, _ in anded}
    assert len(ph) < len(anded)


def test_not_phrase(spark, pos_index, oracle):
    io, _ = pos_index
    got = _run(spark, io, [(0, 'data -"data spark"')], k=10**6).get(0, [])
    got_docs = {d for _, d, _ in got}
    # oracle: docs scoring 'data' minus docs containing the phrase
    exp = {key for key, _ in oracle.search(["data"], k=10**9)
           if not oracle.phrase_match(key, ["data", "spark"])}
    assert got_docs == exp
    # and the phrase-matching docs really existed
    assert any(oracle.phrase_match(k_, ["data", "spark"])
               for k_ in oracle.tokens)


def test_phrase_on_nonpositional_index_raises(spark, built_index):
    io, _ = built_index
    with pytest.raises(ValueError, match="positional"):
        search(spark, io, [(0, '"data spark"')], k=5)


def test_single_word_phrase_is_plain_term(spark, pos_index, oracle):
    io, _ = pos_index
    a = _run(spark, io, [(0, '"data"')], k=10).get(0, [])
    b = _run(spark, io, [(0, "data")], k=10).get(0, [])
    assert a == b


# --- phrase slop ("a b"~N) --------------------------------------------------

def test_slop_parse():
    from ipfs_search_spark.plans.parser import QueryParseError, parse_query
    p = parse_query('"data spark"~2')
    assert p.phrases == [["data", "spark"]] and p.phrase_slops == [2]
    p2 = parse_query('-"data spark"~1 merge')
    assert p2.not_phrases == [["data", "spark"]]
    assert p2.not_phrase_slops == [1]
    p3 = parse_query('("data spark"~3 OR merge) AND index')
    assert p3.bool_phrases == {"ph~3:data spark": ["data", "spark"]}
    assert p3.bool_phrase_slops == {"ph~3:data spark": 3}
    # plain phrases keep slop 0 and the historical leaf key
    p4 = parse_query('("data spark" OR merge) AND index')
    assert p4.bool_phrases == {"ph:data spark": ["data", "spark"]}
    assert p4.bool_phrase_slops == {}
    for bad in ('"data spark"~', '"data spark"~1.5', '"data spark" ~2'):
        with pytest.raises(QueryParseError):
            parse_query(bad)


def test_slop_window_semantics(spark, tmp_path):
    """Deterministic planted positions: `"alpha beta"~N` matches iff one
    position per term exists with adjusted range (pos_beta-1)-(pos_alpha)
    in [-N, N] — in-order matches need at most N intervening tokens, and
    a REORDERED pair matches once N covers the displacement (Lucene slop
    as move edit distance: "beta alpha" needs slop 2)."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index_from_docs
    docs = spark.createDataFrame(
        [("u1", 1, "alpha beta pad", "en", "ok"),
         ("u2", 2, "alpha pad beta", "en", "ok"),
         ("u3", 3, "alpha pad pad beta", "en", "ok"),
         ("u4", 4, "beta alpha pad", "en", "ok"),
         ("u5", 5, "alpha pad pad pad beta", "en", "ok"),
         ("u6", 6, "alpha pad beta pad gamma", "en", "ok"),
         ("u7", 7, "beta pad alpha", "en", "ok")],
        "url string, doc_id long, text string, lang string, status string")
    io = TableIO(spark, str(tmp_path / "slop-ix"))
    build_index_from_docs(spark, docs, io, n_shards=2, n_buckets=4,
                          positions=True)
    # doc 4 "beta alpha": adjusted displacement 2 -> matches at slop >= 2;
    # doc 7 "beta pad alpha": displacement 3 -> matches at slop >= 3
    want = {0: {1}, 1: {1, 2, 6}, 2: {1, 2, 3, 4, 6},
            3: {1, 2, 3, 4, 5, 6, 7}}
    for slop, exp in want.items():
        got = _run(spark, io, [(0, f'"alpha beta"~{slop}')],
                   k=100).get(0, [])
        assert {d for _, d, _ in got} == exp, slop
    # 3-term window: budget is shared across the whole phrase
    g3 = {s: {d for _, d, _ in
              _run(spark, io, [(0, f'"alpha beta gamma"~{s}')],
                   k=100).get(0, [])}
          for s in (1, 2, 3)}
    assert g3 == {1: set(), 2: {6}, 3: {6}}
    # reversed 2-term phrase mirrors the displacement rule
    g_rev = {s: {d for _, d, _ in
                 _run(spark, io, [(0, f'"beta alpha"~{s}')],
                      k=100).get(0, [])}
             for s in (0, 1, 2)}
    assert g_rev == {0: {4}, 1: {4, 7}, 2: {1, 4, 7}}


def test_slop_repeated_term_needs_distinct_positions(spark, tmp_path):
    """A repeated phrase term must bind TWO occurrences: one 'alpha'
    cannot satisfy `"alpha alpha"~N` at any slop (Lucene repeats rule)."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index_from_docs
    docs = spark.createDataFrame(
        [("u1", 1, "alpha pad pad", "en", "ok"),
         ("u2", 2, "alpha alpha pad", "en", "ok"),
         ("u3", 3, "alpha pad alpha", "en", "ok"),
         ("u4", 4, "pad alpha pad beta alpha", "en", "ok")],
        "url string, doc_id long, text string, lang string, status string")
    io = TableIO(spark, str(tmp_path / "slop-rep-ix"))
    build_index_from_docs(spark, docs, io, n_shards=2, n_buckets=4,
                          positions=True)
    got = {s: {d for _, d, _ in
               _run(spark, io, [(0, f'"alpha alpha"~{s}')],
                    k=100).get(0, [])}
           for s in (0, 1, 2, 3)}
    # doc1 has ONE alpha: never matches. doc2 adjacent: slop 0. doc3 gap
    # 1: slop 1. doc4 positions 1,4 (gap 2): slop 2.
    assert got == {0: {2}, 1: {2, 3}, 2: {2, 3, 4}, 3: {2, 3, 4}}
    # brute-force oracle agrees on the distinctness rule
    from ipfs_search_spark.oracle import BM25Oracle
    rows = [(r["url"], r["text"]) for r in docs.collect()]
    orc = BM25Oracle({u: t for u, t in rows})
    for s, exp in got.items():
        urls = {u for u, _ in rows
                if orc.phrase_match(u, ["alpha", "alpha"], s)}
        assert {int(u[1:]) for u in urls} == exp, s


def test_slop_zero_is_exact_adjacency(spark, pos_index):
    io, _ = pos_index
    a = _run(spark, io, [(0, '"data spark"')], k=10**6).get(0, [])
    b = _run(spark, io, [(0, '"data spark"~0')], k=10**6).get(0, [])
    assert a == b and a


def test_slop_rank_identity(spark, pos_index, oracle):
    """Engine vs brute-force DFS oracle on the fixture corpus, growing
    monotonically with slop and bounded by the AND doc set."""
    io, _ = pos_index
    prev: set = set()
    anded = {d for _, d, _ in
             _run(spark, io, [(0, "data spark")], k=10**6,
                  mode="and").get(0, [])}
    for slop in (0, 1, 3, 8):
        got = _run(spark, io, [(0, f'"data spark"~{slop}')],
                   k=10**6).get(0, [])
        exp = oracle.search(["data", "spark"], k=10**6,
                            phrases=[["data", "spark"]], slops=[slop])
        assert [d for _, d, _ in got] == [d for d, _ in exp], slop
        for (_, _, s_got), (_, s_exp) in zip(got, exp):
            assert abs(s_got - s_exp) <= 1e-9
        cur = {d for _, d, _ in got}
        assert prev <= cur <= anded
        prev = cur
    assert len(prev) > len(
        {d for _, d, _ in _run(spark, io, [(0, '"data spark"')],
                               k=10**6).get(0, [])})


def test_slop_negation_and_tree_leaf(spark, pos_index, oracle):
    io, _ = pos_index
    # -"a b"~N excludes the sloppy matches
    got = _run(spark, io, [(0, 'data -"data spark"~2')], k=10**6).get(0, [])
    exp = {key for key, _ in oracle.search(["data"], k=10**9)
           if not oracle.phrase_match(key, ["data", "spark"], 2)}
    assert {d for _, d, _ in got} == exp
    # tree leaf: ("a b"~2 OR zzz) AND data == sloppy-phrase ∩ data here
    tree = _run(spark, io, [(0, '("data spark"~2 OR zzznotaterm) AND data')],
                k=10**6).get(0, [])
    solo = _run(spark, io, [(0, '"data spark"~2')], k=10**6).get(0, [])
    assert {d for _, d, _ in tree} == {d for _, d, _ in solo}


# --- match-all / filter-only ----------------------------------------------

def test_match_all_filter_only(spark, pos_index):
    io, _ = pos_index
    sx = Searcher(spark, io)
    got = _run(spark, io, [(0, "lang:en")], k=15).get(0, [])
    docs = io.read("documents") \
        .filter("lang = 'en' AND status = 'ok'") \
        .select("doc_id").collect()
    exp = sorted(r["doc_id"] for r in docs)[:15]
    assert [d for _, d, _ in got] == exp
    assert all(s == 1.0 for _, _, s in got)
    assert [r for r, _, _ in got] == list(range(1, len(exp) + 1))
    assert sx.n_docs > 0  # searcher healthy on the same tables


def test_match_all_with_negation(spark, pos_index, oracle):
    io, _ = pos_index
    got = _run(spark, io, [(0, "lang:en -data")], k=10**6).get(0, [])
    docs = {r["doc_id"]: r for r in io.read("documents")
            .filter("lang = 'en' AND status = 'ok'")
            .select("doc_id").collect()}
    exp = sorted(d for d in docs
                 if d not in oracle.tf or "data" not in oracle.tf[d])
    assert [d for _, d, _ in got] == exp


def test_match_all_mixed_batch(spark, pos_index, oracle):
    """A batch mixing scored, phrase, and match-all queries keeps each
    query's semantics."""
    io, _ = pos_index
    engine = _run(spark, io, [(0, "data"), (1, "lang:de"),
                              (2, '"data spark"')], k=5)
    exp0 = oracle.search(["data"], k=5)
    assert [d for _, d, _ in engine.get(0, [])] == [d for d, _ in exp0]
    de = sorted(r["doc_id"] for r in io.read("documents")
                .filter("lang = 'de' AND status = 'ok'")
                .select("doc_id").collect())[:5]
    assert [d for _, d, _ in engine.get(1, [])] == de
    exp2 = _oracle_phrase(oracle, [], [["data", "spark"]], k=5)
    assert [d for _, d, _ in engine.get(2, [])] == [d for d, _ in exp2]


# --- CJK (lang-aware) positional build ------------------------------------

def test_cjk_phrase(spark, tmp_path):
    """Lang-aware positional build: each Han codepoint is a token, so a CJK
    word query is a phrase of adjacent single-char terms."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index_from_docs
    docs = spark.createDataFrame(
        [("a", 1, "搜索 引擎 engine", "zh", "ok"),
         ("b", 2, "索搜 reversed 引擎", "zh", "ok"),
         ("c", 3, "plain engine text", "en", "ok")],
        "url string, doc_id long, text string, lang string, status string")
    io = TableIO(spark, str(tmp_path / "cjkpos"))
    stats = build_index_from_docs(spark, docs, io, n_shards=2, n_buckets=4,
                                  positions=True, lang_aware=True)
    assert stats["positional"]
    hits = _run(spark, io, [(0, '"搜索"'), (1, "搜"), (2, '"引擎" engine')],
                k=10)
    # phrase "搜索" matches only doc 1 (adjacent 搜,索); doc 2 has them reversed
    assert [d for _, d, _ in hits.get(0, [])] == [1]
    # single char matches both CJK docs
    assert {d for _, d, _ in hits.get(1, [])} == {1, 2}
    # phrase 引擎 adjacent in docs 1 and 2; 'engine' also scores
    assert {d for _, d, _ in hits.get(2, [])} == {1, 2}


# --- compaction keeps positions -------------------------------------------

def test_merge_term_shards_preserves_positions(spark, pos_index):
    from ipfs_search_spark.functions.codec import (
        decode_block, decode_block_positions,
    )
    from ipfs_search_spark.operators.index_build import merge_term_shards
    io, _ = pos_index
    merged = merge_term_shards(io.read("postings").filter("term = 'data'"))
    row = merged.collect()[0]
    total = 0
    for blk in row["blocks"]:
        ids, tfs, _ = decode_block(blk)
        pos = decode_block_positions(blk, tfs)
        assert pos.size == tfs.sum()
        total += ids.size
    assert total == row["df_part"]


# --- paging + references filter (reference API surface) --------------------

def test_offset_paging(spark, pos_index):
    io, _ = pos_index
    full = _run(spark, io, [(0, "data spark")], k=10).get(0, [])
    page2 = _run(spark, io, [(0, "data spark")], k=4, offset=3).get(0, [])
    assert page2 == full[3:7]  # global ranks 4..7, identical docs/scores
    # paging composes with phrases and match-all
    ph_full = _run(spark, io, [(0, '"data spark"')], k=8).get(0, [])
    ph_p2 = _run(spark, io, [(0, '"data spark"')], k=4, offset=4).get(0, [])
    assert ph_p2 == ph_full[4:8]
    ma_full = _run(spark, io, [(0, "lang:en")], k=10).get(0, [])
    ma_p2 = _run(spark, io, [(0, "lang:en")], k=5, offset=5).get(0, [])
    assert ma_p2 == ma_full[5:10]


def test_references_name_filter(spark, tmp_path):
    """The reference API's `references.name:epub` filter over the inbound
    references array (/root/reference/docs/api.md:4)."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index_from_docs
    from pyspark.sql import functions as F
    docs = spark.createDataFrame(
        [("u1", 1, "data alpha", "en", "ok",
          [{"parent_hash": "p1", "name": "epub"}]),
         ("u2", 2, "data beta", "en", "ok",
          [{"parent_hash": "p2", "name": "pdf"}]),
         ("u3", 3, "data gamma", "en", "ok",
          [{"parent_hash": "p3", "name": "epub"},
           {"parent_hash": "p4", "name": "txt"}]),
         ("u4", 4, "data delta", "en", "ok", [])],
        "url string, doc_id long, text string, lang string, status string, "
        "references array<struct<parent_hash:string,name:string>>")
    io = TableIO(spark, str(tmp_path / "refs-ix"))
    build_index_from_docs(spark, docs, io, n_shards=2, n_buckets=4)
    got = _run(spark, io, [(0, "data references.name:epub"),
                           (1, "references.name:epub"),
                           (2, "data references.name:zzz")], k=10)
    assert {d for _, d, _ in got.get(0, [])} == {1, 3}
    assert [d for _, d, _ in got.get(1, [])] == [1, 3]  # match-all + filter
    assert got.get(2, []) == []


def test_negated_filter(spark, pos_index):
    """-lang:de = must_not (review finding: previously parsed as a
    POSITIVE filter, inverting user intent)."""
    io, _ = pos_index
    pos = {d for _, d, _ in _run(spark, io, [(0, "data lang:de")],
                                 k=10**6).get(0, [])}
    neg = {d for _, d, _ in _run(spark, io, [(0, "data -lang:de")],
                                 k=10**6).get(0, [])}
    alld = {d for _, d, _ in _run(spark, io, [(0, "data")],
                                  k=10**6).get(0, [])}
    assert pos and neg
    assert pos | neg == alld and not (pos & neg)


def test_references_filter_on_index_without_column(spark, pos_index):
    """references.name on a normally-built index (no references column):
    positive filter matches nothing; negated filter matches everything —
    never an AnalysisException (review finding)."""
    io, _ = pos_index
    got = _run(spark, io, [(0, "data references.name:epub"),
                           (1, "references.name:epub"),
                           (2, "data -references.name:epub")], k=10**6)
    assert got.get(0, []) == []
    assert got.get(1, []) == []
    alld = _run(spark, io, [(0, "data")], k=10**6).get(0, [])
    assert [d for _, d, _ in got.get(2, [])] == [d for _, d, _ in alld]


def test_sloppy_matcher_huge_slop_no_overflow():
    """A slop beyond 2^32 must not overflow the packed (doc << 32) + pos
    key: the matcher clamps to 2^30 (lossless — dl < 2^31), so a huge
    `~N` behaves exactly like 'both terms anywhere in the doc' and doc
    boundaries stay intact (doc 7 holds only 'a', doc 9 only 'b' — a
    corrupted key could leak a cross-doc match)."""
    import numpy as np

    from ipfs_search_spark.plans.query import _match_phrase

    pos_data = {
        "a": (np.array([7, 8], dtype=np.int64),
              np.array([0, 5], dtype=np.int64)),
        "b": (np.array([8, 9], dtype=np.int64),
              np.array([0, 3], dtype=np.int64)),
    }
    for slop in (2 ** 31, 2 ** 40, 10 ** 18):
        got = set(_match_phrase(pos_data, ["a", "b"], slop).tolist())
        assert got == {8}, slop


def test_sloppy_matcher_random_parity_with_brute_oracle():
    """No-Spark randomized stress: the vectorized sloppy matcher
    (_match_phrase over raw position arrays) must agree with the
    brute-force product oracle (BM25Oracle.phrase_match) on every
    (doc, phrase, slop) combination — including reordering, repeated
    phrase terms (distinct-position rule), and slop=0 adjacency."""
    import random
    from collections import defaultdict

    import numpy as np

    from ipfs_search_spark.oracle import BM25Oracle
    from ipfs_search_spark.plans.query import _match_phrase

    rng = random.Random(1234)
    phrases = [["a", "b"], ["b", "a"], ["a", "b", "c"], ["a", "a"],
               ["a", "b", "a"], ["c", "a", "b"]]
    for _ in range(200):
        toks = [rng.choice("abcx") for _ in range(rng.randint(1, 8))]
        acc = defaultdict(lambda: ([], []))
        for p, t in enumerate(toks):
            acc[t][0].append(9)
            acc[t][1].append(p)
        pos_data = {t: (np.array(i, dtype=np.int64),
                        np.array(p, dtype=np.int64))
                    for t, (i, p) in acc.items()}
        orc = BM25Oracle({9: " ".join(toks)})
        for phrase in phrases:
            for slop in (0, 1, 2, 3):
                eng = 9 in set(_match_phrase(pos_data, phrase,
                                             slop).tolist())
                brute = orc.phrase_match(9, phrase, slop)
                assert eng == brute, (toks, phrase, slop, eng, brute)
