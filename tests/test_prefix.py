"""Prefix (trailing-wildcard) queries — `te*` in the reference's
query_string surface (OpenSearch query_string wildcards,
/root/reference/docs/api.md:4). A prefix clause expands against the index
vocabulary to the lexicographically-first MAX_PREFIX_EXPANSIONS terms
(Lucene's max_expansions rewrite) and scores as ONE group, so under
combine='sum' a prefix-only query is score-identical to the explicit OR of
its expansion terms, and in AND mode the clause counts once.
"""

import pytest

from ipfs_search_spark.plans.parser import (
    Expansion, QueryParseError, parse_query,
)
from ipfs_search_spark.plans.query import Searcher


# ---------------------------------------------------------------- parser

def test_parse_prefix_flat():
    q = parse_query("merch*")
    assert q.prefixes == ["merch"]
    assert q.terms == [] and not q.match_all


def test_parse_prefix_with_terms_and_filters():
    q = parse_query("merch* data lang:de")
    assert q.prefixes == ["merch"] and q.terms == ["data"]
    assert [f.field for f in q.filters] == ["lang"]


def test_parse_prefix_boost_and_flat_or_group():
    q = parse_query("merch*^2.5 OR data")
    assert q.prefixes == ["merch"] and q.terms == ["data"]
    assert q.boosts["merch*"] == 2.5


def test_parse_general_wildcards_and_negated_prefix():
    # r3: general wildcards, fuzzy, negation and tree leaves are supported
    q = parse_query("te?m")
    assert [e.kind for e in q.expansions] == ["wildcard"]
    q = parse_query("mid*dle")
    assert [e.value for e in q.expansions] == ["mid*dle"]
    q = parse_query("*lead")
    assert [e.kind for e in q.expansions] == ["wildcard"]
    q = parse_query("-pre* foo")
    assert [e.value for e in q.not_expansions] == ["pre"]
    assert q.terms == ["foo"]


def test_parse_prefix_nested_tree_leaf():
    q = parse_query("(a OR (b AND merch*))")
    assert "merch*" in q.bool_expansions
    assert q.bool_expansions["merch*"].kind == "prefix"
    assert "merch*" in q.bool_exp_scored


def test_parse_malformed_wildcard_fuzzy_rejected():
    # ('"a b"~2' is phrase slop since r5 — positive coverage in
    # tests/test_phrase.py::test_slop_parse)
    for bad in ['"a b"~x', "term~3", "te*m~1", "***", "a%b*c"]:
        with pytest.raises(QueryParseError):
            parse_query(bad)


def test_parse_fuzzy():
    q = parse_query("merge~1")
    assert [(e.kind, e.value, e.dist) for e in q.expansions] == \
        [("fuzzy", "merge", 1)]
    assert q.expansions[0].key == "merge~1"
    # bare ~ defaults to Lucene's edit distance 2
    assert parse_query("merge~").expansions[0].dist == 2


def test_parse_stray_minus_dropped():
    # sloppy trailing '-' is dropped, not a parse error (ADVICE r2)
    q = parse_query("foo -")
    assert q.terms == ["foo"] and q.not_terms == []
    q = parse_query("(foo - ) OR bar")
    assert sorted(q.terms) == ["bar", "foo"]


def test_parse_spaced_minus_is_negation():
    # documented deviation: 'a - b' == 'a AND NOT b' (COVERAGE.md)
    q = parse_query("a - b")
    assert q.terms == ["a"] and q.not_terms == ["b"]


# ---------------------------------------------------------------- engine

@pytest.fixture(scope="module")
def sx(spark, built_index):
    io, _ = built_index
    return Searcher(spark, io)


@pytest.fixture(scope="module")
def prefix_and_exp(sx):
    """A prefix with 2..MAX_PREFIX_EXPANSIONS expansions in the fixture
    vocabulary (the seeded corpus has suffixed stems: data, data1, ...)."""
    exp = sx.expand_prefix("data")
    assert 2 <= len(exp) <= Searcher.MAX_PREFIX_EXPANSIONS
    return "data", sorted(exp)


def _rows(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 9))
            for r in df.collect()]


def test_expand_prefix_lexicographic_cap(sx, prefix_and_exp):
    pf, exp = prefix_and_exp
    capped = sx.expand_prefix(pf, max_expansions=2)
    assert sorted(capped) == exp[:2]
    assert sx.expand_prefix("zzzznope") == {}


def test_expand_prefix_uncached_matches_cached(spark, built_index,
                                               cold_searcher):
    io, _ = built_index
    hot = Searcher(spark, io)
    cold = cold_searcher(spark, io)
    assert sorted(hot.expand_prefix("data")) == \
        sorted(cold.expand_prefix("data"))
    assert hot.expand_prefix("data") == cold.expand_prefix("data")


def test_prefix_equals_expanded_or(spark, sx, prefix_and_exp):
    """`data*` must be rank- AND score-identical to the explicit OR of its
    expansion terms (combine='sum' sums within the group the same way the
    flat OR sums ascending terms)."""
    pf, exp = prefix_and_exp
    got = _rows(sx.search([(0, f"{pf}*")], k=15))
    want = _rows(sx.search([(0, " ".join(exp))], k=15))
    assert got == want and len(got) == 15


def test_prefix_and_mode_counts_once(spark, sx, prefix_and_exp):
    """AND mode: `spark data*` matches docs containing `spark` AND any
    expansion — the prefix group counts ONCE, equivalent to the boolean
    tree (e1 OR e2 ...) AND spark."""
    pf, exp = prefix_and_exp
    got = _rows(sx.search([(0, f"spark {pf}*")], k=15, mode="and"))
    tree = f"({' OR '.join(exp)}) AND spark"
    want = _rows(sx.search([(0, tree)], k=15))
    assert got == want and got


def test_prefix_boost_scales_score(spark, sx, prefix_and_exp):
    pf, _ = prefix_and_exp
    base = _rows(sx.search([(0, f"{pf}*")], k=10))
    boosted = _rows(sx.search([(0, f"{pf}*^2")], k=10))
    assert [(r, d) for r, d, _ in base] == [(r, d) for r, d, _ in boosted]
    for (_, _, s1), (_, _, s2) in zip(base, boosted):
        assert s2 == pytest.approx(2 * s1, rel=1e-9)


def test_prefix_no_expansion(spark, sx):
    # OR: dead prefix contributes nothing; AND: conjunction is empty
    assert sx.search([(0, "zzzznope*")], k=5).count() == 0
    assert sx.search([(0, "spark zzzznope*")], k=5, mode="and").count() == 0
    # OR alongside a live term: live term still scores
    assert sx.search([(0, "spark zzzznope*")], k=5).count() == 5


def test_prefix_with_filter(spark, sx, prefix_and_exp):
    pf, exp = prefix_and_exp
    got = _rows(sx.search([(0, f"{pf}* lang:de")], k=10))
    want = _rows(sx.search([(0, f"{' '.join(exp)} lang:de")], k=10))
    assert got == want and got


# ------------------------------------------------- wildcard/fuzzy engine

def test_expand_wildcard_matches_regex(sx):
    """General wildcards expand to exactly the vocabulary's regex matches,
    lexicographically-first within the cap; the literal head prunes."""
    import re
    exp = sx.expand(Expansion("wildcard", "dat?"))
    vocab = sx._term_cache
    want = sorted(t for t in vocab if re.fullmatch(r"dat.", t))[:50]
    assert sorted(exp) == want and "data" in exp
    # leading wildcard (full vocabulary scan, allow_leading_wildcard)
    exp2 = sx.expand(Expansion("wildcard", "*ta1"))
    assert sorted(exp2) == sorted(
        t for t in vocab if re.fullmatch(r".*ta1", t))[:50]


def test_expand_fuzzy_distance_ranked(sx):
    exp = sx.expand(Expansion("fuzzy", "merge", 1))
    vocab = sx._term_cache
    from ipfs_search_spark.plans.query import levenshtein
    want = sorted((levenshtein(t, "merge"), t) for t in vocab
                  if levenshtein(t, "merge") <= 1)[:50]
    assert sorted(exp) == sorted(t for _, t in want)
    assert "merge" in exp
    # distance 0 = the exact term only
    assert sorted(sx.expand(Expansion("fuzzy", "merge", 0))) == ["merge"]


def test_expand_uncached_matches_cached_wildcard_fuzzy(spark, built_index,
                                                      cold_searcher):
    io, _ = built_index
    hot = Searcher(spark, io)
    cold = cold_searcher(spark, io)
    for e in [Expansion("wildcard", "dat?"), Expansion("wildcard", "*ta1"),
              Expansion("fuzzy", "merge", 1),
              Expansion("fuzzy", "spark", 2)]:
        assert hot.expand(e) == cold.expand(e), e


def test_wildcard_query_equals_expanded_or(sx):
    exp = sorted(sx.expand(Expansion("wildcard", "data?")))
    assert len(exp) >= 2
    got = _rows(sx.search([(0, "data?")], k=15))
    want = _rows(sx.search([(0, " ".join(exp))], k=15))
    assert got == want and got


def test_fuzzy_query_equals_expanded_or(sx):
    exp = sorted(sx.expand(Expansion("fuzzy", "merge", 1)))
    assert len(exp) >= 2
    got = _rows(sx.search([(0, "merge~1")], k=15))
    want = _rows(sx.search([(0, " ".join(exp))], k=15))
    assert got == want and got


def test_negated_prefix_excludes_expansions(sx):
    """`spark -merge*` must equal `spark -e1 -e2 ...` over the expansion."""
    exp = sorted(sx.expand_prefix("merge"))
    got = _rows(sx.search([(0, "spark -merge*")], k=15))
    want = _rows(sx.search(
        [(0, "spark " + " ".join(f"-{t}" for t in exp))], k=15))
    assert got == want and got


def test_negated_prefix_matchall(sx):
    """Filter-only query with a negated expansion: match-all minus the
    expansion's doc set."""
    got = {r["doc_id"] for r in
           sx.search([(0, "lang:de -dat*")], k=500).collect()}
    exp = sorted(sx.expand_prefix("dat"))
    want = {r["doc_id"] for r in
            sx.search([(0, "lang:de " + " ".join(f"-{t}" for t in exp))],
                      k=500).collect()}
    assert got == want and got


def test_prefix_inside_boolean_tree(sx):
    """`(spark AND dat*) OR merge` — expansion leaf in a nested tree: leaf
    present iff any expansion term present, scored as the group."""
    exp = sorted(sx.expand_prefix("dat"))
    got = _rows(sx.search([(0, "(spark AND dat*) OR merge")], k=15))
    want = _rows(sx.search(
        [(0, f"(spark AND ({' OR '.join(exp)})) OR merge")], k=15))
    assert got == want and got


def test_negated_prefix_inside_boolean_tree(sx):
    exp = sorted(sx.expand_prefix("delta"))
    got = _rows(sx.search([(0, "spark AND NOT (delta* OR merge)")], k=15))
    want = _rows(sx.search(
        [(0, f"spark AND NOT (({' OR '.join(exp)}) OR merge)")], k=15))
    assert got == want and got


def test_prefix_with_filter_leaf_in_or_group(sx):
    """`dat* OR lang:de` — expansion + filter leaf in one OR group (the r3
    ADVICE composition gap): tree path, filter-leaf branch."""
    exp = sorted(sx.expand_prefix("dat"))
    got = _rows(sx.search([(0, "dat* OR lang:de")], k=15))
    want = _rows(sx.search(
        [(0, f"({' OR '.join(exp)}) OR lang:de")], k=15))
    assert got == want and got


def test_fuzzy_and_mode_counts_once(sx):
    exp = sorted(sx.expand(Expansion("fuzzy", "merge", 1)))
    got = _rows(sx.search([(0, "spark merge~1")], k=15, mode="and"))
    want = _rows(sx.search(
        [(0, f"({' OR '.join(exp)}) AND spark")], k=15))
    assert got == want and got


def test_prefix_fielded_equals_expanded_or(spark, tmp_path_factory):
    """Fielded search: a prefix expands per field; under combine='sum' the
    single prefix group totals the same as the explicit OR."""
    import random

    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_fielded_index

    rng = random.Random(7)
    vocab = ["data", "data1", "data2", "spark", "merge", "block"] + \
            [f"w{i}" for i in range(20)]
    rows = []
    for i in range(120):
        title = " ".join(rng.choice(vocab) for _ in range(3))
        content = " ".join(rng.choice(vocab) for _ in range(25))
        rows.append((str(i), i, title, content, "en", "ok"))
    docs = spark.createDataFrame(
        rows, "url string, doc_id long, title string, content string, "
              "lang string, status string")
    io = TableIO(spark, str(tmp_path_factory.mktemp("prefix-fielded")))
    build_fielded_index(spark, docs, io,
                        fields={"title": "title", "content": "content"},
                        n_shards=2, n_buckets=8)
    sx = Searcher(spark, io)
    boosts = {"title": 2.0, "content": 1.0}
    got = _rows(sx.search([(0, "data*")], k=10, fields=boosts,
                          combine="sum"))
    want = _rows(sx.search([(0, "data data1 data2")], k=10, fields=boosts,
                           combine="sum"))
    assert got == want and got
