"""Lucene regexp queries (`/pattern/`, OpenSearch query_string regexp
syntax): anchored full-term vocabulary expansion, capped and
lexicographically ordered like wildcards, composing everywhere expansions
do (negated, required, boolean-tree leaves).

Portability is the design constraint: the accepted metachar core must
mean the same thing to python re (cached path), java.util.regex (the
distributed rlike scan) and RE2 (the DuckDB oracle) — backslash escapes
and free-standing anchors raise at parse time instead of silently
diverging between engines.
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ipfs_search_spark.plans.parser import (
    Expansion, QueryParseError, parse_query,
)
from ipfs_search_spark.plans.query import Searcher, _regex_literal_head


def test_parse_shapes():
    p = parse_query("/me(r|t)ge/ data")
    assert p.expansions == [Expansion("regex", "me(r|t)ge", 0)]
    assert p.expansions[0].key == "/me(r|t)ge/"
    p = parse_query("-/mer.+/ data")
    assert p.not_expansions == [Expansion("regex", "mer.+", 0)]
    p = parse_query("(/dat[a-z]/ OR merge) AND block")
    assert "/dat[a-z]/" in p.bool_expansions
    # uppercase lowers with the analyzer
    assert parse_query("/MER.+/ x").expansions[0].value == "mer.+"


def test_parse_errors():
    for bad in (r"/a\d/ x", "/^ab/ x", "/a(/ x", "/a$b/ x"):
        with pytest.raises(QueryParseError):
            parse_query(bad)
    # class negation '^' is allowed
    assert parse_query("/a[^b]c/ x").expansions


def test_literal_head_conservatism():
    assert _regex_literal_head("mer.+") == "mer"
    assert _regex_literal_head("ab*c") == "a"    # b optional
    assert _regex_literal_head("ab{0,2}c") == "a"
    assert _regex_literal_head("ab+c") == "ab"   # b required
    assert _regex_literal_head("ab|cd") == ""    # alternation
    assert _regex_literal_head("(ab|cd)e") == ""


@pytest.fixture(scope="module")
def env(spark, built_index, cold_searcher):
    io, _ = built_index
    return io, Searcher(spark, io), cold_searcher(spark, io)


def _vocab(io):
    return {r["term"] for r in
            io.read("term_stats").select("term").collect()}


def test_expansion_identity_cached_vs_scan(env):
    """Cached driver-dict path == distributed rlike scan path, order
    included (the three-way portability claim, engine half)."""
    io, hot, cold = env
    for pat in ("mer.+", "dat[a-z]", "(dat|merg)[a-z]+", "ab*c",
                "s(t|p)[a-z]+"):
        e = Expansion("regex", pat, 0)
        assert list(hot.expand(e)) == list(cold.expand(e)), pat


def test_expansion_matches_python_re(env):
    import re
    io, hot, _ = env
    vocab = _vocab(io)
    for pat in ("mer.+", "dat[a-z]", "s(t|p)[a-z]+"):
        rx = re.compile(f"^(?:{pat})$")
        want = sorted(t for t in vocab if rx.match(t))[:50]
        assert list(hot.expand(Expansion("regex", pat, 0))) == want, pat


def test_search_scores_as_one_group(spark, env):
    """A regexp clause scores like the explicit OR of its expansion terms
    (one group, counts once for AND semantics)."""
    io, hot, _ = env
    exp = list(hot.expand(Expansion("regex", "merg[a-z]+", 0)))
    assert exp  # fixture corpus has merge-family tokens
    got = {(r["doc_id"], round(r["score"], 9)) for r in
           hot.search([(0, "/merg[a-z]+/")], k=30).collect()}
    want = {(r["doc_id"], round(r["score"], 9)) for r in
            hot.search([(0, " ".join(exp))], k=30).collect()}
    assert got == want


def test_negated_regex(spark, env):
    io, hot, _ = env
    exp = list(hot.expand(Expansion("regex", "merg[a-z]+", 0)))
    with_m = {r["doc_id"] for r in
              hot.search([(0, " ".join(exp))], k=10**6).collect()}
    got = {r["doc_id"] for r in
           hot.search([(0, "data -/merg[a-z]+/")], k=10**6).collect()}
    data = {r["doc_id"] for r in
            hot.search([(0, "data")], k=10**6).collect()}
    assert got == data - with_m


# -- parser robustness fuzz (the grammar grew: ranges, _exists_, field
# groups, '+', regexps — random streams must parse or raise
# QueryParseError, never anything else) ------------------------------

@given(st.lists(st.sampled_from(
    ["data", "merge", "AND", "OR", "NOT", "(", ")", "-", "+data",
     "+", "-data", "te*", "t?m", "data~1", "data~9", '"a b"', '"a b"~2',
     "/dat[a-z]/", "/a(/", "lang:de", "lang:(de", "lang:(de en)",
     "size:[1 TO 2]", "size:[1 2]", "size:{3 TO *]", "_exists_:lang",
     "_exists_:nope", "-size:[1 TO 2]", "lang:de^2", "data^1.5",
     "last-seen:>now-1M", "size:>abc", "references.name:x"]),
    min_size=0, max_size=8))
@settings(max_examples=400, deadline=None)
def test_parser_fuzz_never_crashes(toks):
    from ipfs_search_spark.plans.parser import filter_to_sql
    q = " ".join(toks)
    try:
        p = parse_query(q)
        for f in p.filters + list(p.bool_filters.values()):
            filter_to_sql(f)
    except QueryParseError:
        pass  # the only acceptable failure mode
