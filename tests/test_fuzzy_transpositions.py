"""Fuzzy with transpositions (Lucene FuzzyQuery transpositions=true /
OpenSearch `fuzzy_transpositions`): expansion by Damerau-Levenshtein
instead of classic edit distance, opt-in via
Searcher(fuzzy_transpositions=True).

The three-way identity this mode keys on: the driver-side python
damerau_levenshtein, the distributed scan's Arrow-batched re-check (same
python function), and DuckDB's damerau_levenshtein() all compute the SAME
true-DL (Lowrance-Wagner) — property-tested here against DuckDB directly,
the same way the classic path leans on levenshtein()'s shared definition.
"""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ipfs_search_spark.plans.parser import Expansion
from ipfs_search_spark.plans.query import (
    Searcher, damerau_levenshtein, levenshtein,
)

_CON = duckdb.connect()


def _duck_dl(a: str, b: str) -> int:
    return _CON.execute(
        "SELECT damerau_levenshtein(?, ?)", [a, b]).fetchone()[0]


@given(st.text(alphabet="abcde", max_size=9),
       st.text(alphabet="abcde", max_size=9))
@settings(max_examples=300, deadline=None)
def test_dl_matches_duckdb(a, b):
    assert damerau_levenshtein(a, b) == _duck_dl(a, b)


@given(st.text(alphabet="abcdef", max_size=8),
       st.text(alphabet="abcdef", max_size=8))
@settings(max_examples=200, deadline=None)
def test_dl_lev_bounds(a, b):
    """DL ≤ lev ≤ 2·DL — the bound the distributed prefilter relies on."""
    dl, lv = damerau_levenshtein(a, b), levenshtein(a, b)
    assert dl <= lv <= 2 * max(dl, 0) + (0 if dl else lv)
    # (lev == 0 iff dl == 0; for dl > 0 the 2·DL bound is strict)
    if dl:
        assert lv <= 2 * dl
    else:
        assert lv == 0


def test_dl_known_cases():
    # adjacent swap costs 1 (2 under classic distance)
    assert damerau_levenshtein("ab", "ba") == 1
    assert levenshtein("ab", "ba") == 2
    assert damerau_levenshtein("abcde", "abdce") == 1
    # gap transposition: true DL (DuckDB) gives 2, OSA would give 3
    assert damerau_levenshtein("ca", "abc") == 2
    assert damerau_levenshtein("", "abc") == 3
    assert damerau_levenshtein("same", "same") == 0


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index_from_docs

    # 'trace' is DL 1 / lev 2 from the query base 'tarce'; 'crate' DL 2;
    # 'tracer' DL 1 (insert after swap... actually swap+insert = 2) — the
    # oracle below computes per-term distances from first principles, so
    # the fixture only needs variety
    words = ["trace", "crate", "cater", "react", "trade", "tarp",
             "trance", "tracer", "grace", "brace"]
    docs = spark.createDataFrame(
        [(str(i), i, f"{words[i % len(words)]} filler", "en", "ok")
         for i in range(40)],
        "url string, doc_id long, text string, lang string, status string")
    io = TableIO(spark, str(tmp_path_factory.mktemp("fuzzy-dl")))
    build_index_from_docs(spark, docs, io, n_shards=2, n_buckets=8)
    return io, words


def test_transposition_widens_the_match_set(spark, env):
    io, _ = env
    classic = Searcher(spark, io)
    damerau = Searcher(spark, io, fuzzy_transpositions=True)
    got_c = {r["doc_id"] for r in
             classic.search([(0, "tarce~1")], k=50).collect()}
    got_d = {r["doc_id"] for r in
             damerau.search([(0, "tarce~1")], k=50).collect()}
    # 'trace' is one adjacent swap away: DL 1, lev 2 — only the
    # transpositions searcher matches it at distance 1
    trace_docs = {i for i in range(40) if i % 10 == 0}
    assert trace_docs <= got_d
    assert not (trace_docs & got_c)
    assert got_c <= got_d  # DL ball contains the classic ball


def test_expansion_identity_cached_vs_scan(spark, env, cold_searcher):
    """The cached driver-dict path and the distributed scan path (JVM
    lev≤2d prefilter + Arrow-batched exact DL) must pick the identical
    expansion set in the identical order."""
    io, _ = env
    hot = Searcher(spark, io, fuzzy_transpositions=True)
    cold = cold_searcher(spark, io, fuzzy_transpositions=True)
    for base, dist in (("tarce", 1), ("tarce", 2), ("carte", 2),
                       ("grace", 1)):
        e = Expansion("fuzzy", base, dist)
        assert list(hot.expand(e)) == list(cold.expand(e)), (base, dist)


def test_rank_identity_vs_python_oracle(spark, env):
    io, words = env
    sx = Searcher(spark, io, fuzzy_transpositions=True)
    got = [(r["doc_id"], r["score"]) for r in
           sx.search([(0, "tarce~2")], k=15).collect()]
    # oracle: expansion set = vocabulary terms with DL<=2, scored BM25 as
    # one OR-group over the fixture corpus
    from ipfs_search_spark.oracle import BM25Oracle
    rows = io.read("documents").select("doc_id", "text").collect()
    oracle = BM25Oracle({r["doc_id"]: r["text"] for r in rows})
    vocab = {t for tf in oracle.tf.values() for t in tf}
    exp = sorted((damerau_levenshtein(t, "tarce"), t) for t in vocab
                 if damerau_levenshtein(t, "tarce") <= 2)[:50]
    terms = [t for _, t in exp]
    hits = sorted(((d, oracle.score(d, terms)) for d in oracle.tf
                   if any(t in oracle.tf[d] for t in terms)),
                  key=lambda x: (-x[1], x[0]))[:15]
    assert [d for d, _ in got] == [d for d, _ in hits]
    for (gd, gs), (wd, ws) in zip(got, hits):
        assert gs == pytest.approx(ws, abs=1e-9), (gd, gs, ws)


def test_default_stays_classic(spark, env):
    """The flag is opt-in: a default Searcher's fuzzy expansion is still
    classic levenshtein (the pinned COVERAGE.md definition)."""
    io, _ = env
    sx = Searcher(spark, io)
    e = Expansion("fuzzy", "tarce", 1)
    got = set(sx.expand(e))
    assert "trace" not in got


def test_fuzzy_prefix_length(spark, env, cold_searcher):
    """fuzzy_prefix_length=N (Lucene FuzzyQuery prefixLength): candidates
    carry the base's first N chars verbatim — the expansion set is exactly
    the unconstrained set filtered to the shared prefix, and the uncached
    scan pushes that prefix as StringStartsWith (the at-scale shape)."""
    io, _ = env
    from ipfs_search_spark.plans.parser import Expansion
    e = Expansion("fuzzy", "tract", 2)
    free = Searcher(spark, io)
    pinned = Searcher(spark, io, fuzzy_prefix_length=2)
    cold = cold_searcher(spark, io, fuzzy_prefix_length=2)
    exp_free = free.expand(e)
    exp_pin = pinned.expand(e)
    assert exp_pin == {t: v for t, v in exp_free.items()
                       if t.startswith("tr")}
    assert list(exp_pin) == list(cold.expand(e))
    # the pruning prefix reaches the parquet scan
    plan = cold._fuzzy_scan("", "tract", 2, 50)._jdf.queryExecution() \
        .explainString(spark._jvm.org.apache.spark.sql.execution
                       .ExplainMode.fromString("formatted"))
    assert "StartsWith(term,tr" in plan.split("PushedFilters:")[1][:300]
    # composes with transpositions
    dl = Searcher(spark, io, fuzzy_transpositions=True,
                  fuzzy_prefix_length=1)
    dl_free = Searcher(spark, io, fuzzy_transpositions=True)
    assert dl.expand(e) == {t: v for t, v in dl_free.expand(e).items()
                            if t.startswith("t")}
