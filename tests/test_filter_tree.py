"""Filters as boolean-tree leaves (constant-score clauses): `lang:de OR
merge` — the OpenSearch query_string shape where field clauses compose
inside the boolean tree (the reference's own api.md example mixes
`references.name:epub` with free text). Engine results are compared
rank-and-score against a first-principles Python oracle over the fixture
corpus metadata.

Semantics (COVERAGE.md): a filter leaf gates matching only; a doc matching
the tree scores the sum of its present positive term leaves, floored at
the constant 1.0 when no positive term matched (so filter-only matches
rank below any term match scoring >1 and tie-break by doc_id).
"""

import pytest

from ipfs_search_spark.oracle import BM25Oracle
from ipfs_search_spark.plans.parser import QueryParseError, parse_query
from ipfs_search_spark.plans.query import Searcher


@pytest.fixture(scope="module")
def env(spark, built_index):
    io, _ = built_index
    rows = io.read("documents").select(
        "doc_id", "text", "lang", "status", "size").collect()
    oracle = BM25Oracle({r["doc_id"]: r["text"] for r in rows
                         if r["status"] == "ok"})
    meta = {r["doc_id"]: r for r in rows if r["status"] == "ok"}
    return Searcher(spark, io), oracle, meta


def _leaf(meta_row, flt) -> bool:
    if flt.op == "ex":
        hit = meta_row[flt.field] is not None
    elif flt.op in ("[]", "[}", "{]", "{}"):
        v = meta_row[flt.field]
        conv = int if flt.field == "size" else str
        lo, _, hi = flt.value.partition(" TO ")
        if v is None:
            hit = False  # SQL comparison semantics: NULL never matches
        else:
            v = conv(v)
            hit = True
            if lo != "*":
                hit &= v >= conv(lo) if flt.op[0] == "[" else v > conv(lo)
            if hi != "*":
                hit &= v <= conv(hi) if flt.op[1] == "]" else v < conv(hi)
    elif flt.field in ("lang", "status"):
        hit = str(meta_row[flt.field]) == flt.value
    elif flt.field == "size":
        v = meta_row["size"] or 0
        t = int(flt.value)
        hit = {"=": v == t, ">": v > t, "<": v < t,
               ">=": v >= t, "<=": v <= t}[flt.op]
    else:
        raise AssertionError(f"unhandled filter field {flt.field}")
    return (not hit) if flt.neg else hit


def _eval_tree(node, pres: set, flts: dict, meta_row) -> bool:
    if isinstance(node, str):
        if node in flts:
            return _leaf(meta_row, flts[node])
        return node in pres
    op = node[0]
    if op == "not":
        return not _eval_tree(node[1], pres, flts, meta_row)
    vals = (_eval_tree(c, pres, flts, meta_row) for c in node[1:])
    return all(vals) if op == "and" else any(vals)


def oracle_topk(oracle, meta, qs: str, k: int):
    p = parse_query(qs)
    assert p.bool_tree is not None and p.bool_filters
    hits = []
    for key, row in meta.items():
        pres = {t for t in oracle.tf.get(key, {})}
        if not _eval_tree(p.bool_tree, pres, p.bool_filters, row):
            continue
        if any(not _leaf(row, f) for f in p.filters):
            continue  # top-level conjunct filters still AND in
        s = oracle.score(key, p.terms) if p.terms else 0.0
        hits.append((key, s if s > 0.0 else 1.0))
    hits.sort(key=lambda x: (-x[1], x[0]))
    return hits[:k]


QUERIES = [
    "lang:de OR data",
    "(lang:de AND data) OR merge",
    "data OR NOT lang:en",
    "size:>2000 OR data",
    "(lang:de OR data) AND merge",
    "(lang:en OR lang:de)",
    "size:>1000 (lang:de OR data)",
    "size:[1000 TO 3000] OR data",
    "(size:{500 TO 2500] AND data) OR merge",
    "lang:[de TO en] OR data",
    "data OR _exists_:lang",
    "size:[2000 TO *] (lang:de OR data)",
    # field-scoped groups (Lucene query_string grouping) — rewritten by
    # _expand_field_groups into ordinary filter leaves
    "lang:(de OR en) AND data",
    "size:(>2500 <800) OR data",
    "data -lang:(de en)",
    "lang:(de OR -en) OR merge",
    # a term leaf under NOT, and a default-true tree, beside filter leaves
    "(lang:de OR merge) AND NOT spark",
    "(lang:de OR data) AND NOT merge",
    "size:>1000 (lang:de OR merge) AND NOT data",
    "(data AND NOT lang:en) OR (lang:de AND NOT merge)",
    "lang:de OR NOT data",
]


@pytest.mark.parametrize("qs", QUERIES)
def test_filter_tree_rank_identity(spark, env, qs):
    sx, oracle, meta = env
    want = oracle_topk(oracle, meta, qs, 10)
    got = [(r["doc_id"], r["score"])
           for r in sx.search([(0, qs)], k=10).collect()]
    assert len(got) == len(want), (qs, len(got), len(want), got[:3],
                                   want[:3])
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd, (qs, got, want)
        assert gs == pytest.approx(ws, abs=1e-9), (qs, gd, gs, ws)


def test_filter_tree_batch_with_plain_queries(spark, env):
    """Mixed batch: filter-tree queries (monotone, NOT over a term leaf,
    default-true) must not disturb flat/boolean queries running in the
    same call, nor each other."""
    sx, oracle, meta = env
    batch = [(0, "lang:de OR data"), (1, "data spark"),
             (2, "(data OR merge) AND index"), (3, "data OR NOT lang:en"),
             (4, "(lang:de OR merge) AND NOT spark")]
    by_q = {}
    for r in sx.search(batch, k=10).collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9)))
    solo = {}
    for qid, qs in batch:
        solo[qid] = [(r["doc_id"], round(r["score"], 9))
                     for r in sx.search([(qid, qs)], k=10).collect()]
    assert by_q == solo  # batch == solo (rank identity per-query is
    # asserted against the oracle in test_filter_tree_rank_identity)


def test_filter_tree_paging(spark, env):
    sx, oracle, meta = env
    qs = "lang:de OR data"
    full = oracle_topk(oracle, meta, qs, 25)
    page = [(r["rank"], r["doc_id"])
            for r in sx.search([(0, qs)], k=10, offset=10).collect()]
    assert page == [(i + 11, d) for i, (d, _) in enumerate(full[10:20])]


def test_pure_filter_tree_constant_score(spark, env):
    sx, oracle, meta = env
    rows = sx.search([(0, "(lang:en OR lang:de)")], k=10).collect()
    assert len(rows) == 10
    assert all(r["score"] == 1.0 for r in rows)
    # ranked by doc_id among the all-1.0 ties
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids)


def test_branch_b_survives_conjunct_filter_emptying_candidates(
        spark, tmp_path_factory):
    """Regression (r5 ADVICE high): a conjunct filter that eliminates ALL
    of a shard's term candidates must not suppress that shard's branch-B
    filter-only matches. Every 'data' doc fails `size:>1000` and every
    filter-leaf (lang:de) doc lacks 'data', so in EVERY shard the allowed
    restriction empties the candidate set — the buggy gate skipped the
    whole tree block (branch B included) and returned nothing."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index_from_docs

    docs = spark.createDataFrame(
        [(str(i), i,
          "data spark" if i % 2 else "merge block",
          "en" if i % 2 else "de",
          10 if i % 2 else 5000,
          "ok")
         for i in range(40)],
        "url string, doc_id long, text string, lang string, size long, "
        "status string")
    io = TableIO(spark, str(tmp_path_factory.mktemp("ft-branchb")))
    build_index_from_docs(spark, docs, io, n_shards=2, n_buckets=8)
    sx = Searcher(spark, io)
    rows = sx.search([(0, "size:>1000 (data OR lang:de)")], k=40).collect()
    got = [(r["doc_id"], r["score"]) for r in rows]
    want = [(i, 1.0) for i in range(40) if i % 2 == 0]
    assert got == want
    # and the mixed shape: docs matching BOTH the term and the filter join
    # the result with their real BM25 score (here idf('data') ≈ 0.61 with
    # dl = avgdl, i.e. BELOW the 1.0 constant floor — filter-only matches
    # legitimately outrank low-idf term matches, COVERAGE.md semantics)
    docs2 = docs.union(spark.createDataFrame(
        [(str(100 + j), 100 + j, "data merge", "en", 4000, "ok")
         for j in range(4)], docs.schema))
    io2 = TableIO(spark, str(tmp_path_factory.mktemp("ft-branchb2")))
    build_index_from_docs(spark, docs2, io2, n_shards=2, n_buckets=8)
    rows2 = Searcher(spark, io2).search(
        [(0, "size:>1000 (data OR lang:de)")], k=44).collect()
    got2 = [r["doc_id"] for r in rows2]
    scores2 = {r["doc_id"]: r["score"] for r in rows2}
    assert got2 == list(range(0, 40, 2)) + [100, 101, 102, 103]
    assert all(0.0 < scores2[100 + j] < 1.0 for j in range(4))


def test_filter_leaf_missing_column_is_false(spark, tmp_path_factory):
    """A filter leaf on a column this index lacks matches nothing (its
    negation everything) — mirror of _filters_pred's references.name
    convention, no AnalysisException."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index_from_docs

    docs = spark.createDataFrame(
        [(str(i), i, "data spark" if i % 2 else "merge block", "en", "ok")
         for i in range(40)],
        "url string, doc_id long, text string, lang string, status string")
    io = TableIO(spark, str(tmp_path_factory.mktemp("ft-nocol")))
    build_index_from_docs(spark, docs, io, n_shards=2, n_buckets=8)
    sx = Searcher(spark, io)
    got = {r["doc_id"] for r in
           sx.search([(0, "size:>10 OR data")], k=40).collect()}
    want = {i for i in range(40) if i % 2}  # only the term branch matches
    assert got == want


def test_filter_leaf_cap_raises_parse_error(spark, env):
    """The in-shard filter-leaf bitmask is one int64: 64 filter leaves
    raise a clean QueryParseError (a ValueError)."""
    sx, _, _ = env
    qs = " OR ".join(f"size:{i}" for i in range(64)) + " OR data"
    assert len(parse_query(qs).bool_filters) == 64
    with pytest.raises(QueryParseError, match="63 filter leaves"):
        sx.search([(0, qs)], k=10).collect()


def test_many_term_leaves_under_not(spark, env):
    """Term leaves have no cap: a default-true tree with 70 term leaves
    under NOT returns the oracle's top-k."""
    sx, oracle, meta = env
    qs = ("lang:de OR NOT (data OR spark OR merge OR "
          + " OR ".join(f"t{i}" for i in range(4, 71)) + ")")
    want = oracle_topk(oracle, meta, qs, 10)
    got = [(r["doc_id"], r["score"])
           for r in sx.search([(0, qs)], k=10).collect()]
    assert want and got == want
