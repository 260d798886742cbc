"""Physical-plan quality gates: these assert the plan SHAPE, not just results
— a regression that silently de-optimizes (lost pushdown, lost broadcast,
Python in the hot path) fails here even while results stay correct."""

import pyspark.sql.functions as F
import pytest


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_postings_scan_is_pruned(spark, built_index):
    """The query-side postings scan must push bucket+term filters down to the
    parquet source (partition-dir pruning on bucket, row-group stats on term)
    — never a full index scan."""
    io, _ = built_index
    postings = io.read("postings").filter(
        (F.col("bucket") == 3) & F.col("term").isin(["data", "spark"]))
    plan = _plan(postings)
    assert "PushedFilters:" in plan
    assert "term" in plan.split("PushedFilters:")[1][:300]
    # bucket is a hive-partition column of the local layout → partition filter
    assert "PartitionFilters:" in plan


def test_query_probe_broadcasts_small_side(spark, built_index):
    """The postings probe never shuffle-joins the index: query terms ride
    in the scorer closure (no join at all), and the plan's one join is the
    broadcast display join."""
    from ipfs_search_spark.plans.query import search
    io, _ = built_index
    df = search(spark, io, [(0, "data spark")], k=5)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_display_join_broadcasts_topk(spark, built_index):
    """The final url-lookup join must broadcast the k-row top-k side and
    never shuffle the documents table. The former right-outer form silently
    dropped its broadcast hint (BHJ cannot build the right side of a right
    outer join) and sort-merge-shuffled ALL docs against k rows — at 100 TB
    that is a full-table shuffle per query batch."""
    from ipfs_search_spark.plans.query import search
    io, _ = built_index
    df = search(spark, io, [(0, "data spark")], k=5)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # the doc_id display join is present AND broadcast (formatted mode puts
    # the keys on their own line under the BroadcastHashJoin node)
    assert "BroadcastHashJoin" in plan
    assert any(k.lstrip().startswith("[doc_id") for k in
               [seg.split("\n")[0] for seg in plan.split("keys [1]: ")[1:]])


def test_documents_scan_prunes_columns(spark, built_index):
    """Column pruning: a 2-column projection must not read the full schema."""
    io, _ = built_index
    df = io.read("documents").select("doc_id", "url")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema  # the big column stays unread


def test_tokenize_path_is_wholestage_codegen(spark, built_index):
    """The tokenize→tf pipeline must stay inside WholeStageCodegen with no
    Python evaluation nodes (BatchEvalPython/ArrowEvalPython)."""
    from ipfs_search_spark.functions.tokenize import doc_tokens
    io, _ = built_index
    toks = doc_tokens(io.read("documents").filter("status = 'ok'"))
    plan = _plan(toks)
    # pure JVM pipeline: no Python evaluation nodes anywhere, map-side
    # partial aggregation before the exchange (AQE hides WholeStageCodegen
    # spans in the pre-execution formatted plan, so assert structure instead)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "partial_count" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange") or \
        "partial_count" in plan.split("Exchange")[0]


def test_brute_topk_is_take_ordered(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject (distributed
    per-partition heaps), not a global Sort."""
    from ipfs_search_spark.operators.similarity import brute_force_topk
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(100)],
        "vec_id long, embedding array<float>")
    top = brute_force_topk(df, [1.0, 0.5], k=5)
    assert "TakeOrderedAndProject" in _plan(top)


def _postings(*terms):
    """One shard's postings frame: (term, doc_ids, tf) → a blocks row."""
    import numpy as np
    import pandas as pd

    from ipfs_search_spark.functions.codec import encode_blocks
    rows = []
    for term, ids, tf in terms:
        ids = np.asarray(ids, dtype=np.int64)
        rows.append(encode_blocks(ids, np.full(ids.size, tf, np.int64),
                                  50 + ids % 7, block_size=128))
    return pd.DataFrame({"shard": [0] * len(terms),
                         "term": [t[0] for t in terms], "blocks": rows})


def test_per_shard_cut_is_per_query(spark):
    """Each query of one shard call keeps its own per-shard cut: two
    queries in one call each emit at most k rows (fewer when they have
    fewer candidates), exactly the rows of their solo calls."""
    from ipfs_search_spark.plans.query import QuerySpec, _make_scorer

    postings = _postings(("t", range(100), 2), ("u", range(0, 500, 100), 1))
    many = QuerySpec(rows=[("t", 1.0, "t", 50.0)])
    few = QuerySpec(rows=[("u", 1.0, "u", 50.0)])
    solo_many = _make_scorer({0: many}, 10, True)(postings)
    solo_few = _make_scorer({1: few}, 10, True)(postings)
    assert len(solo_many) == 10  # cut applied for this query
    assert len(solo_few) == 5  # all 5 candidates, under k
    both = _make_scorer({0: many, 1: few}, 10, True)(postings)
    for qid, solo in ((0, solo_many), (1, solo_few)):
        got = both[both["query_id"] == qid].reset_index(drop=True)
        assert got.equals(solo.reset_index(drop=True)), qid


def test_shard_call_shares_terms_across_queries():
    """Queries of one shard call read the same posting list `t` (decoded
    once, shared): each query's rows equal its solo call."""
    from ipfs_search_spark.plans.query import QuerySpec, _make_scorer

    postings = _postings(("t", range(0, 300), 3), ("u", range(0, 300, 3), 1),
                         ("v", range(100, 400), 2))
    specs = {
        0: QuerySpec(rows=[("t", 1.3, "t", 50.0), ("u", 2.1, "u", 50.0)]),
        1: QuerySpec(rows=[("t", 1.3, "t", 50.0), ("v", 0.7, "v", 50.0)],
                     n_groups=2),
        2: QuerySpec(rows=[("t", 1.3, "t", 50.0)], negs=["u"]),
        # another avgdl (a field's) for the same posting list
        3: QuerySpec(rows=[("t", 1.3, "t", 80.0), ("u", 2.1, "u", 80.0)]),
    }
    batch = _make_scorer(specs, 10, True)(postings)
    assert sorted(set(batch["query_id"])) == [0, 1, 2, 3]
    for qid, spec in specs.items():
        solo = _make_scorer({qid: spec}, 10, True)(postings)
        got = batch[batch["query_id"] == qid].reset_index(drop=True)
        assert got.equals(solo.reset_index(drop=True)), qid


def test_block_max_pruning_skips_blocks(monkeypatch):
    """θ, the 5th best score of the high-idf term t, drops the blocks of
    the low-idf term u that hold no t doc: their bound (u's block bound
    plus nothing, since t is absent) is far below θ. Those blocks are not
    scored, and the rows equal the unpruned ones."""
    from ipfs_search_spark.plans import query as q

    # u: 1000 docs in 8 blocks of 128; only its first block holds t docs
    postings = _postings(("t", range(10), 9), ("u", range(1000), 1))
    spec = q.QuerySpec(rows=[("t", 5.0, "t", 50.0), ("u", 0.1, "u", 50.0)])
    masks = []
    kept_blocks = q._kept_blocks

    def record(sp, i, *args):
        keep = kept_blocks(sp, i, *args)
        masks.append((i, keep.tolist()))
        return keep

    monkeypatch.setattr(q, "_kept_blocks", record)
    pruned = q._make_scorer({0: spec}, 5, True)(postings)
    assert masks == [(1, [True] + [False] * 7)]  # row 1 is u
    masks.clear()
    full = q._make_scorer({0: spec}, 5, False)(postings)
    assert masks == []
    assert len(pruned) == 5 and pruned.equals(full)


def test_max_combine_prunes_by_block_bound(monkeypatch):
    """Under combine='max' a fielded row's block is bounded by its own
    block bound or its sibling field-rows' bound, whichever is larger, not
    by the group's best block. t sets θ = 0.625 (its 5th best score);
    u1 and u2 are fielded rows of one group u. Only u1's last block holds
    a tf-4 doc (bound 0.769), its blocks 1-6 hold tf-1 docs (bound 0.455)
    and u2 bounds at 0.136: those six blocks are not scored, and the rows
    equal the unpruned ones."""
    import numpy as np
    import pandas as pd

    from ipfs_search_spark.functions.codec import encode_blocks
    from ipfs_search_spark.plans import query as q

    def row(ids, tfs):
        ids = np.asarray(ids, dtype=np.int64)
        return encode_blocks(ids, np.asarray(tfs, dtype=np.int64),
                             np.full(ids.size, 50), block_size=128)

    u1_tf = np.ones(1000, dtype=np.int64)
    u1_tf[999] = 4
    postings = pd.DataFrame({
        "shard": 0, "term": ["t", "u1", "u2"],
        "blocks": [row(range(10), [9] + [2] * 9), row(range(1000), u1_tf),
                   row([2000, 2001], [1, 1])]})
    spec = q.QuerySpec(rows=[("t", 1.0, "t", 50.0), ("u1", 1.0, "u", 50.0),
                             ("u2", 0.3, "u", 50.0)])
    masks = []
    kept_blocks = q._kept_blocks

    def record(sp, i, *args):
        keep = kept_blocks(sp, i, *args)
        masks.append((i, keep.tolist()))
        return keep

    monkeypatch.setattr(q, "_kept_blocks", record)
    pruned = q._make_scorer({0: spec}, 5, True, "max")(postings)
    # row 1 is u1: block 0 holds t's docs, block 7 the tf-4 doc
    assert masks == [(1, [True] + [False] * 6 + [True]), (2, [True])]
    masks.clear()
    full = q._make_scorer({0: spec}, 5, False, "max")(postings)
    assert masks == []
    assert len(pruned) == 5 and pruned.equals(full)


def _corpus_postings(block_size, split):
    """One shard's postings, positions included, of a 300-doc corpus over
    the terms a..e with random signed doc ids: one row per term, or two
    (the first 200 docs and the last 100, the base ∪ segment layout)."""
    import numpy as np
    import pandas as pd

    from ipfs_search_spark.functions.codec import encode_blocks
    rng = np.random.default_rng(5)
    ids = rng.choice(np.arange(-2**62, 2**62, 2**52), 300, replace=False)
    docs = [rng.choice(list("abcde"), rng.integers(3, 20),
                       p=[0.1, 0.3, 0.3, 0.2, 0.1]) for _ in ids]
    parts = [range(200), range(200, 300)] if split else [range(300)]
    terms, rows = [], []
    for t in "abcde":
        for part in parts:
            js = [j for j in part if t in docs[j]]
            tfs = np.array([(docs[j] == t).sum() for j in js])
            dls = np.array([docs[j].size for j in js])
            pos = np.concatenate([np.flatnonzero(docs[j] == t) for j in js])
            terms.append(t)
            rows.append(encode_blocks(ids[js], tfs, dls, pos,
                                      block_size=block_size))
    return pd.DataFrame({"shard": 0, "term": terms, "blocks": rows})


def test_scorer_output_ignores_block_size_and_row_split(monkeypatch):
    """Every query shape scores the same at block size 4 and 128, with each
    term in one postings row or split in two: slicing across block
    boundaries and concatenating a term's rows change no output row. Each
    shard call decodes its blocks in one decode_blocks call, and the
    positions of each phrase-term row (b, c) once."""
    from ipfs_search_spark.plans import query as q
    from ipfs_search_spark.plans.query import QuerySpec, _make_scorer

    calls = []
    for name in ("decode_blocks", "decode_blocks_positions"):
        def counted(*args, _f=getattr(q, name), _name=name):
            calls.append(_name)
            return _f(*args)
        monkeypatch.setattr(q, name, counted)

    def rows(*terms):
        w = {"a": 2.0, "b": 0.5, "c": 0.7, "d": 0.3}
        return [(t, w[t], t, 10.0) for t in terms]

    bc = [["b", "c"]]
    specs = {
        0: QuerySpec(rows=rows("a", "b", "c", "d")),
        1: QuerySpec(rows=rows("a", "b"), n_groups=2),
        2: QuerySpec(rows=rows("b", "c"), phrases=[[0, bc]]),
        3: QuerySpec(rows=rows("b", "c"), phrases=[[2, bc]]),
        4: QuerySpec(rows=rows("a"), negp=[[0, bc]]),
        5: QuerySpec(rows=rows("a", "b", "c"), tree={
            "tree": ["or", "a", '"b c"'], "phrases": {'"b c"': [0, bc]},
            "fbitmap": {}, "fconst": {}}),
    }
    scorer = _make_scorer(specs, 10, True)
    ref = scorer(_corpus_postings(128, False))
    assert sorted(set(ref["query_id"])) == list(specs)
    for block_size, split in ((4, False), (128, True), (4, True)):
        calls.clear()
        out = scorer(_corpus_postings(block_size, split))
        assert out.equals(ref), (block_size, split)
        n_rows = 4 if split else 2  # the postings rows of b and c
        assert calls == (["decode_blocks"]
                         + ["decode_blocks_positions"] * n_rows)


def test_mixed_batch_same_results_as_solo(spark, built_index):
    """A filtered query riding in the batch must not change an unfiltered
    query's results (every query keeps its own in-shard cut)."""
    from ipfs_search_spark.plans.query import search
    io, _ = built_index
    alone = [tuple(r) for r in
             search(spark, io, [(0, "data spark")], k=5).collect()]
    mixed = [tuple(r) for r in
             search(spark, io, [(0, "data spark"), (1, "data lang:en")],
                    k=5).collect() if r["query_id"] == 0]
    assert mixed == alone


@pytest.fixture(scope="module")
def pos_index(spark, pages, tmp_path_factory):
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index
    io = TableIO(spark, str(tmp_path_factory.mktemp("isx-plans-pos")))
    build_index(spark, pages, io, n_shards=4, n_buckets=16,
                max_bytes=1 << 15, positions=True)
    return io


def test_batch_rows_equal_solo_runs(spark, pos_index):
    """One search() call mixing every scorer shape returns, for every
    query_id, exactly the rows of that query run alone. The batch scores
    per shard: no join of postings with a query-term relation, and the
    pandas scorer groups by shard alone."""
    import re

    from ipfs_search_spark.plans.query import Searcher
    sx = Searcher(spark, pos_index)
    batch = ["data spark", "+data spark -merge", "data spark lang:en",
             "da* merge", "(data^2 OR spark) AND merge", "data OR NOT spark",
             '"data spark"~2 merge', "lang:en -data", "lang:de OR merge",
             "-data", "lang:de -dat*", 'lang:en -"data spark"',
             "-lang:en -lang:de"]
    qs = list(enumerate(batch))
    df = sx.search(qs, k=5)
    rows = [tuple(r) for r in df.collect()]
    for qid, q in qs:
        got = [r for r in rows if r[0] == qid]
        solo = [tuple(r) for r in sx.search([(qid, q)], k=5).collect()]
        assert got == solo, q
        assert solo, q
    plan = _plan(df)
    # the postings scan feeds the scorer directly: no join keyed on term
    assert not re.search(r"keys \[\d+\]: \[term#", plan)
    scorers = re.findall(
        r"FlatMap(Co)?GroupsInPandas\n(?:.*\n)*?Arguments: (.*)", plan)
    assert scorers
    for co, args in scorers:
        keys = re.findall(r"\[([^\]]*)\]", args)[:2 if co else 1]
        assert all(re.fullmatch(r"shard#\d+", k) for k in keys), args


def test_matchall_negation_is_bounded(spark, built_index):
    """A match-all query with a prohibited term ('lang:en -data') runs in
    the per-shard scorer like every other query: each shard emits its k
    lowest allowed doc_ids without the term, so no window partition ever
    ranks every surviving doc — and no anti-join or per-query
    TakeOrderedAndProject is planned."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.functions as FF

    from ipfs_search_spark.functions.tokenize import tokens_array
    from ipfs_search_spark.plans.query import QuerySpec, _make_scorer, search
    io, _ = built_index
    df = search(spark, io, [(0, "lang:en -data")], k=5)
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "LeftAnti" not in plan and "TakeOrderedAndProject" not in plan
    got = [r["doc_id"] for r in df.collect()]
    docs = io.read("documents")
    expected = [r["doc_id"] for r in docs
                .filter((FF.col("status") == "ok") & (FF.col("lang") == "en"))
                .filter(~FF.array_contains(tokens_array(FF.col("text")),
                                           "data"))
                .orderBy("doc_id").limit(5).collect()]
    assert got == expected

    # one shard: 300 allowed docs, t held by docs 0..99 and 200..249
    postings = _postings(("t", [*range(100), *range(200, 250)], 1))
    right = pd.DataFrame({"query_id": 0, "shard": 0,
                          "doc_id": np.arange(300, dtype=np.int64)[::-1],
                          "allow": 1, "fbits": 0})
    spec = QuerySpec(negs=["t"], flt=True, match_all=True)
    out = _make_scorer({0: spec}, 5, True)(postings, right)
    assert list(out["doc_id"]) == list(range(100, 105))
    assert set(out["score"]) == {1.0}
    # a shard holding none of the negative terms still emits its allowed docs
    out = _make_scorer({0: spec}, 5, True)(_postings(("u", [7], 1)), right)
    assert list(out["doc_id"]) == list(range(5))


def test_filtered_query_cut_stays_on_in_shard():
    """A `term lang:de` query emits at most k rows from its shard call:
    the filter-allowed doc set rides the cogroup into the scorer, the
    restriction happens in-shard, and the per-shard top-k cut stays ON
    (filtered queries used to ship their full candidate set)."""
    import numpy as np
    import pandas as pd

    from ipfs_search_spark.plans.query import QuerySpec, _make_scorer

    postings = _postings(("t", range(100), 2))
    row = ("t", 1.0, "t", 50.0)
    allowed = pd.DataFrame({"query_id": [0] * 40, "shard": [0] * 40,
                            "doc_id": np.arange(30, 70, dtype=np.int64),
                            "allow": [1] * 40, "fbits": [0] * 40})
    scorer = _make_scorer({0: QuerySpec(rows=[row], flt=True)}, 10, True)
    out = scorer(postings, allowed)
    assert len(out) == 10  # cut ON despite the filter
    assert set(out["doc_id"]) <= set(range(30, 70))  # in-shard restriction
    # empty allowed side → the filter matches nothing in this shard
    empty = allowed.iloc[0:0]
    assert len(scorer(postings, empty)) == 0
    # unfiltered query in the same cogroup: right side ignored
    both = _make_scorer({0: QuerySpec(rows=[row], flt=True),
                         1: QuerySpec(rows=[row])}, 10, True)
    out0 = both(postings, empty)
    assert len(out0) == 10 and set(out0["query_id"]) == {1}
    assert not set(out0["doc_id"]) <= set(range(30, 70))
    out1 = both(postings, allowed)
    assert out1[out1["query_id"] == 0].reset_index(drop=True).equals(out)


def test_filtered_batch_plans_one_documents_scan(spark, built_index):
    """A batch of 10 filtered queries and 10 match-all queries plans ONE
    documents scan for the allowed sets (plus the display-field join's
    scan) — not one scan per filtered or match-all query, and no
    anti-join."""
    import re

    from ipfs_search_spark.plans.query import search
    io, _ = built_index
    terms = ["data", "spark", "merge", "block", "scan",
             "data", "spark", "merge", "block", "scan"]
    langs = ["en", "de", "fr"] * 4
    batch = [(i, f"{t} lang:{lc}")
             for i, (t, lc) in enumerate(zip(terms, langs))]
    batch += [(10 + i, f"lang:{lc} -{t}")
              for i, (t, lc) in enumerate(zip(terms, langs))]
    df = search(spark, io, batch, k=5)
    plan = _plan(df)
    n_doc_scans = len(re.findall(r"Location.*documents", plan))
    assert n_doc_scans == 2, f"expected 2 documents scans, got {n_doc_scans}"
    assert "FlatMapCoGroupsInPandas" in plan
    assert "LeftAnti" not in plan
    # results still exact: spot-check one query against the solo run
    rows = [tuple(r) for r in df.collect()]
    for qid, q in ((3, "block lang:en"), (13, "lang:en -block")):
        got = [r for r in rows if r[0] == qid]
        solo = [tuple(r) for r in search(spark, io, [(qid, q)], k=5).collect()]
        assert got == solo and got, q


def test_fast_filter_tree_is_in_shard(spark, built_index):
    """A monotone filter-leaf tree (`lang:de OR merge`) evaluates fully
    in-shard: 2 documents scans only (leaf-bits + display join — no
    per-branch metadata join, no filter-only documents branch), cut ON."""
    import re

    from ipfs_search_spark.plans.query import search
    io, _ = built_index
    df = search(spark, io, [(0, "lang:de OR merge")], k=5)
    plan = _plan(df)
    n_doc_scans = len(re.findall(r"Location.*documents", plan))
    assert n_doc_scans == 2, f"expected 2 documents scans, got {n_doc_scans}"
    assert "FlatMapCoGroupsInPandas" in plan
    # the legacy path's filter-only branch was a TakeOrderedAndProject over
    # a third documents scan; the fast path must not plan one
    got = [tuple(r) for r in df.collect()]
    assert got  # and correctness is pinned by test_filter_tree + oracle


def test_extract_is_arrow_batched(spark, pages):
    """Extraction must run as ArrowEvalPython (pandas UDF), never
    BatchEvalPython (row-at-a-time pickling)."""
    from ipfs_search_spark.functions.extract import with_extracted_text
    out = with_extracted_text(pages.drop("text"), max_bytes=1 << 15,
                              status_col="status")
    plan = _plan(out)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_uncached_vocab_scans_push_down(spark, built_index, cold_searcher):
    """The at-scale vocabulary path (the uncached one a web-scale vocab
    exceeding TERM_CACHE_MAX takes): every expansion/lookup scan over the
    term-sorted term_stats table must push its pruning predicate into the
    parquet source (r4 verdict next #6). Row-group min/max stats on the
    sorted term column then skip everything outside the probed range."""
    from ipfs_search_spark.plans.query import Searcher
    io, _ = built_index
    sx = cold_searcher(spark, io)
    assert sx._term_cache is None

    def pushed(df) -> str:
        plan = _plan(df)
        assert "PushedFilters:" in plan
        return plan.split("PushedFilters:")[1][:300]

    # exact lookup: In(term, ...)
    p = pushed(sx._lookup_scan(["data", "merge"]))
    assert "In(term" in p
    # prefix: StringStartsWith range
    p = pushed(sx._prefix_scan("da", 50))
    assert "StartsWith(term,da" in p
    # wildcard: the literal head pushes; the regex evaluates post-scan
    p = pushed(sx._wildcard_scan("da", "^da[a-z0-9]*a$", 50))
    assert "StartsWith(term,da" in p
    # fuzzy on a fielded namespace: the field prefix pushes
    p = pushed(sx._fuzzy_scan("title:", "data", 1, 50))
    assert "StartsWith(term,title:" in p
    # bare fuzzy cannot prefix-prune (distance admits a changed first
    # char) but must still prune columns to the 3 stats columns
    plan = _plan(sx._fuzzy_scan("", "data", 1, 50))
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "term" in rs and "df" in rs and "blocks" not in rs

    # regex: the conservative literal head pushes like a wildcard head
    p = pushed(sx._wildcard_scan("mer", "^(?:mer.+)$", 50))
    assert "StartsWith(term,mer" in p

    # and the uncached surface answers identically to the cached one
    cached = Searcher(spark, io)  # small vocab → cached
    assert cached._term_cache is not None
    qs = [(0, "da* merge"), (1, "data~1"), (2, "d?ta"), (3, "/dat[a-z]/")]
    a = [tuple(r) for r in sx.search(qs, k=10).collect()]
    b = [tuple(r) for r in cached.search(qs, k=10).collect()]
    assert a == b and a


def test_transpositions_scan_stays_arrow_and_prefiltered(spark, built_index,
                                                         cold_searcher):
    """The Damerau fuzzy scan (fuzzy_transpositions=True, uncached) must
    keep the JVM-side levenshtein prefilter in the scan stage (the exact
    DL re-check sees only band survivors) and evaluate the re-check as an
    Arrow-batched python UDF, never row-at-a-time pickling."""
    io, _ = built_index
    sx = cold_searcher(spark, io, fuzzy_transpositions=True)
    plan = _plan(sx._fuzzy_scan("", "data", 1, 50))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "levenshtein" in plan  # JVM prefilter present below the UDF


def test_or_not_tree_plans_two_documents_scans(spark, built_index):
    """Default-true pure-term trees (`a OR NOT b`) run in-shard like every
    other tree: exactly TWO documents scans — the per-doc rows cogrouped
    into the shard scorer, and the final url lookup (a third scan here is
    a full table read per query at 100 TB). Their term-absent matches
    (branch B) come from the shard call, cut to k rows per shard."""
    import re

    import numpy as np
    import pandas as pd

    from ipfs_search_spark.plans.query import QuerySpec, _make_scorer, search
    io, _ = built_index
    df = search(spark, io, [(0, "merge OR NOT batch")], k=10)
    plan = _plan(df)
    n = len(re.findall(r"Location.*documents", plan))
    assert n == 2, f"expected 2 documents scans, got {n}"
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan

    # one shard of `t OR NOT u`: docs 0..99 hold t (score > 1), docs
    # 50..299 hold u, docs 300..399 hold neither (branch B, constant 1.0)
    postings = _postings(("t", range(100), 2), ("u", range(50, 300), 1))
    right = pd.DataFrame({"query_id": 0, "shard": 0,
                          "doc_id": np.arange(400, dtype=np.int64),
                          "allow": 1, "fbits": 0})
    spec = QuerySpec(rows=[("t", 3.0, "t", 50.0), ("u", 0.0, "u", 50.0)],
                     tree={"tree": ["or", "t", ["not", "u"]], "phrases": {},
                           "fbitmap": {}, "fconst": {}},
                     branch_b=True)
    out = _make_scorer({0: spec}, 10, True)(postings, right)
    assert len(out) == 10  # the shard emits at most k_page rows
    assert set(out["doc_id"]) <= set(range(100))
    out = _make_scorer({0: spec}, 150, True)(postings, right)
    assert len(out) == 150
    assert sorted(out[out["score"] > 1.0]["doc_id"]) == list(range(100))
    assert sorted(out[out["score"] == 1.0]["doc_id"]) == list(range(300, 350))


def test_moved_tree_shapes_run_no_more_jobs(spark, built_index):
    """Trees with a term leaf under NOT and default-true trees share the
    in-shard path of `lang:de OR merge`, so neither runs more Spark jobs."""
    from ipfs_search_spark.plans.query import Searcher
    io, _ = built_index
    sx = Searcher(spark, io)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    try:
        for i, q in enumerate(["lang:de OR merge",
                               "(lang:de OR merge) AND NOT spark",
                               "merge OR NOT batch"]):
            group = f"moved-tree-jobs-{i}"
            sc.setJobGroup(group, q)
            assert sx.search([(0, q)], k=10).collect()
            jobs[q] = len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    base = jobs.pop("lang:de OR merge")
    assert base > 0
    assert all(n <= base for n in jobs.values()), (base, jobs)
