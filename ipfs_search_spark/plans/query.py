"""Top-k BM25 query engine over the sharded posting index.

Plan shape (SURVEY.md §3.3 Spark restatement):

  query strings ──parse──> one QuerySpec per query, at plan time: its
                            scoring rows (term, idf·boost, group, avgdl;
                            exact df from term_stats, idf in python math.log
                            so it is bit-identical to the oracle), negative
                            terms/phrases, AND count, phrase and tree specs
  postings scan:  bucket IN (...) AND term IN (...)   ← partition + row-group
                  pruning, no full scan; every term of the batch, read once
  groupBy(shard).applyInPandas(score)  ← ONE Python call per shard scores
       the whole batch; the specs ride in the scorer closure (no query-term
       join). Each posting block ships once; ONE vectorized decode pass
       per call decodes every block, and each row's slice is shared by
       every query that reads it; per query: numpy BM25, block-max pruning,
       per-shard top-k (docs are disjoint across shards so the per-shard
       top-k merge is EXACT — same as Lucene's 20-shard search).
       Filtered, filter-leaf and match-all queries: cogroup(one documents
       scan's per-doc rows, by shard). Every query kind takes this one
       candidate path; the plan does not grow with the batch.
  window rank over (query_id) → global top-k  (candidates ≤ Q·S·k rows)
  broadcast-join doc_map for url display fields

Float determinism: per-doc sums accumulate in ascending-term order via a
stable argsort + np.add.reduceat — the identical operation order to
oracle.py, so scores are bit-comparable (SURVEY.md §7 hard part 2).

Block-max pruning (sound, never changes results — test-asserted):
  θ = k-th best single-term score of the highest-bound term h within the
  shard (a valid lower bound on the shard's k-th best total). A block B of
  term t is not scored iff no surviving doc of h lies in B's doc range and
  idf_t·ub(B) + Σ_{t'≠t,h} idf_{t'}·ub(t') < θ, where
  ub = tfnorm(max_tf, min_dl, avgdl) is the avgdl-at-query-time block bound:
  every doc in B then has total score < θ and cannot reach the top-k. (A
  bound that counts h never falls below θ, so the blocks holding h's docs
  are always scored.) Pruning skips scoring, not decoding: the shard call
  decodes every block it receives in one pass.

Phrase queries (positional index, the reference's `term_vector:
with_positions_offsets` — /root/reference/docs/indices/files.json:93):
quoted phrases are REQUIRED clauses; the scorer decodes each phrase term's
per-posting positions and verifies adjacency with a vectorized
(doc,pos)-key chain (_match_phrase) before the per-shard top-k cut —
doc-sharding keeps the check shard-local and exact. Pruning is disabled
within POSITIVE-phrase queries (a skipped block would lose position data).

Negation (`-term`, `-"a b"`) resolves IN-SHARD: doc-sharding co-locates a
doc's negative-term postings with its positive ones (and with its
cogrouped per-doc rows), so they arrive in the same shard call, excluded
docs leave before the per-shard cut, and block-max pruning stays ON with θ
computed over surviving docs only — no anti-join.

Match-all (filter/negation-only) query strings (`lang:de`, `lang:en
-data`, `-data`): every indexed doc passing the filters, minus the
excluded ones, at constant score 1.0, ranked by doc_id. The documents scan
ships each passing doc to its shard; the shard call emits its k lowest
surviving doc_ids.

Boolean trees (parser.bool_tree — nested AND/OR/NOT with ^boost) take the
same in-shard path, whatever their shape. Every leaf term is fetched as a
posting row (NOT-only leaves at idf 0 so they gate without scoring); the
scorer builds a per-doc presence bitmask over the (doc, group) segments
it already reduces, evaluates the tree with vectorized numpy boolean ops
(phrase leaves resolve through the positional matcher), and filters before
the per-shard top-k cut — doc-sharding makes both the scores and the mask
complete within a shard, so the cut stays exact. Filter leaves
(`lang:de OR merge`) resolve through a per-doc leaf bitmask that the one
documents scan routes to the doc's shard. A tree that can match a doc
holding no query term — one with filter leaves, or a default-true tree
like `a OR NOT b` whose shipped rows are every indexed doc — also emits
those docs (branch B) at the constant 1.0 from the same shard call, cut
to the shard's k lowest doc_ids. Per-term ^boost multiplies idf (Lucene
semantics). Pruning and AND-required counts are per-query (a batch can
mix flat OR, flat AND, and boolean-tree queries).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
)

from ipfs_search_spark.catalog import TableIO
from ipfs_search_spark.functions.codec import (
    decode_blocks, decode_blocks_positions, tfnorm,
)
from ipfs_search_spark.operators.index_build import open_index, shard_of
from ipfs_search_spark.plans.parser import (
    Expansion, Filter, Query, QueryParseError, filter_to_sql, parse_query,
)

CANDIDATE_SCHEMA = StructType([
    StructField("query_id", IntegerType()),
    StructField("doc_id", LongType()),
    StructField("score", DoubleType()),
])


def idf(n_docs: int, df: int) -> float:
    """Lucene BM25 idf — must stay in python math.log (oracle parity)."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def levenshtein(a: str, b: str) -> int:
    """Classic unit-cost edit distance (insert/delete/substitute) — the
    same definition as Spark's F.levenshtein and DuckDB's levenshtein(), so
    the cached driver-side fuzzy expansion, the distributed vocabulary
    scan, and the SQL oracle pick identical expansion sets."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def damerau_levenshtein(a: str, b: str) -> int:
    """True Damerau-Levenshtein (Lowrance-Wagner: insert / delete /
    substitute / transpose, where a transposition may span intervening
    edits — 'ca'→'abc' = 2). This is the definition DuckDB's
    damerau_levenshtein() implements, so in transpositions mode the cached
    driver-side expansion, the distributed scan's exact re-check, and the
    SQL oracle pick identical expansion sets (the same three-way identity
    the classic fuzzy path keys on levenshtein). Lucene's
    FuzzyQuery(transpositions=true) automaton is the adjacent-transposition
    family; on gap-transposition corner cases true DL admits strictly more
    terms — pinned deliberately to the DuckDB definition (COVERAGE.md
    deviations). Bounds used by the scan prefilter: DL ≤ lev ≤ 2·DL."""
    da: dict = {}
    la, lb = len(a), len(b)
    inf = la + lb
    d = [[inf] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            ll = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,                            # sub / match
                d[i + 1][j] + 1,                           # insert
                d[i][j + 1] + 1,                           # delete
                d[k][ll] + (i - k - 1) + 1 + (j - ll - 1))  # transpose
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _wildcard_regex(pattern: str) -> str:
    """Anchored regex for a [a-z0-9*?] wildcard pattern (parser-validated:
    alnum-only literals, so no escaping is needed)."""
    return "^" + pattern.replace("*", ".*").replace("?", ".") + "$"


_WILD_LIT_RE = re.compile(r"^[a-z0-9]*")


def _regex_literal_head(pat: str) -> str:
    """Leading literal run of a regexp usable as a StartsWith pruning
    prefix over the term-sorted vocabulary. Conservative: '' when the
    pattern has a top-level alternation (either branch may not carry the
    run), and the run's last char is dropped when a quantifier could make
    it optional (`ab*c` matches 'ac' — only 'a' is a safe prefix)."""
    if "|" in pat:
        return ""
    head = _WILD_LIT_RE.match(pat).group(0)
    if head and len(pat) > len(head) and pat[len(head)] in "*?{":
        head = head[:-1]
    return head


def _match_phrase(pos_data: dict, phrase: list, slop: int = 0):
    """Docs (int64 array) matching the phrase at the given slop.

    slop=0 (`"a b"`): exact adjacency, in order. slop=N (`"a b"~N`):
    Lucene query_string sloppy-phrase — the doc matches iff one occurrence
    per phrase leaf can be chosen (distinct token positions when a term
    repeats in the phrase) with
        max_i(pos_i - i) - min_i(pos_i - i) <= slop,
    the acceptance condition of Lucene's SloppyPhraseMatcher (slop as move
    edit distance). Reordering IS admitted once slop covers the
    displacement: `"b a"~2` matches "a b". For in-order selections the
    condition is algebraically identical to the span rule
    (last - first <= len-1+slop), so every in-order match of the old
    windowed form is preserved.

    pos_data: term → (el_doc_ids int64, el_positions int64) — one element
    per term OCCURRENCE. Both paths are vectorized over ALL docs at once:
    docs are densified and (doc, pos) packed into one int64 key
    (positions < 2^32 since dl < 2^31).

    slop=0 path: a GREEDY chain of sorted lower-bound probes — from each
    start position of term 0, repeatedly take the smallest occurrence of
    term i after the current position; greedy minimizes the chain's end,
    so a start matches iff its greedy span fits — exact, no backtracking.

    slop>0 path: minimal-range window over the union of ADJUSTED keys
    (pos - leaf_offset, shifted positive). All leaves' adjusted keys are
    merged and sorted; for each right edge r, left[r] is the smallest
    index with key[r]-key[left] <= slop (binary search; windows never
    cross docs because adjusted >= slop+1), and per-leaf prefix counts
    decide whether every leaf occurs in [left[r], r]. A window containing
    every leaf yields a selection with adjusted range <= slop and vice
    versa. Phrases with REPEATED terms additionally verify that distinct
    token positions can be assigned (tiny per-doc bipartite matching —
    distinct terms can never collide since a position holds one token)."""
    empty = np.empty(0, dtype=np.int64)
    arrs = []
    for t in phrase:
        if t not in pos_data:
            return empty
        arrs.append(pos_data[t])
    all_docs = np.unique(np.concatenate([a[0] for a in arrs]))
    # clamp: positions < 2^31 (dl bound), so any slop >= 2^30 admits every
    # in-doc selection a larger slop would — while keeping the packed
    # adjusted key (pos - i + slop + m) inside the low 32 bits. Lucene
    # accepts arbitrary int slop; semantics are identical under the clamp.
    s = np.int64(min(int(slop), 1 << 30))
    if s > 0:
        return _match_phrase_sloppy(all_docs, arrs, phrase, int(s))
    keys = []
    for el_ids, el_pos in arrs:
        dense = np.searchsorted(all_docs, el_ids).astype(np.int64)
        key = (dense << np.int64(32)) + el_pos
        key.sort()
        keys.append(key)
    cur = keys[0]
    start = cur
    for i in range(1, len(keys)):
        nxt = keys[i]
        # smallest occurrence of term i strictly after cur, same doc,
        # within the remaining window budget
        idx = np.searchsorted(nxt, cur + np.int64(1))
        idx_c = np.minimum(idx, max(nxt.size - 1, 0))
        ok = idx < nxt.size
        if nxt.size:
            cand = nxt[idx_c]
            ok &= (cand >> np.int64(32)) == (cur >> np.int64(32))
            ok &= cand - start <= np.int64(i) + s
            cur = cand
        cur, start = cur[ok], start[ok]
        if cur.size == 0:
            return empty
    return np.unique(all_docs[start >> np.int64(32)])


def _match_phrase_sloppy(all_docs, arrs, phrase: list, slop: int):
    """slop>0 body of _match_phrase (see its docstring for semantics)."""
    m = len(phrase)
    off = np.int64(slop + m)  # adjusted >= slop+1: windows stay in-doc
    keys_l, labels_l = [], []
    for i, (el_ids, el_pos) in enumerate(arrs):
        dense = np.searchsorted(all_docs, el_ids).astype(np.int64)
        keys_l.append((dense << np.int64(32)) + el_pos - np.int64(i) + off)
        labels_l.append(np.full(el_pos.size, i, dtype=np.int64))
    keys = np.concatenate(keys_l)
    labels = np.concatenate(labels_l)
    order = np.argsort(keys, kind="stable")
    keys, labels = keys[order], labels[order]
    left = np.searchsorted(keys, keys - np.int64(slop), side="left")
    pres = np.ones(keys.size, dtype=bool)
    for i in range(m):
        c = np.cumsum(labels == i)
        pres &= (c - np.where(left > 0, c[left - 1], 0)) > 0
    hit = np.unique(keys[pres] >> np.int64(32))
    if hit.size == 0:
        return np.empty(0, dtype=np.int64)
    if len(set(phrase)) == m:
        return np.unique(all_docs[hit])
    # repeated phrase terms: the presence test can satisfy two leaves of
    # the same term with ONE occurrence; verify a distinct assignment
    # exists per candidate doc (Hall via augmenting paths, sizes ~m).
    ok_docs = [d for d in hit.tolist()
               if _sloppy_repeats_doc_ok(
                   [arr[1][arr[0] == all_docs[d]] for arr in arrs],
                   slop)]
    if not ok_docs:
        return np.empty(0, dtype=np.int64)
    return np.unique(all_docs[np.asarray(ok_docs, dtype=np.int64)])


def _sloppy_repeats_doc_ok(pos_by_leaf: list, slop: int) -> bool:
    """One doc, repeated-term phrase: does a distinct-position selection
    with adjusted range <= slop exist? Scans maximal windows of the merged
    adjusted positions; each window that contains every leaf is checked
    with a tiny bipartite matching (leaf → raw token position)."""
    entries = sorted((int(p) - i, i, int(p))
                     for i, arr in enumerate(pos_by_leaf)
                     for p in arr.tolist())
    m = len(pos_by_leaf)
    adj = [e[0] for e in entries]
    lo = 0
    for hi in range(len(entries)):
        while adj[hi] - adj[lo] > slop:
            lo += 1
        window = entries[lo:hi + 1]
        cand: dict = {}
        for _, leaf, raw in window:
            cand.setdefault(leaf, set()).add(raw)
        if len(cand) < m:
            continue
        match: dict = {}

        def try_leaf(i: int, seen: set) -> bool:
            for r in cand[i]:
                if r in seen:
                    continue
                seen.add(r)
                if r not in match or try_leaf(match[r], seen):
                    match[r] = i
                    return True
            return False

        if all(try_leaf(i, set()) for i in range(m)):
            return True
    return False


def _filters_pred(p: Query, doc_cols) -> str | None:
    """Render a query's filters against this documents schema. Returns a
    SQL predicate, or None when the filters cannot match any doc — e.g.
    references.name on an index whose documents table has no references
    column (no doc matches the positive filter; its negation matches
    everything and is dropped)."""
    preds = []
    for f in p.filters:
        if f.field == "references.name" and "references" not in doc_cols:
            if f.neg:
                continue
            return None
        preds.append(filter_to_sql(f))
    return " AND ".join(preds) if preds else "true"


def _default_tree_const(node, bool_filters: dict) -> bool:
    """The tree's value at the DEFAULT valuation — every term/phrase/
    expansion leaf false, every filter leaf's positive form false (so a
    negated leaf reads true). This is what the tree evaluates to for a doc
    that contains no query term and matches no positive filter clause.
    False: every possible match either holds a query term (a scorer
    candidate) or matches a positive filter clause (shipped to its shard
    by the documents scan). True (`a OR NOT lang:en`: every non-english
    doc matches): the documents scan ships every indexed doc passing the
    query's conjunct filters instead."""
    if isinstance(node, str):
        flt = bool_filters.get(node)
        return bool(flt.neg) if flt is not None else False
    if node[0] == "not":
        return not _default_tree_const(node[1], bool_filters)
    vals = [_default_tree_const(c, bool_filters) for c in node[1:]]
    return all(vals) if node[0] == "and" else any(vals)


def _eval_tree(node, fbitmap: dict, fconst: dict, fbits, present: dict):
    """Vectorized tree evaluation over n docs: filter leaves read their
    (possibly inverted) bit of `fbits` (the docs' positive filter-leaf
    bitmasks), leaves on columns this index lacks their constant, and
    term/phrase/expansion leaves their `present` vector — a leaf missing
    from it (absent from the index, or branch B's terms-false form) reads
    false."""
    if isinstance(node, str):
        if node in fbitmap:
            bit, inv = fbitmap[node]
            v = ((fbits >> np.int64(bit)) & 1).astype(bool)
            return ~v if inv else v
        if node in fconst:
            return np.full(fbits.size, bool(fconst[node]), dtype=bool)
        v = present.get(node)
        return v if v is not None else np.zeros(fbits.size, dtype=bool)
    if node[0] == "not":
        return ~_eval_tree(node[1], fbitmap, fconst, fbits, present)
    acc = _eval_tree(node[1], fbitmap, fconst, fbits, present)
    for c in node[2:]:
        nxt = _eval_tree(c, fbitmap, fconst, fbits, present)
        acc = (acc & nxt) if node[0] == "and" else (acc | nxt)
    return acc


@dataclass
class QuerySpec:
    """One query's scoring spec, built at plan time and shipped to every
    shard call in the scorer's closure (no query-term relation is joined
    onto the postings scan).

    rows: positive posting rows (term, weight, group, avgdl); weight is
        idf·boost (0 for presence-only tree leaves), group the base query
        term (or clause key) the posting term scores for.
    negs: NOT-term posting terms; a doc holding any of them is excluded.
    negp: NOT-phrase groups [slop, variants]; a doc matching any is
        excluded.
    n_groups: AND-required group count; 0 = OR / boolean tree, negative =
        minimum_should_match floor of |n| groups.
    phrases: required phrase groups [slop, variants]; a variant is a list
        of posting terms, and a group matches when any variant does.
    tree: boolean-tree spec {tree, phrases, fbitmap, fconst}; fbitmap:
        filter leaf → [bit, invert] in the cogrouped `fbits`, fconst: leaf
        on a column this index lacks → its constant truth value.
    flt: restrict to the query's cogrouped allowed doc set.
    branch_b: the tree can match a doc holding no query term (filter
        leaves, or default-true); such docs arrive on the cogroup's right
        side and match at the constant 1.0, in every shard.
    match_all: a filter/negation-only query (no positive clause; flt is
        set): its matches are its allowed docs minus the excluded ones, at
        the constant 1.0, cut to the shard's k lowest doc_ids.

    Every query keeps its per-shard top-k cut."""
    rows: list = field(default_factory=list)
    negs: list = field(default_factory=list)
    negp: list = field(default_factory=list)
    n_groups: int = 0
    phrases: list = field(default_factory=list)
    tree: dict | None = None
    flt: bool = False
    branch_b: bool = False
    match_all: bool = False

    def negp_terms(self) -> set:
        return {t for g in self.negp for var in g[1] for t in var}

    def terms(self) -> set:
        return ({r[0] for r in self.rows} | set(self.negs)
                | self.negp_terms())


class _ShardPostings:
    """One shard's postings rows for a query batch, decoded when built: ONE
    codec.decode_blocks pass over every block the call received, and the
    block metadata into arrays, so each row is a slice shared by every
    query of the batch. tf-normalisations (postings and block-max bounds)
    are computed once per avgdl, positions once per row and only for the
    rows a phrase reads. Block-max pruning therefore skips scoring, not
    decoding. Peak memory of one call: 24 bytes per shipped posting, 8 more
    per distinct avgdl, plus 16 bytes per term occurrence of the
    phrase-term rows."""

    def __init__(self, pdf: pd.DataFrame):
        self.blocks = [list(b) for b in pdf["blocks"]]
        self.rows_of: dict = {}
        for i, t in enumerate(pdf["term"]):
            self.rows_of.setdefault(t, []).append(i)
        flat = [b for blks in self.blocks for b in blks]

        def meta(name):
            return np.fromiter((b[name] for b in flat), np.int64, len(flat))

        self.ids, self.tfs, self.dls, _ = decode_blocks(flat)
        self.n, self.max_tf, self.min_dl = (meta("n"), meta("max_tf"),
                                            meta("min_dl"))
        self.first_u = meta("first_doc_id").view(np.uint64)
        # row i holds blocks [row_b[i], row_b[i+1]); block j holds
        # postings [blk_p[j], blk_p[j+1])
        self.row_b = np.concatenate(([0], np.cumsum(
            [len(b) for b in self.blocks], dtype=np.int64)))
        self.blk_p = np.concatenate(([0], np.cumsum(self.n)))
        self._norm: dict = {}
        self._pos: dict = {}

    def blocks_of(self, i: int) -> slice:
        return slice(self.row_b[i], self.row_b[i + 1])

    def postings_of(self, i: int) -> slice:
        return slice(self.blk_p[self.row_b[i]], self.blk_p[self.row_b[i + 1]])

    def norms(self, avgdl: float):
        """(tfnorm of every posting, tfnorm bound of every block) at avgdl."""
        v = self._norm.get(avgdl)
        if v is None:
            v = self._norm[avgdl] = (tfnorm(self.tfs, self.dls, avgdl),
                                     tfnorm(self.max_tf, self.min_dl, avgdl))
        return v

    def positions(self, i: int):
        """(doc_id, position) of every term occurrence of row i."""
        v = self._pos.get(i)
        if v is None:
            s = self.postings_of(i)
            v = self._pos[i] = (
                np.repeat(self.ids[s], self.tfs[s]),
                decode_blocks_positions(self.blocks[i], self.tfs[s]))
        return v


def _pos_data(sp: _ShardPostings, terms) -> dict:
    """term → (el_doc_ids, el_positions) over the shard's rows of each term,
    one element per term occurrence (_match_phrase's input); terms without
    a row here are absent."""
    out = {}
    for t in terms:
        parts = [sp.positions(i) for i in sp.rows_of.get(t, ())]
        if parts:
            out[t] = tuple(np.concatenate(c) for c in zip(*parts))
    return out


def _excluded(spec: QuerySpec, sp: _ShardPostings):
    """The shard's docs a query's negative clauses exclude — NOT-term
    postings plus NOT-phrase matches — or None when no negative posting
    lives in this shard."""
    parts = [sp.ids[sp.postings_of(i)]
             for t in spec.negs for i in sp.rows_of.get(t, ())]
    pos_data = _pos_data(sp, spec.negp_terms())
    if pos_data:
        for slop, vars_ in spec.negp:
            mlist = [_match_phrase(pos_data, var, slop) for var in vars_]
            if mlist:
                parts.append(np.unique(np.concatenate(mlist)))
    return np.unique(np.concatenate(parts)) if parts else None


def _kept_blocks(sp: _ShardPostings, i: int, docs, bound=None,
                 theta: float = 0.0):
    """Block mask of postings row i: the blocks a query scores. A block is
    dropped when its [first_doc_id, next block's first_doc_id) range holds
    no doc of `docs` (unsigned-sorted) and its block-max `bound` (per
    block, the most one of its docs can total; None drops on the range
    alone) is below θ."""
    b = sp.blocks_of(i)
    j = np.searchsorted(docs, sp.first_u[b])
    keep = np.diff(j, append=docs.size) > 0
    if bound is not None:
        # bounds and scores are float sums taken in different orders: the
        # relative slack keeps a block whose best doc could tie θ
        keep |= bound >= theta * (1.0 - 1e-9)
    return keep


def _branch_b(spec: QuerySpec, fmap, allowed, seen=None):
    """Branch B of a tree in one shard: the shipped docs (fmap: sorted
    doc_ids, positive filter-leaf bits) that hold no query-term posting
    here (not in `seen`; the full tree decides those), pass the conjunct
    filters (`allowed`) and satisfy the tree with every term leaf false.
    They match at the constant 1.0; the result stays doc_id-sorted."""
    dids, fb = fmap
    sel = np.ones(dids.size, dtype=bool)
    if seen is not None:
        sel &= ~np.isin(dids, seen)
    if allowed is not None:
        sel &= np.isin(dids, allowed)
    dids, fb = dids[sel], fb[sel]
    t = spec.tree
    return dids[_eval_tree(t["tree"], t["fbitmap"], t["fconst"], fb, {})]


def _score_query(spec: QuerySpec, sp: _ShardPostings, k: int, prune: bool,
                 combine: str, tie_breaker: float, allowed=None, fmap=None):
    """One query's candidates in one shard → (doc_ids, scores), or None
    when it has none. `allowed`: the query's filter-allowed docs (flt
    queries); `fmap`: (sorted doc_ids, positive filter-leaf bits) of the
    shard's docs shipped for a branch-B tree."""

    # scoring rows in ascending term order, one per (query row, postings
    # row): a term has several postings rows per shard on segmented
    # indexes (disjoint doc sets)
    rows = [(i, t, w, g, a)
            for t, w, g, a in sorted(spec.rows, key=lambda r: r[0])
            for i in sp.rows_of.get(t, ())]
    if not rows:
        return None
    n_rows = len(rows)
    phrases = spec.phrases
    bool_spec = spec.tree
    # each phrase group is [slop, [variant, ...]] (variant = term list)
    phrase_terms = {t for grp in phrases for var in grp[1] for t in var}
    if bool_spec:
        phrase_terms |= {t for grp in bool_spec["phrases"].values()
                         for var in grp[1] for t in var}
    # positions of the phrase terms this query scores, decoded once per row
    pos_data = _pos_data(sp, phrase_terms & {r[1] for r in rows})

    # excluded docs of this shard: NOT-term postings + NOT-phrase matches
    excl = _excluded(spec, sp)
    avgdls = np.array([r[4] for r in rows], dtype=np.float64)
    idfs = np.array([r[2] for r in rows], dtype=np.float64)
    groups_sorted = sorted({r[3] for r in rows})
    group_of = {g: i for i, g in enumerate(groups_sorted)}
    row_group = np.array([group_of[r[3]] for r in rows], dtype=np.int64)
    n_groups = len(groups_sorted)

    # Flat positive-phrase queries: P = the docs satisfying every phrase
    # group. A free term's block whose docid range holds no member of P
    # is not scored — its docs can never reach the result, and every
    # block holding a P-doc is scored in full, so surviving scores are
    # exact.
    phrase_P_u = None
    matched_pre = None
    if phrases:
        matched_pre = [
            (np.unique(np.concatenate(
                [_match_phrase(pos_data, var, grp[0])
                 for var in grp[1]]))
             if grp[1] else np.empty(0, np.int64))
            for grp in phrases
        ]
        P = matched_pre[0]
        for m in matched_pre[1:]:
            P = np.intersect1d(P, m, assume_unique=True)
        phrase_P_u = np.sort(P.view(np.uint64))

    # per-query AND-required group count (0 = OR semantics); pruning is
    # per-query too — sound only for flat-OR, non-phrase, non-boolean
    expected = spec.n_groups
    theta = 0.0
    best_i = best_u = None
    if prune and n_rows > 1 and expected == 0 \
            and not phrases and bool_spec is None:
        # each row's bound: its weight times its best block's tfnorm bound
        term_max_ub = np.array(
            [w * max(sp.norms(a)[1][sp.blocks_of(i)].tolist(), default=0.0)
             for i, _, w, _, a in rows], dtype=np.float64)
        best_i = int(np.argmax(term_max_ub))
        s = sp.postings_of(rows[best_i][0])
        solo_ids = sp.ids[s]
        solo = idfs[best_i] * sp.norms(avgdls[best_i])[0][s]
        # θ must be a lower bound over SURVIVING docs only — excluded
        # docs, and for filtered queries docs outside the allowed set,
        # would over-prune blocks holding docs that belong in the top-k
        kp = np.ones(solo.size, dtype=bool)
        if excl is not None:
            kp &= ~np.isin(solo_ids, excl)
        if allowed is not None:
            kp &= np.isin(solo_ids, allowed)
        solo = solo[kp]
        if solo.size >= k:
            theta = float(np.partition(solo, -k)[-k])
            best_u = np.sort(solo_ids[kp].view(np.uint64))
            # a group's max possible contribution to a doc WITHOUT the θ
            # row's term. A block holding one of its surviving docs is
            # always scored: a bound that counts the θ row never falls
            # below θ. With a dis_max tie_breaker the blended score max +
            # tb*(sum - max) can exceed the max bound but never the sum
            # bound, so bounds fall back to sum-combine (sound, looser)
            ub_wo = term_max_ub.copy()
            ub_wo[best_i] = 0.0
            group_ub = np.zeros(n_groups)
            if combine == "max" and tie_breaker == 0.0:
                np.maximum.at(group_ub, row_group, ub_wo)
            else:
                np.add.at(group_ub, row_group, ub_wo)

    ids_parts, sc_parts, grp_parts = [], [], []
    for row_i, (i, t_name, _, _, _) in enumerate(rows):
        g = row_group[row_i]
        norm, ubs = sp.norms(avgdls[row_i])
        keep = None
        if best_u is not None and row_i != best_i:
            # other groups can add at most their group bound; within this
            # row's group a doc of this block gets the block's bound,
            # combined with the bounds of its sibling field-rows (max for
            # max-combine, where siblings don't stack; else their sum)
            others_ub = float(group_ub.sum() - group_ub[g])
            sib_ub = ub_wo[(row_group == g) & (np.arange(n_rows) != row_i)]
            ub = idfs[row_i] * ubs[sp.blocks_of(i)]
            bound = (np.maximum(ub, sib_ub.max(initial=0.0))
                     if combine == "max" and tie_breaker == 0.0
                     else ub + sib_ub.sum()) + others_ub
            keep = _kept_blocks(sp, i, best_u, bound, theta)
        elif phrase_P_u is not None and t_name not in phrase_terms:
            keep = _kept_blocks(sp, i, phrase_P_u)
        s = sp.postings_of(i)
        ids_r, norm_r = sp.ids[s], norm[s]
        if keep is not None and not keep.all():
            pk = np.repeat(keep, sp.n[sp.blocks_of(i)])
            ids_r, norm_r = ids_r[pk], norm_r[pk]
        ids_parts.append(ids_r)
        sc_parts.append(idfs[row_i] * norm_r)
        grp_parts.append(np.full(ids_r.size, g, dtype=np.int64))
    ids = np.concatenate(ids_parts)
    if not ids.size:
        return None
    scores = np.concatenate(sc_parts)
    grps = np.concatenate(grp_parts)
    # stable lexsort: primary doc (unsigned), secondary group — within a
    # (doc, group) run the original ascending fielded-term order survives
    order = np.lexsort((grps, ids.view(np.uint64)))
    ids, scores, grps = ids[order], scores[order], grps[order]
    # (doc, group) segments
    new_doc = np.concatenate(([True], ids[1:] != ids[:-1]))
    new_seg = new_doc | np.concatenate(([True], grps[1:] != grps[:-1]))
    seg_idx = np.flatnonzero(new_seg)
    if combine == "max":
        seg_scores = np.maximum.reduceat(scores, seg_idx)
        if tie_breaker > 0.0:
            # OpenSearch dis_max tie_breaker: max + tb*(sum - max);
            # the sum accumulates in the same ascending fielded-term
            # order as the oracle (float-deterministic)
            seg_sums = np.add.reduceat(scores, seg_idx)
            seg_scores = seg_scores + tie_breaker * (seg_sums
                                                     - seg_scores)
    else:
        seg_scores = np.add.reduceat(scores, seg_idx)
    seg_ids = ids[seg_idx]
    # doc segments over the (doc, group) reduction
    doc_start = np.flatnonzero(
        np.concatenate(([True], seg_ids[1:] != seg_ids[:-1])))
    doc_ids = seg_ids[doc_start]
    doc_scores = np.add.reduceat(seg_scores, doc_start)
    if (excl is not None or allowed is not None) and doc_ids.size:
        # negation (and the filter-allowed restriction) resolve
        # in-shard: excluded docs leave before the AND/phrase filters
        # and the per-shard top-k cut (boolean trees never carry
        # in-scorer negation — the mask handles NOT there)
        keep_x = np.ones(doc_ids.size, dtype=bool)
        if excl is not None:
            keep_x &= ~np.isin(doc_ids, excl)
        if allowed is not None:
            keep_x &= np.isin(doc_ids, allowed)
        doc_ids, doc_scores = doc_ids[keep_x], doc_scores[keep_x]
        if not keep_x.all() and expected != 0:
            # the (doc,group) segments feed the AND counts — filter them
            # consistently with the surviving docs
            seg_keep = np.ones(seg_ids.size, dtype=bool)
            if excl is not None:
                seg_keep &= ~np.isin(seg_ids, excl)
            if allowed is not None:
                seg_keep &= np.isin(seg_ids, allowed)
            seg_ids = seg_ids[seg_keep]
            doc_start = (np.flatnonzero(np.concatenate(
                ([True], seg_ids[1:] != seg_ids[:-1])))
                if seg_ids.size else np.empty(0, np.int64))
    if expected != 0:
        # AND: required count comes from the QUERY (n_groups), not from
        # the rows present in this shard — a shard lacking one query term
        # entirely must yield zero AND matches. A NEGATIVE n_groups is
        # minimum_should_match: at least |n| distinct groups must match
        # (OR with a floor — OpenSearch query_string
        # minimum_should_match); scoring stays the sum of matches
        doc_group_counts = np.add.reduceat(
            np.ones(seg_ids.size, dtype=np.int64), doc_start)
        keep = (doc_group_counts == expected if expected > 0
                else doc_group_counts >= -expected)
        doc_ids, doc_scores = doc_ids[keep], doc_scores[keep]
    if phrases:
        # a group matches a doc iff ANY of its variants matches
        # (precomputed in the two-pass path)
        mask = np.ones(doc_ids.size, dtype=bool)
        for m in matched_pre:
            mask &= np.isin(doc_ids, m)
        doc_ids, doc_scores = doc_ids[mask], doc_scores[mask]
    if bool_spec is not None and (doc_ids.size or fmap is not None):
        # presence matrix over the (doc, group) segments, then evaluate
        # the boolean tree vectorized; phrase keys resolve through the
        # positional matcher (any field variant satisfies the phrase).
        # Scores stay the sum of matched positive clauses — negated
        # leaves carry idf 0, so they gate matching without scoring.
        # NOTE the gate above: the block must still run with ZERO
        # surviving candidates whenever branch-B docs were shipped
        # (fmap) — a conjunct filter that empties a shard's term
        # candidates must not suppress branch B's filter-only matches.
        M = np.zeros((doc_ids.size, n_groups), dtype=bool)
        if doc_ids.size:
            seg_groups = grps[seg_idx]
            seg_ids_b = ids[seg_idx]  # pre-filter segments: a seg_id
            # the allowed-restriction dropped must not alias another
            # doc's row
            du = doc_ids.view(np.uint64)
            su = seg_ids_b.view(np.uint64)
            rows_idx = np.searchsorted(du, su)
            rows_c = np.minimum(rows_idx, max(doc_ids.size - 1, 0))
            valid = du[rows_c] == su
            M[rows_c[valid], seg_groups[valid]] = True
        present = {g: M[:, gi] for g, gi in group_of.items()}
        for key, (slop_b, vars_) in bool_spec["phrases"].items():
            mlist = [_match_phrase(pos_data, var, slop_b)
                     for var in vars_]
            md = (np.unique(np.concatenate(mlist)) if mlist
                  else np.empty(0, np.int64))
            present[key] = np.isin(doc_ids, md)
        # filter-leaf truth values: the cogroup shipped each doc's
        # POSITIVE-form leaf bitmask; docs absent from the map satisfied
        # no positive leaf
        fvec = np.zeros(doc_ids.size, dtype=np.int64)
        if fmap is not None and doc_ids.size and fmap[0].size:
            pos_f = np.searchsorted(fmap[0], doc_ids)
            pos_c = np.minimum(pos_f, fmap[0].size - 1)
            hit = fmap[0][pos_c] == doc_ids
            fvec[hit] = fmap[1][pos_c[hit]]
        bmask = _eval_tree(bool_spec["tree"], bool_spec["fbitmap"],
                           bool_spec["fconst"], fvec, present)
        doc_ids, doc_scores = doc_ids[bmask], doc_scores[bmask]
        if spec.branch_b:
            # constant-score floor: a doc whose positive term leaves
            # contributed nothing (matched via a filter leaf / NOT-only
            # probes) scores the OpenSearch constant 1.0
            doc_scores = np.where(doc_scores > 0.0, doc_scores, 1.0)
            if fmap is not None:
                # branch B: every doc holding a query-term posting here
                # (even a tree-false one) was decided above and must not
                # re-enter at the constant
                bd = _branch_b(spec, fmap, allowed, ids[new_doc])
                doc_ids = np.concatenate([doc_ids, bd])
                doc_scores = np.concatenate([doc_scores, np.ones(bd.size)])
    if doc_ids.size > k:
        # exact top-k by (score DESC, doc_id ASC) — the same tie-break
        # as the global rank window and the oracle; a plain argpartition
        # on score breaks exact-score ties arbitrarily and can drop the
        # lower-doc_id doc the final ranking would have kept
        sel = np.lexsort((doc_ids, -doc_scores))[:k]
        doc_ids, doc_scores = doc_ids[sel], doc_scores[sel]
    return doc_ids, doc_scores


def _split_by_query(right: pd.DataFrame) -> dict:
    """Cogrouped per-doc rows (query_id, doc_id, allow, fbits) of one
    shard → query_id → (doc_ids, allow, fbits) arrays."""
    if not len(right):
        return {}
    q = right["query_id"].to_numpy(dtype=np.int64)
    order = np.argsort(q, kind="stable")
    q = q[order]
    cols = [right[c].to_numpy(dtype=np.int64)[order]
            for c in ("doc_id", "allow", "fbits")]
    cuts = np.flatnonzero(q[1:] != q[:-1]) + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts, [q.size]))
    return {int(q[s]): tuple(c[s:e] for c in cols)
            for s, e in zip(starts.tolist(), ends.tolist())}


def _make_scorer(specs: dict, k: int, prune: bool, combine: str = "sum",
                 tie_breaker: float = 0.0):
    """Scorer for one SHARD of a query batch: `score(postings, right)`
    scores every query of `specs` (query_id → QuerySpec) in one Python
    call and returns their CANDIDATE_SCHEMA rows.

    postings: the shard's pruned postings rows (term, blocks) for every
    term the batch reads. One decode pass over all of them per call, each
    row's slice shared by all queries that read it (_ShardPostings);
    block-max pruning skips scoring the blocks no query needs.

    right (cogroup form, None otherwise): the shard's per-doc
    (query_id, doc_id, allow, fbits) rows from the one documents scan,
    routed by index_build.shard_of — the index's own doc-shard
    function. allow=1 marks a doc passing the query's conjunct
    filters (`term lang:de`): a `flt` query restricts to that set
    IN-SHARD — before θ, the AND/phrase gates and the per-shard top-k cut
    — so filtered queries keep the cut and block-max pruning ON; for a
    match-all query that set, minus its excluded docs, is the answer.
    fbits carries the doc's positive filter-leaf bitmask for in-shard
    boolean-tree evaluation; every row of a branch-B tree is a possible
    filter-only match.

    Per query (_score_query), rows are (possibly fielded) posting lists:
    each carries weight = idf·boost, avgdl (per-field) and a group — the
    base query term the row belongs to. Per doc: contributions reduce
    WITHIN a group (max → OpenSearch best_fields/dis_max; sum →
    BM25F-lite), then sum across groups in ascending group order
    (float-deterministic, matching the oracle). Single-field indexes have
    one row per group, so both combines degenerate to the exact BM25 sum.
    Quoted phrases are required groups, checked before the per-shard cut;
    pruning is off for phrase, AND, floored and tree queries (a skipped
    block would lose position data or bias θ)."""
    terms_of = {qid: spec.terms() for qid, spec in specs.items()}

    def score(postings: pd.DataFrame, right: pd.DataFrame | None = None
              ) -> pd.DataFrame:
        sp = _ShardPostings(postings)
        by_q = _split_by_query(right) if right is not None else {}
        qs, ds, ss = [], [], []
        for qid, spec in specs.items():
            r = by_q.get(qid)
            allowed = fmap = None
            if spec.flt:
                allowed = (np.unique(r[0][r[1] == 1]) if r is not None
                           else np.empty(0, np.int64))
            if spec.branch_b and r is not None:
                o = np.argsort(r[0])
                fmap = (r[0][o], r[2][o])
            if spec.match_all:
                # allowed is np.unique-sorted (signed, the rank's doc_id
                # order): all tied at 1.0, the k lowest survive the rank
                excl = _excluded(spec, sp)
                d = (allowed if excl is None
                     else allowed[~np.isin(allowed, excl)])[:k]
                res = (d, np.ones(d.size))
            elif sp.rows_of.keys().isdisjoint(terms_of[qid]):
                if fmap is None:
                    continue
                # no postings here: branch B alone, all tied at 1.0 —
                # the global rank keeps the k lowest doc_ids
                d = _branch_b(spec, fmap, allowed)[:k]
                res = (d, np.ones(d.size))
            else:
                res = _score_query(spec, sp, k, prune, combine, tie_breaker,
                                   allowed, fmap)
            if res is None or not res[0].size:
                continue
            qs.append(np.full(res[0].size, qid, dtype=np.int32))
            ds.append(res[0].astype(np.int64))
            ss.append(res[1].astype(np.float64))
        if not qs:
            return pd.DataFrame({"query_id": [], "doc_id": [], "score": []}
                                ).astype({"query_id": "int32",
                                          "doc_id": "int64",
                                          "score": "float64"})
        return pd.DataFrame({"query_id": np.concatenate(qs),
                             "doc_id": np.concatenate(ds),
                             "score": np.concatenate(ss)})
    return score


def _term_map(rows) -> dict:
    """term_stats rows → {term: (df, bucket)}."""
    return {r["term"]: (int(r["df"]), int(r["bucket"])) for r in rows}


class Searcher:
    """Reusable query handle: caches the (tiny, static) index_stats and the
    postings/term_stats/documents DataFrames so repeated queries skip the
    per-call setup jobs. `search()` below is the one-shot convenience form."""

    # vocabularies up to this size are cached driver-side: one job at init,
    # then per-query idf/bucket lookups are dictionary hits instead of a
    # filtered scan+collect job per search call
    TERM_CACHE_MAX = 500_000
    # prefix queries (`te*`) expand to at most this many vocabulary terms —
    # Lucene's max_expansions bound; the lexicographically FIRST matches win
    # (deterministic, and exactly the order the term-sorted range scan
    # yields them)
    MAX_PREFIX_EXPANSIONS = 50

    def __init__(self, spark: SparkSession, io: TableIO,
                 fuzzy_transpositions: bool = False,
                 fuzzy_prefix_length: int = 0):
        """fuzzy_transpositions: OpenSearch query_string's
        `fuzzy_transpositions` request option — fuzzy clauses expand by
        Damerau-Levenshtein (an adjacent swap costs 1) instead of classic
        edit distance. Off by default: classic distance is the definition
        shared bit-for-bit by F.levenshtein and DuckDB levenshtein();
        transpositions mode keeps its own three-way identity through
        damerau_levenshtein (python / Arrow-batched re-check / DuckDB).

        fuzzy_prefix_length: OpenSearch `fuzzy_prefix_length` (Lucene
        FuzzyQuery prefixLength) — fuzzy candidates must carry the base
        term's first N characters verbatim, which turns the
        full-vocabulary fuzzy scan into a StartsWith-pruned range scan
        over the term-sorted vocabulary (the at-scale configuration; 0 =
        Lucene default, whole-vocabulary automaton analogue).

        The index opens through index_build.open_index: the base tables
        plus any micro-batch posting segments (streaming/ingest_stream.py),
        with exact summed statistics, so scores match a from-scratch
        rebuild bit for bit. Raises its ValueErrors (an index that records
        no n_shards or no total_dl)."""
        self.spark, self.io = spark, io
        self.fuzzy_transpositions = bool(fuzzy_transpositions)
        self.fuzzy_prefix_length = int(fuzzy_prefix_length)
        if self.fuzzy_prefix_length < 0:
            raise ValueError("fuzzy_prefix_length must be >= 0")
        view = open_index(io)
        self.documents = io.read("documents")
        self.postings, self.term_stats = view.postings, view.term_stats
        self.n_docs, self.avgdl = view.n_docs, view.avgdl
        # positional flag: phrase-query capability
        self.positional = view.positional
        # the index's doc→shard function parameter: the query side routes
        # per-doc rows (filter-allowed sets, filter-leaf bits) to the
        # shard that holds the doc's postings
        self.n_shards = view.n_shards
        self._field_stats = view.field_stats
        # one bounded collect: a vocabulary past the cap stays uncached
        rows = self.term_stats.limit(self.TERM_CACHE_MAX + 1).collect()
        self._term_cache: dict | None = (
            _term_map(rows) if len(rows) <= self.TERM_CACHE_MAX else None)

    def lookup_terms(self, terms: list) -> dict:
        """term → (df, bucket) for the given terms (cache or filtered scan).
        At web scale the vocabulary exceeds the cache bound and this becomes
        the bucket-pruned parquet lookup; locally it's a dict hit."""
        if self._term_cache is not None:
            return {t: self._term_cache[t] for t in terms
                    if t in self._term_cache}
        return _term_map(self._lookup_scan(terms).collect())

    # --- uncached vocabulary scans ------------------------------------
    # Exposed un-collected so tests can assert the parquet pushdown
    # (tests/test_plans.py): term_stats is written term-sorted, so these
    # predicates prune row groups via min/max stats — the at-scale path
    # when the vocabulary exceeds TERM_CACHE_MAX.

    def _lookup_scan(self, terms: list):
        """Exact-term lookup: In(term, ...) pushes to the parquet scan."""
        return self.term_stats.filter(F.col("term").isin(terms))

    def _prefix_scan(self, prefix: str, cap: int):
        """Prefix range: StringStartsWith pushes → a contiguous row-group
        range over the term-sorted table."""
        return (self.term_stats
                .filter(F.col("term").startswith(prefix))
                .orderBy("term").limit(cap))

    def _wildcard_scan(self, head: str, pattern: str, cap: int):
        """General wildcard: the literal head before the first metachar
        pushes as StringStartsWith (a leading metachar scans the whole
        vocabulary, like Lucene allow_leading_wildcard); the regex
        evaluates post-scan."""
        return (self.term_stats
                .filter(F.col("term").startswith(head) &
                        F.col("term").rlike(pattern))
                .orderBy("term").limit(cap))

    def _fuzzy_scan(self, pre: str, base: str, dist: int, cap: int):
        """Fuzzy candidates: the field prefix (fielded indexes) pushes as
        StringStartsWith; the length band + levenshtein evaluate
        post-scan (edit distance admits a changed FIRST character, so a
        bare-term prefix cannot prune by default — Lucene walks its term
        automaton instead, the columnar analogue being exactly this pruned
        scan). With fuzzy_prefix_length = N > 0 (Lucene FuzzyQuery
        prefixLength), candidates must carry the base's first N chars
        verbatim — and THAT prefix pushes as StringStartsWith, turning the
        full-vocabulary fuzzy scan into a term-sorted range scan (the
        standard Lucene mitigation, and the at-scale configuration).
        Distance stays on the full strings: with the prefix pinned it
        equals Lucene's suffix distance (common-prefix stripping preserves
        edit distance)."""
        lo, hi = len(base) - dist, len(base) + dist
        bare_col = (F.col("term").substr(F.lit(len(pre) + 1),
                                         F.length("term"))
                    if pre else F.col("term"))
        df = self.term_stats
        plen = min(self.fuzzy_prefix_length, len(base))
        if pre or plen:
            df = df.filter(F.col("term").startswith(pre + base[:plen]))
        df = df.filter(F.length(bare_col).between(lo, hi))
        if not self.fuzzy_transpositions:
            return (df.withColumn("_d",
                                  F.levenshtein(bare_col, F.lit(base)))
                    .filter(F.col("_d") <= dist)
                    .orderBy("_d", "term").limit(cap))
        # transpositions mode: DL ≤ lev ≤ 2·DL, so lev ≤ 2·dist is a sound
        # JVM-side (codegen) prefilter over the length band; the exact
        # Damerau distance evaluates in an Arrow-batched pandas UDF over
        # only the prefilter survivors — a vocabulary scan, never a
        # document-path hot loop

        @F.pandas_udf(IntegerType())
        def _dl(terms: pd.Series) -> pd.Series:
            return terms.map(
                lambda t: damerau_levenshtein(t, base)).astype("int32")

        return (df.filter(F.levenshtein(bare_col, F.lit(base)) <= 2 * dist)
                .withColumn("_d", _dl(bare_col))
                .filter(F.col("_d") <= dist)
                .orderBy("_d", "term").limit(cap))

    def expand_prefix(self, prefix: str,
                      max_expansions: int | None = None) -> dict:
        """term → (df, bucket) for the lexicographically-first
        `max_expansions` vocabulary terms starting with `prefix` — the
        expansion set of a `prefix*` query clause. term_stats is written
        term-sorted (index_build.py), so the uncached path is a
        StartsWith-pushdown range scan that touches only the row groups
        covering the prefix range; locally it's a dict scan."""
        cap = max_expansions or self.MAX_PREFIX_EXPANSIONS
        if self._term_cache is not None:
            terms = sorted(t for t in self._term_cache
                           if t.startswith(prefix))[:cap]
            return {t: self._term_cache[t] for t in terms}
        return _term_map(self._prefix_scan(prefix, cap).collect())

    def expand(self, exp: Expansion, field: str | None = None,
               max_expansions: int | None = None) -> dict:
        """term → (df, bucket) for the vocabulary terms matched by an
        expansion clause (prefix / general wildcard / fuzzy), capped at
        `max_expansions` (Lucene's max_expansions rewrite bound).

        Rank order within the cap (deterministic, oracle-mirrorable):
          prefix/wildcard — lexicographically-first matches;
          fuzzy — nearest by (levenshtein distance, term), Lucene's
          FuzzyQuery best-terms rewrite with distance as the similarity.

        `field` prefixes the posting-term namespace of a fielded index
        ('title:' + term); patterns and distances apply to the BARE term.
        term_stats is term-sorted on disk, so the uncached paths prune:
        prefix/wildcard by a StartsWith range scan over the pattern's
        literal head (a leading metachar scans the whole vocabulary, like
        Lucene allow_leading_wildcard), fuzzy by a length band before the
        quadratic edit-distance compare."""
        cap = max_expansions or self.MAX_PREFIX_EXPANSIONS
        pre = f"{field}:" if field else ""
        if exp.kind == "prefix":
            return self.expand_prefix(pre + exp.value, cap)
        if exp.kind in ("wildcard", "regex"):
            if exp.kind == "wildcard":
                lit = _WILD_LIT_RE.match(exp.value).group(0)
                rx = re.compile("^" + re.escape(pre)
                                + _wildcard_regex(exp.value)[1:])
            else:
                # anchored full-term match (Lucene regexp semantics); the
                # leading literal run prunes the term-sorted scan like a
                # wildcard head, conservatively disabled when the pattern
                # could match terms not carrying it (top-level alternation,
                # or a quantifier that can erase the run's last char)
                lit = _regex_literal_head(exp.value)
                rx = re.compile("^" + re.escape(pre)
                                + f"(?:{exp.value})$")
            if self._term_cache is not None:
                terms = sorted(t for t in self._term_cache
                               if t.startswith(pre + lit) and rx.match(t)
                               )[:cap]
                return {t: self._term_cache[t] for t in terms}
            return _term_map(
                self._wildcard_scan(pre + lit, rx.pattern, cap).collect())
        # fuzzy: candidates within the length band, ranked (distance, term)
        base, dist = exp.value, exp.dist
        lo, hi = len(base) - dist, len(base) + dist
        dist_fn = (damerau_levenshtein if self.fuzzy_transpositions
                   else levenshtein)
        plen = min(self.fuzzy_prefix_length, len(base))
        if self._term_cache is not None:
            cand = []
            for t in self._term_cache:
                bare = t[len(pre):] if pre else t
                if pre and not t.startswith(pre):
                    continue
                if plen and not bare.startswith(base[:plen]):
                    continue
                if not lo <= len(bare) <= hi:
                    continue
                d = dist_fn(bare, base)
                if d <= dist:
                    cand.append((d, t))
            cand.sort()
            return {t: self._term_cache[t] for _, t in cand[:cap]}
        return _term_map(self._fuzzy_scan(pre, base, dist, cap).collect())

    def field_stats(self) -> dict:
        """Per-field (n_docs, avgdl) for fielded indexes (field_stats table
        written by build_fielded_index); {} for single-field indexes."""
        return self._field_stats

    def search(self, queries: list, k: int = 10, mode: str = "or",
               prune: bool = True, fields: dict | None = None,
               combine: str = "sum", offset: int = 0,
               minimum_should_match: int = 0,
               tie_breaker: float = 0.0) -> DataFrame:
        """tie_breaker: OpenSearch dis_max tie_breaker for combine='max' —
        a group's fielded contributions blend as max + tb*(sum - max)
        instead of the pure best-field max (0.0 = dis_max, 1.0 ≡ sum).
        Block-max bounds fall back to the sum bound (sound, looser).

        minimum_should_match: OR-mode floor (OpenSearch query_string's
        option of the same name) — a doc matches only when at least N of
        the query's positive groups match (a term, or a whole expansion
        clause, counts as one group; phrase terms count like terms, the
        phrase adjacency itself stays required). 0/1 = plain OR; AND mode
        supersedes it. Block-max pruning disables for floored queries
        (a theta seeded from single-group docs that cannot match would
        over-prune), the same soundness rule as AND/phrase queries."""
        return _search_impl(self.spark, self, queries, k, mode, prune,
                            fields=fields, combine=combine, offset=offset,
                            min_should_match=minimum_should_match,
                            tie_breaker=tie_breaker)


def more_like_this_query(text: str, n_hashes: int = 8, bands: int = 4,
                         shingle_n: int = 3) -> str:
    """Query string for a fingerprint more-like-this probe through the
    ORDINARY search surface: the text's minhash band keys (computed
    driver-side, no Spark job — dedup.query_band_keys) as OR terms.
    Against an index carrying dedup.fingerprint_field as its text (or as a
    field of a fielded index), this ranks near-duplicates by BM25 over
    shared band keys — the reference's `fingerprint` default_field
    reached by the same query_string as everything else
    (/root/reference/docs/indices/files.json:36,39-63)."""
    from ipfs_search_spark.operators.dedup import query_band_keys
    return " ".join(query_band_keys(text, n_hashes, bands, shingle_n))


def search(spark: SparkSession, io: TableIO, queries: list,
           k: int = 10, mode: str = "or", prune: bool = True,
           fields: dict | None = None, combine: str = "sum",
           offset: int = 0, fuzzy_transpositions: bool = False,
           minimum_should_match: int = 0,
           tie_breaker: float = 0.0) -> DataFrame:
    """queries: list of (query_id:int, query_string) → DataFrame
    (query_id, rank, doc_id, url, score), rank offset+1..offset+k (result
    paging — the reference API's page parameter), ties by doc_id asc.

    fields: {field_name: boost} for a fielded index (build_fielded_index) —
    the reference's default_field multi-match surface
    (/root/reference/docs/indices/files.json:10-37). combine='max' is
    OpenSearch query_string's best_fields/dis_max; 'sum' is BM25F-lite.

    fuzzy_transpositions: expand fuzzy clauses by Damerau-Levenshtein
    (OpenSearch's request option of the same name) — see Searcher.
    minimum_should_match: OR-mode match floor — see Searcher.search."""
    sx = Searcher(spark, io, fuzzy_transpositions=fuzzy_transpositions)
    return sx.search(queries, k=k, mode=mode, prune=prune,
                     fields=fields, combine=combine, offset=offset,
                     minimum_should_match=minimum_should_match,
                     tie_breaker=tie_breaker)


def _search_impl(spark: SparkSession, sx: "Searcher", queries: list,
                 k: int, mode: str, prune: bool,
                 fields: dict | None = None, combine: str = "sum",
                 offset: int = 0, min_should_match: int = 0,
                 tie_breaker: float = 0.0) -> DataFrame:
    n_docs, avgdl = sx.n_docs, sx.avgdl
    # paging: every per-shard/per-query cut keeps offset+k candidates so the
    # window can slice ranks (offset, offset+k]; rank stays the GLOBAL rank
    k_page = k + max(int(offset), 0)
    min_should_match = int(min_should_match)
    if min_should_match < 0:
        raise ValueError("minimum_should_match must be >= 0")
    tie_breaker = float(tie_breaker)
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError("tie_breaker must be in [0, 1]")
    if tie_breaker > 0.0 and combine != "max":
        raise ValueError(
            "tie_breaker only applies to combine='max' (dis_max); "
            "combine='sum' already stacks every field contribution")

    parsed: dict[int, Query] = {int(q): parse_query(s, mode=mode)
                                for q, s in queries}
    if min_should_match > 1:
        for qid, p in parsed.items():
            if p.bool_tree is not None or p.match_all:
                raise ValueError(
                    "minimum_should_match applies to flat OR queries; "
                    f"query {qid} has explicit boolean structure / is "
                    "match-all — encode the floor in the tree instead")
    has_any_phrase = any(p.phrases or p.not_phrases or p.bool_phrases
                         for p in parsed.values())
    if has_any_phrase and not sx.positional:
        raise ValueError(
            "phrase query requires a positional index "
            "(build_index(..., positions=True))")
    matchall_qids = {q for q, p in parsed.items() if p.match_all}
    base_terms = sorted({t for p in parsed.values()
                         for t in (p.terms + p.not_terms + p.bool_neg_terms +
                                   [t for ph in p.not_phrases for t in ph])})
    all_exps = {e for p in parsed.values()
                for e in (list(p.expansions) + list(p.not_expansions)
                          + list(p.bool_expansions.values()))}
    # branch-B trees: trees that can match a doc holding no query term —
    # trees with filter leaves (constant-score clauses: `lang:de OR
    # merge`), and default-TRUE trees (`a OR NOT b`: a doc containing
    # NEITHER term satisfies the tree — Lucene prohibited-clause-over-all-
    # docs semantics). Such docs enter in-shard at the constant score.
    dt_qids = {qid for qid, p in parsed.items()
               if p.bool_tree is not None
               and _default_tree_const(p.bool_tree, p.bool_filters)}
    b_qids = dt_qids | {qid for qid, p in parsed.items()
                        if p.bool_tree is not None and p.bool_filters}
    if not base_terms and not matchall_qids and not all_exps \
            and not b_qids:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, url string, score double")

    if fields:
        fstats = sx.field_stats()
        lookup = sorted({f"{fld}:{t}" for t in base_terms for fld in fields})
        tstats = sx.lookup_terms(lookup)

        def variants(t):
            return [(fld, f"{fld}:{t}") for fld in sorted(fields)
                    if f"{fld}:{t}" in tstats]
    else:
        tstats = sx.lookup_terms(base_terms)

        def variants(t):
            return [(None, t)] if t in tstats else []

    # expansion clauses (prefix / wildcard / fuzzy) expand ONCE per batch
    # against the index vocabulary: clause key → sorted posting-term keys,
    # each carried as a scoring row of the SAME group so the variants
    # combine under `combine` and the clause counts once for AND. On
    # fielded indexes the clause expands per field and the UNION is capped
    # at MAX_PREFIX_EXPANSIONS, ranked by the bare term (fuzzy: by
    # (distance, bare term)) — Lucene's max_expansions bounds the whole
    # rewrite, not each field (r3 ADVICE).
    exp_terms: dict[str, list] = {}
    for e in sorted(all_exps, key=lambda x: x.key):
        if fields:
            cand: dict = {}
            for fld in sorted(fields):
                cand.update(sx.expand(e, field=fld))
            if e.kind == "fuzzy":
                dist_fn = (damerau_levenshtein if sx.fuzzy_transpositions
                           else levenshtein)

                def _rk(t):
                    bare = t.split(":", 1)[1]
                    return (dist_fn(bare, e.value), bare, t)
            else:
                def _rk(t):
                    return (t.split(":", 1)[1], t)
            top = sorted(cand, key=_rk)[:sx.MAX_PREFIX_EXPANSIONS]
            exp = {t: cand[t] for t in top}
        else:
            exp = sx.expand(e)
        tstats.update(exp)
        exp_terms[e.key] = sorted(exp)

    # one QuerySpec per query (see QuerySpec): its scoring rows — one per
    # (query, fielded term), group = the base query term — its negative
    # terms and phrases, and its AND count, phrase and tree specs.
    def phrase_groups(phrs, slops=None):
        """Each phrase → [slop, variants]: one posting-term variant per
        field on fielded indexes (a doc satisfies the phrase if ANY field
        contains the adjacency — OpenSearch multi-field phrase semantics),
        one bare variant on single-field indexes. A variant only exists
        where every phrase term is in that (field's) vocabulary. slop
        rides the group so the scorer's positional probe widens its
        window (`"a b"~N`)."""
        groups = []
        for gi, ph in enumerate(phrs):
            if fields:
                vars_ = [[f"{fld}:{t}" for t in ph]
                         for fld in sorted(fields)
                         if all(f"{fld}:{t}" in tstats for t in ph)]
            else:
                vars_ = [list(ph)] if all(t in tstats for t in ph) else []
            groups.append([int(slops[gi]) if slops else 0, vars_])
        return groups

    # Conjunct-filter specs: the allowed doc set of each query's filters,
    # routed to the doc's shard and cogrouped into the scorer, so the
    # restriction (and therefore the per-shard top-k cut and block-max
    # pruning) happens IN-SHARD. A query whose filters drop on this schema
    # (pred 'true') is unfiltered; one whose filters cannot match any doc
    # (pred None) matches nothing.
    docs = sx.documents
    flt_specs: dict[int, str] = {}
    no_match: set = set()
    for qid, p in parsed.items():
        if not p.filters:
            continue
        pr = _filters_pred(p, docs.columns)
        if pr is None:
            no_match.add(qid)
        elif pr != "true":
            flt_specs[qid] = pr
    # filter-LEAF bit specs (trees like `lang:de OR merge`): each leaf's
    # POSITIVE-form predicate — negated leaves invert in the scorer, so
    # the shipped doc set stays the selective positive match, never its
    # complement — evaluated in the same single documents scan as the
    # conjunct allowed sets and cogrouped to the doc's shard as a bitmask.
    leaf_preds: dict[int, list] = {}  # qid -> [(bit, pos_pred_sql)]

    specs: dict[int, QuerySpec] = {}
    for qid, p in parsed.items():
        if qid in no_match:
            continue
        pos = [t for t in p.terms if variants(t)]
        neg = [t for t in p.not_terms if variants(t)]
        live_exps = [e for e in p.expansions if exp_terms.get(e.key)]
        # AND semantics: a term absent from the whole index matches nothing
        # (likewise an expansion clause with zero vocabulary matches), so
        # the conjunction is empty — don't silently drop the clause
        # (boolean trees handle absent terms as always-false leaves instead)
        if p.bool_tree is None and p.mode == "and" \
                and (len(pos) < len(p.terms)
                     or len(live_exps) < len(p.expansions)):
            continue
        # quoted phrases are required clauses: a group with no live variant
        # (a term absent from every field's vocabulary) cannot match, so the
        # whole query returns nothing
        pos_groups = phrase_groups(p.phrases, p.phrase_slops)
        if p.phrases and any(not g[1] for g in pos_groups):
            continue
        live_np = [g for g in phrase_groups(p.not_phrases,
                                            p.not_phrase_slops) if g[1]]
        spec = None
        if p.bool_tree is not None:
            bphrases = {key: phrase_groups(
                [terms], [p.bool_phrase_slops.get(key, 0)])[0]
                for key, terms in p.bool_phrases.items()}
            # filter leaves resolve through the cogrouped per-doc bitmask
            # (fbitmap: leaf -> [bit, invert]); leaves on fields this
            # index lacks are baked constants (fconst)
            spec = {"tree": p.bool_tree, "phrases": bphrases,
                    "fbitmap": {}, "fconst": {}}
            if len(p.bool_filters) > 63:
                raise QueryParseError(
                    "boolean trees support at most 63 filter leaves, "
                    f"got {len(p.bool_filters)}")
            lps: list = []
            for i, key in enumerate(sorted(p.bool_filters)):
                flt = p.bool_filters[key]
                base_col = ("references" if flt.field == "references.name"
                            else flt.field)
                if base_col not in docs.columns:
                    spec["fconst"][key] = bool(flt.neg)
                    continue
                spec["fbitmap"][key] = [i, bool(flt.neg)]
                pflt = Filter(flt.field, flt.op, flt.value, neg=False)
                lps.append((i, filter_to_sql(pflt)))
            if lps:
                leaf_preds[qid] = lps
        # per-query AND-required count; 0 = OR / boolean-tree semantics
        # (an expansion clause counts as ONE group however many terms it
        # expanded to); NEGATIVE = minimum_should_match floor (at least
        # |n| distinct groups — AND mode supersedes it, all are required)
        n_grp = (len(pos) + len(live_exps)
                 if p.mode == "and" and p.bool_tree is None else 0)
        if min_should_match > 1 and n_grp == 0 and p.bool_tree is None:
            n_grp = -int(min_should_match)
        qs = QuerySpec(n_groups=n_grp,
                       phrases=pos_groups if p.phrases else [],
                       tree=spec, flt=qid in flt_specs or p.match_all,
                       branch_b=qid in b_qids,
                       negp=live_np, match_all=p.match_all)

        def _exp_rows(e, gkey, scored):
            """Scoring rows of one expansion clause: every vocabulary match
            as a variant of group `gkey`. scored=False (a tree leaf seen
            only under NOT) fetches at idf 0 — presence probe, no score."""
            boost_e = float(p.boosts.get(gkey, 1.0))
            for ft in exp_terms[gkey] if gkey in exp_terms else []:
                if fields:
                    fld = ft.split(":", 1)[0]
                    nf, af = fstats[fld]
                    t_idf = idf(nf, tstats[ft][0]) if scored else 0.0
                    b = float(fields[fld]) * boost_e
                else:
                    t_idf = idf(n_docs, tstats[ft][0]) if scored else 0.0
                    b, af = boost_e, avgdl
                qs.rows.append((ft, t_idf * b, gkey, af))

        for e in live_exps:
            _exp_rows(e, e.key, True)
        if p.bool_tree is not None:
            # expansion leaves inside the tree: the leaf key is the
            # scorer group key, so presence M[:,g] is true iff ANY
            # expansion term matched — OR-of-variants leaf semantics
            for key in sorted(p.bool_expansions):
                _exp_rows(p.bool_expansions[key], key,
                          key in p.bool_exp_scored)
        for t in pos:
            for fld, ft in variants(t):
                if fld is None:
                    t_idf, boost, av = (idf(n_docs, tstats[ft][0]), 1.0,
                                        avgdl)
                else:
                    nf, af = fstats[fld]
                    t_idf, boost, av = (idf(nf, tstats[ft][0]),
                                        float(fields[fld]), af)
                boost *= float(p.boosts.get(t, 1.0))  # ^boost on idf
                qs.rows.append((ft, t_idf * boost, t, av))
        if p.bool_tree is not None:
            # NOT-context-only leaves: fetched for presence, idf 0
            # so they never contribute score
            for t in p.bool_neg_terms:
                for fld, ft in variants(t):
                    av = avgdl if fld is None else fstats[fld][1]
                    qs.rows.append((ft, 0.0, t, av))
        # negative clauses resolve IN-SHARD (doc-sharding co-locates a
        # doc's negative postings with its positive ones and with its
        # cogrouped per-doc rows), which keeps per-shard top-k cuts and
        # block pruning on. Negated expansions (`-te*`, `-term~1`) exclude
        # docs matching ANY expansion term.
        qs.negs = ([ft for t in neg for _, ft in variants(t)]
                   + sorted({t for e in p.not_expansions
                             for t in exp_terms.get(e.key, [])}))
        if qs.terms() or qs.branch_b or qs.match_all:
            specs[qid] = qs
    if not specs:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, url string, score double")

    # the batch's postings rows, pruned by bucket (partition directories)
    # and term (row-group stats), one per (term, shard, segment), grouped
    # by shard: every query's terms ride in the scorer closure, so each
    # posting list ships and decodes once
    terms = sorted({t for qs in specs.values() for t in qs.terms()})
    buckets = sorted({tstats[t][1] for t in terms})
    postings = (sx.postings
                .filter(F.col("bucket").isin(buckets) &
                        F.col("term").isin(terms))
                .select("shard", "term", "blocks")
                .groupBy("shard"))
    score = _make_scorer(specs, k_page, prune, combine, tie_breaker)
    cg_qids = sorted(q for q, qs in specs.items() if qs.flt or qs.branch_b)
    if cg_qids:
        # ONE pruned documents scan serves every query of the batch that
        # reads per-doc rows: the OR of their predicates pushes down —
        # conjunct filters and positive-form filter leaves, or the
        # conjunct filters alone (`true` when none) for a default-true
        # tree or a match-all query, every doc passing them being a
        # possible match. Each scanned doc emits one row per query it is
        # relevant to — allow=1 when it passes the query's conjunct
        # filters, fbits = the bitmask of satisfied positive-form filter
        # leaves — routed to the doc's postings shard for the cogroup.
        every = dt_qids | matchall_qids
        scan_preds, structs = [], []
        for q in cg_qids:
            conj = flt_specs.get(q)
            if q in every:
                scan_preds.append(conj or "true")
            else:
                scan_preds += ([conj] if conj else []) + \
                    [pr for _, pr in leaf_preds.get(q, [])]
            allow_e = (F.when(F.expr(conj), F.lit(1)).otherwise(F.lit(0))
                       if conj else F.lit(int(q in every)))
            fb_e = F.lit(0).cast("long")
            for bit, pr in leaf_preds.get(q, []):
                fb_e = fb_e + (
                    F.when(F.expr(pr), F.lit(1 << bit).cast("long"))
                    .otherwise(F.lit(0).cast("long")))
            structs.append(F.struct(
                F.lit(q).cast("int").alias("query_id"),
                allow_e.cast("int").alias("allow"),
                fb_e.alias("fbits")))
        if scan_preds:
            # the INDEXED set (status ok), like a search engine's
            # match_all over its own index
            base_scan = (docs.filter(F.col("status") == "ok")
                         if "status" in docs.columns else docs)
            rel = F.filter(
                F.array(*structs),
                lambda s: (s["allow"] == 1) | (s["fbits"] != 0))
            allowed_df = (
                base_scan.filter(F.expr(" OR ".join(
                    f"({pr})" for pr in scan_preds)))
                .select("doc_id", F.explode(rel).alias("s"))
                .withColumn("shard", shard_of("doc_id", sx.n_shards))
                .select(F.col("s.query_id").alias("query_id"), "shard",
                        F.col("doc_id").cast("long").alias("doc_id"),
                        F.col("s.allow").alias("allow"),
                        F.col("s.fbits").alias("fbits")))
        else:  # every filter leaf is on a column this index lacks
            allowed_df = spark.createDataFrame(
                [], "query_id int, shard int, doc_id long, "
                    "allow int, fbits long")
        candidates = postings.cogroup(
            allowed_df.groupBy("shard")
        ).applyInPandas(score, CANDIDATE_SCHEMA)
    else:
        # applyInPandas hands a two-argument function the group key first
        candidates = postings.applyInPandas(lambda pdf: score(pdf),
                                            CANDIDATE_SCHEMA)

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    topk = (candidates.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") <= k_page) & (F.col("rank") > offset)))
    # Display-field lookup: broadcast the tiny top-k side so the big documents
    # table never shuffles (at 100 TB the doc_map is bucketed by doc_id and
    # this becomes a storage-partitioned join; the projection below prunes the
    # scan to two columns either way). INNER join, deliberately: every top-k
    # doc_id came from the postings or the documents scan of THIS index,
    # so inner == right-outer here — and BroadcastHashJoin cannot build the
    # right side of a right-outer join (the hint would be silently dropped and
    # the full documents table would shuffle against k rows).
    return (docs.select("doc_id", "url")
            .join(F.broadcast(topk), "doc_id", "inner")
            .select("query_id", "rank", "doc_id", "url", "score")
            .orderBy("query_id", "rank"))
