"""Query-string parser — the reference's search surface.

The reference exposes OpenSearch `query_string` queries
(/root/reference/docs/api.md:4-8): free terms, `field:value` filters,
range filters like `last-seen:>now-1M`, `-term` negation, and the full
boolean grammar (AND/OR/NOT, parentheses, per-term `^boost`). We parse to
a structured Query the scorer + Catalyst filters consume.

Supported grammar (superset of what the reference's own doc examples use):
  term            free text term (analyzed with the canonical tokenizer)
  term^2.5        boosted term (multiplies the term's idf, Lucene-style)
  term*           prefix query (Lucene query_string `te*`): expands to the
                  lexicographically-first MAX_PREFIX_EXPANSIONS vocabulary
                  terms with that prefix (a range scan over the term-sorted
                  term_stats), scored as one OR-group — a doc's
                  contributions from the matched variants combine under the
                  search's `combine` mode and the group counts ONCE for AND
                  semantics
  te?m, t*m, *erm general wildcards (Lucene `?` = one char, `*` = any run):
                  expand to the first MAX_PREFIX_EXPANSIONS vocabulary terms
                  matching the pattern, in term order — the literal prefix
                  before the first metachar prunes the vocabulary range scan
                  (a leading wildcard scans the whole vocabulary, like
                  Lucene with allow_leading_wildcard); scored as one group
  term~ / term~1  fuzzy query (Lucene `~`, edit distance ≤ 2/1; `~0` exact):
                  expands to the MAX_PREFIX_EXPANSIONS vocabulary terms
                  nearest by (levenshtein distance, term) — Lucene's
                  FuzzyQuery best-terms rewrite; scored as one group
  /pattern/       regexp query (Lucene query_string regexp syntax):
                  expands to the lexicographically-first
                  MAX_PREFIX_EXPANSIONS vocabulary terms fully matching
                  the pattern (Lucene regexps are anchored — no ^/$
                  needed), scored as one group. The accepted metachar set
                  is the portable core ([ ] ( ) | * + ? . , { } and [^..]
                  classes) that means the same thing to java.util.regex
                  (the distributed scan), python re (the cached path) and
                  RE2 (the DuckDB oracle); backslash escapes raise
  Expansion clauses (prefix/wildcard/fuzzy/regexp) compose everywhere a
  term does:
  negated (`-te*` excludes docs matching ANY expansion term) and as boolean
  tree leaves (`(a OR te*) AND b` — the leaf is present for a doc iff any
  expansion term is)
  "a b"           phrase: terms must appear ADJACENT in analyzed order
                  (positional index required); quoted phrases are required
                  clauses regardless of mode, and their terms also score
  "a b"~N         proximity phrase (Lucene query_string slop): one
                  occurrence per phrase term (distinct positions when a
                  term repeats) with adjusted-position range
                  max(pos_i - i) - min(pos_i - i) <= N — Lucene's
                  SloppyPhraseMatcher acceptance (slop as move edit
                  distance). Reordering IS admitted once N covers the
                  displacement: "b a"~2 matches "a b"; for in-order
                  matches the rule equals "at most N extra tokens
                  between first and last term". Composes like any
                  phrase: negated (-"a b"~N) and as a boolean-tree leaf
                  ("a b"~N OR c)
  -term / NOT t   NOT term (left-anti on the term's doc set)
  +term           required term (Lucene's `+` operator, simple query
                  style): the doc MUST contain it; bare terms alongside
                  stay optional but still score (must+should summation).
                  `+` composes with phrases/expansions/filters; inside
                  explicit boolean syntax it is redundant and stripped
                  (Lucene lowers AND to '+' internally)
  -"a b"          NOT phrase (docs containing the exact phrase are excluded)
  a AND b, a OR b boolean operators (uppercase, Lucene query_string rules);
  ( ... )         grouping; arbitrary nesting of AND/OR/NOT over terms and
                  phrases. Implicit adjacency joins with the default mode
                  operator. Scoring: every matched positive clause
                  contributes its (boosted) BM25 term score, like
                  OpenSearch's should/must summation.
  field:value     equality filter (lang, status, url)
  -field:value    negated filter (must_not: matching docs excluded; docs
                  with a NULL field are kept)
  references.name:value              inbound-edge filter (any reference
                                     whose name matches — docs/api.md:4)
  last-seen:>X / last_seen:>now-1M   range filter; now-<n><d|h|M|y> relative
  size:>N, size:<N                   numeric range filter
  field:[A TO B]  Lucene bracket range (query_string range syntax):
                  inclusive `[..]`, exclusive `{..}`, mixed `[A TO B}` /
                  `{A TO B]`; `*` opens an end (`size:[100 TO *]`);
                  `[* TO *]` = the field exists. Value syntax per field as
                  above (integers for size, timestamps / now-rel for
                  last-seen, plain strings lexicographically otherwise).
                  Uppercase TO required, as in Lucene. Composes like any
                  filter: top-level conjunct, negated, or boolean-tree leaf
  _exists_:field  field-exists filter (docs whose field is non-NULL;
                  `_exists_:references.name` = any reference has a name);
                  -_exists_:field keeps only the NULL-field docs. The field
                  must be filterable — unknown targets raise
                  QueryParseError rather than silently matching nothing
  field:(a OR b)  field-scoped group (Lucene query_string grouping): the
                  field distributes over every member — `lang:(de OR en)`
                  ≡ `(lang:de OR lang:en)`, `size:(>100 <500)` works,
                  `-lang:(de en)` negates the whole group, `-member`
                  negates one member. Filter fields only; other fields
                  keep today's analyzed-term behavior

Filters compose two ways:
- as top-level conjuncts (`data lang:de`): pure constraints on the result
  set, no score contribution — the original grammar;
- as boolean-tree LEAVES (`lang:de OR merge`, any paren/OR/NOT position):
  constant-score clauses, OpenSearch query_string field-clause semantics.
  A doc matching the tree scores the sum of its present positive term
  leaves, floored at the constant 1.0 when no positive term matched.
  NOTE the constant is exactly 1.0 (OpenSearch's constant-score filter
  clause): a filter-only match can therefore outrank a term match whose
  BM25 total is below 1.0 (common low-idf terms, long docs) — ties at the
  constant break by doc_id. The shard scorer evaluates the whole tree on
  per-doc term presence plus each doc's cogrouped filter-leaf bitmask
  (plans/query.py _eval_tree).

Restrictions (documented, errors not silent semantic changes):
- a boolean query needs at least one positive clause (pure `NOT x` trees
  match nothing — Lucene behaves the same without an explicit match-all);
- fuzzy distances above 2 raise QueryParseError (Lucene also caps edit
  distance at 2); non-integer phrase slop raises QueryParseError.

A query with ONLY filters (no terms/phrases) is match-all-then-filter:
every doc passing the filters, constant score, ranked by doc_id.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ipfs_search_spark.functions.tokenize import tokenize_str

_CJK_ANY_RE = re.compile(r"[一-鿿]")


def _analyze(tok: str) -> list[str]:
    """Query-side analyzer: CJK-containing tokens take the CJK branch (same
    analyzer the lang-aware index build used for zh docs)."""
    return tokenize_str(tok, "zh" if _CJK_ANY_RE.search(tok) else "en")

_FILTER_FIELDS = {"lang", "status", "url", "last-seen", "last_seen",
                  "first-seen", "first_seen", "size", "references.name"}
_REL_RE = re.compile(r"^now-(\d+)([dhMy])$")
_TOKEN_RE = re.compile(
    r'[-+]?"[^"]*"(?:~[0-9.]*)?(?:\^[0-9.]+)?'
    # bracket-range filter: the [A TO B] body contains a space, so it must
    # be lexed as ONE token before the whitespace-delimited fallback
    r'|[-+]?[^\s():]+:[\[{][^\[\]{}()]*[\]}]'
    # regexp query /pat/: the body may contain parens (groups), so it must
    # be lexed as ONE token before the paren alternatives
    r'|[-+]?/[^\s/]+/(?:\^[0-9.]+)?'
    r'|\(|\)|[^\s()]+')
_BOOST_RE = re.compile(r"^(.*?)\^([0-9]*\.?[0-9]+)$", re.DOTALL)
_OPS = {"AND", "OR", "NOT", "(", ")", "-"}


@dataclass
class Filter:
    field: str
    op: str  # '=', '>', '<', '>=', '<='
    value: str
    # -field:value — excludes matching docs (docs where the field is NULL
    # count as non-matching, like a must_not clause)
    neg: bool = False


@dataclass(frozen=True)
class Expansion:
    """A multi-term rewrite clause — prefix (`te*`), general wildcard
    (`te?m`, `t*m`), or fuzzy (`term~1`). Expanded at search time against
    the index vocabulary (bounded by MAX_PREFIX_EXPANSIONS) and scored as
    ONE group: contributions of the matched variants combine under the
    search's `combine` mode and the clause counts once for AND semantics.
    Frozen/hashable so a batch expands each distinct clause once."""

    kind: str    # 'prefix' | 'wildcard' | 'fuzzy'
    value: str   # analyzed prefix / lowered pattern (with * ?) / base term
    dist: int = 0  # fuzzy edit distance (0 = exact)

    @property
    def key(self) -> str:
        """Group/boost key — also the leaf key inside boolean trees."""
        if self.kind == "prefix":
            return self.value + "*"
        if self.kind == "fuzzy":
            return f"{self.value}~{self.dist}"
        if self.kind == "regex":
            # the slashes keep an all-literal pattern (/abc/) from
            # colliding with the plain term key 'abc'
            return f"/{self.value}/"
        return self.value


@dataclass
class Query:
    terms: list = field(default_factory=list)
    not_terms: list = field(default_factory=list)
    filters: list = field(default_factory=list)
    mode: str = "or"
    # phrases: each a list of analyzed terms that must appear adjacent, in
    # order (required clauses); not_phrases: docs with the phrase excluded
    phrases: list = field(default_factory=list)
    not_phrases: list = field(default_factory=list)
    # phrase_slops[i] — proximity window of phrases[i] (`"a b"~N`: at most
    # N extra tokens between the first and last term, order preserved;
    # 0 = exact adjacency). not_phrase_slops aligns with not_phrases.
    phrase_slops: list = field(default_factory=list)
    not_phrase_slops: list = field(default_factory=list)
    # True when the query string had no scoring clause at all (filters only):
    # match-all semantics rather than empty results
    match_all: bool = False
    # boolean tree (set only when the flat fields cannot express the query):
    # nested tuples/lists ('and'|'or', child...) / ('not', child) over leaf
    # group keys — a term string, or a phrase key present in bool_phrases
    bool_tree: object = None
    # phrase group key -> analyzed term list (boolean-tree phrases);
    # bool_phrase_slops: same key -> slop (missing = 0)
    bool_phrases: dict = field(default_factory=dict)
    bool_phrase_slops: dict = field(default_factory=dict)
    # leaf terms appearing ONLY under NOT (fetched for presence, never score)
    bool_neg_terms: list = field(default_factory=list)
    # group key -> boost (^N); missing keys default 1.0
    boosts: dict = field(default_factory=dict)
    # prefix clauses (`te*`): analyzed prefix strings, expanded at search
    # time against the index vocabulary; boost key is "<prefix>*".
    # (Kept as a convenience view — every entry also appears in
    # `expansions` as Expansion('prefix', ...), which is what the engine
    # consumes.)
    prefixes: list = field(default_factory=list)
    # positive expansion clauses (prefix / wildcard / fuzzy); boost key is
    # Expansion.key
    expansions: list = field(default_factory=list)
    # negated expansion clauses (`-te*`, `-term~`): docs matching ANY
    # expansion term are excluded
    not_expansions: list = field(default_factory=list)
    # expansion leaves inside the boolean tree: leaf key -> Expansion; the
    # leaf is present for a doc iff any expansion term is
    bool_expansions: dict = field(default_factory=dict)
    # bool_expansions keys that occur in POSITIVE tree context (their
    # expansion terms score); keys only under NOT are presence probes
    bool_exp_scored: set = field(default_factory=set)
    # filter leaves inside the boolean tree (constant-score clauses, e.g.
    # `lang:de OR merge`): leaf group key -> Filter. Top-level-conjunct
    # filters stay in `filters` (pure constraints, no score).
    bool_filters: dict = field(default_factory=dict)


def _norm_field(f: str) -> str:
    return f.replace("-", "_")


def _is_filter_tok(tok: str) -> Filter | None:
    """Return the parsed Filter if tok is a field:value filter, else None."""
    neg = tok.startswith("-") and len(tok) > 1
    if neg:
        tok = tok[1:]
    if ":" not in tok or tok.startswith('"'):
        return None
    fld, _, val = tok.partition(":")
    if fld.lower() == "_exists_":
        # Lucene query_string `_exists_:field` — docs whose field is
        # non-NULL. Unknown targets raise (errors, not silent no-matches).
        tgt = _norm_field(val.lower())
        if tgt not in {_norm_field(f) for f in _FILTER_FIELDS}:
            raise QueryParseError(
                f"_exists_ target {val!r} is not a filterable field")
        return Filter(tgt, "ex", "", neg=neg)
    if fld.lower() not in _FILTER_FIELDS:
        return None
    op = "="
    for cand in (">=", "<=", ">", "<"):
        if val.startswith(cand):
            op, val = cand, val[len(cand):]
            break
    if op == "=" and len(val) >= 2 and val[0] in "[{" and val[-1] in "]}":
        # Lucene bracket range: op encodes the two bracket chars ('[]',
        # '[}', '{]', '{}'); value keeps the raw "lo TO hi" body, rendered
        # and validated per-field in filter_to_sql.
        body = val[1:-1]
        lo, sep, hi = body.partition(" TO ")
        if not sep or not lo.strip() or not hi.strip() or " TO " in hi:
            raise QueryParseError(
                f"range filter {tok!r} must be "
                "[lo TO hi] (uppercase TO, * for an open end)")
        op = val[0] + val[-1]
        val = f"{lo.strip()} TO {hi.strip()}"
    if fld.lower() == "references.name" and op != "=":
        # parse-time so the error fires even on indexes whose documents
        # table lacks a references column
        raise QueryParseError(
            f"references.name supports only equality, got op {op!r}")
    return Filter(_norm_field(fld.lower()), op, val, neg=neg)


def _split_boost(tok: str) -> tuple[str, float | None]:
    m = _BOOST_RE.match(tok)
    if m and m.group(1):
        return m.group(1), float(m.group(2))
    return tok, None


_FIELD_GROUP_RE = re.compile(r"^([-+]?)([A-Za-z0-9_.\-]+):$")


def _expand_field_groups(toks: list[str]) -> list[str]:
    """Lucene field-scoped groups over filter fields: `lang:(de OR en)`
    rewrites to `( lang:de OR lang:en )` (the field distributes over every
    group member, operators pass through, a leading `-` on the whole group
    becomes NOT — Lucene query_string grouping rules). Scoped to
    _FILTER_FIELDS: for any other field the token stream is left alone
    (the analyzer splits `title:a` into plain terms, today's behavior).
    Nested groups and bracket-range members raise — errors, not silently
    different queries."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        m = _FIELD_GROUP_RE.match(t)
        if (m and i + 1 < len(toks) and toks[i + 1] == "("
                and m.group(2).lower() in _FILTER_FIELDS):
            neg, fld = m.group(1), m.group(2)
            if neg == "+":
                raise QueryParseError(
                    f"'+' on a field group (+{fld}:(...)) is ambiguous in "
                    "the simple query style — write an explicit "
                    f"`... AND {fld}:(...)` instead")
            j = i + 2
            members: list[str] = []
            while j < len(toks) and toks[j] != ")":
                if toks[j] == "(":
                    raise QueryParseError(
                        f"nested parens inside field group {fld}:(...)")
                members.append(toks[j])
                j += 1
            if j >= len(toks):
                raise QueryParseError(f"unclosed field group {fld}:(")
            if not [x for x in members if x not in ("AND", "OR", "NOT")]:
                raise QueryParseError(f"empty field group {fld}:()")
            if neg:
                out.append("NOT")
            out.append("(")
            for mt in members:
                if mt in ("AND", "OR", "NOT"):
                    out.append(mt)
                elif mt.startswith(("[", "{")):
                    raise QueryParseError(
                        f"bracket range inside field group {fld}:(...) — "
                        f"write {fld}:[A TO B] directly")
                elif mt.startswith("-") and len(mt) > 1:
                    out.append(f"-{fld}:{mt[1:]}")
                else:
                    out.append(f"{fld}:{mt}")
            out.append(")")
            i = j + 1
        else:
            out.append(t)
            i += 1
    return out


def _group_span(toks: list[str], i: int) -> int | None:
    """End index (exclusive) of a field-scoped group starting at toks[i]
    (`fld:` followed by `(`), or None. Nested/unclosed groups return None
    — _expand_field_groups raises on them with a precise message."""
    m = _FIELD_GROUP_RE.match(toks[i])
    if not (m and i + 1 < len(toks) and toks[i + 1] == "("
            and m.group(2).lower() in _FILTER_FIELDS):
        return None
    j = i + 2
    while j < len(toks) and toks[j] != ")":
        if toks[j] == "(":
            return None
        j += 1
    return j + 1 if j < len(toks) else None


def _apply_required_ops(toks: list[str], mode: str) -> list[str]:
    """Lucene's `+` required operator (simple query style): `+a b` = a
    MUST match, b SHOULD — docs containing a, scored s(a) + s(b if
    present). Rewritten as `a AND (a OR b)`: the AND conjunct enforces the
    must, the should-group (anchored on a must term so it never constrains
    matching) registers the optional leaves for scoring — exactly Lucene's
    must+should summation through the existing boolean-tree machinery.
    `+filter:value` strips to the ordinary conjunct (filters are already
    must); `-x` stays must_not; a field-scoped group (`lang:(de en)`) is
    ONE passthrough unit — this runs BEFORE _expand_field_groups precisely
    so the parens a group will expand into don't read as user-written
    boolean syntax (`+data lang:(de en)` keeps its must). In AND mode, or
    in queries with explicit user boolean syntax (AND/OR/NOT/parens
    outside group spans), `+` is redundant — Lucene lowers AND to '+'
    internally — and is stripped."""
    if not any(t.startswith("+") and len(t) > 1 for t in toks):
        return toks

    def stripped() -> list[str]:
        return [t[1:] if t.startswith("+") and len(t) > 1 else t
                for t in toks]

    if mode == "and":
        # AND mode: every clause is already required ('+' is a no-op, as
        # with OpenSearch default_operator=AND) — stripping must not
        # RELAX anything, so never take the must+should rewrite here
        return stripped()
    spans: list[tuple[int, int]] = []
    covered: set[int] = set()
    i = 0
    while i < len(toks):
        j = _group_span(toks, i)
        if j:
            spans.append((i, j))
            covered.update(range(i, j))
            i = j
        else:
            i += 1
    if any(t in _OPS for idx, t in enumerate(toks) if idx not in covered):
        return stripped()
    must_terms: list[str] = []
    passthrough: list[list[str]] = []  # units: single tokens / group spans
    shoulds: list[str] = []
    starts = {s: e for s, e in spans}
    i = 0
    while i < len(toks):
        if i in starts:
            # whole field group passes through intact ('+fld:(' keeps its
            # '+' and raises in _expand_field_groups, unchanged)
            passthrough.append(toks[i:starts[i]])
            i = starts[i]
            continue
        t = toks[i]
        i += 1
        if t.startswith("+") and len(t) > 1:
            body = t[1:]
            if _is_filter_tok(body) is not None:
                passthrough.append([body])
            else:
                must_terms.append(body)
        elif ((t.startswith("-") and len(t) > 1)
                or t.startswith('"')
                or _is_filter_tok(t) is not None):
            # '-x' stays must_not, filters stay conjuncts — and a bare
            # quoted phrase stays REQUIRED (the documented rule: quoted
            # phrases are required clauses regardless of mode; '+' on
            # other clauses must not demote it to optional)
            passthrough.append([t])
        else:
            shoulds.append(t)
    if not must_terms:
        # only must-filters: stripping '+' is already the exact semantics
        return [t for unit in passthrough for t in unit] + shoulds
    out: list[str] = []
    for m in must_terms:
        if out:
            out.append("AND")
        out.append(m)
    if shoulds:
        out += ["AND", "(", must_terms[0]]
        for s in shoulds:
            out += ["OR", s]
        out.append(")")
    for unit in passthrough:
        out.append("AND")
        out.extend(unit)
    return out


def parse_query(q: str, mode: str = "or") -> Query:
    out = Query(mode=mode)
    toks = _expand_field_groups(
        _apply_required_ops(_TOKEN_RE.findall(q), mode))

    # filters are top-level conjuncts — strip them from the stream first
    # (with any explicit AND gluing them in); a filter under parens, OR, or
    # NOT is a parse error, not a silently different query
    kept: list[str] = []
    depth = 0
    i = 0
    while i < len(toks):
        t = toks[i]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        flt = _is_filter_tok(t) if t not in _OPS else None
        if flt is None:
            kept.append(t)
            i += 1
            continue
        prev = kept[-1] if kept else None
        prev2 = kept[-2] if len(kept) >= 2 else None
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        if depth > 0 or prev == "OR" or nxt == "OR" \
                or (prev in ("NOT", "-") and prev2 == "OR"):
            # not a top-level conjunct: keep the token in the stream — the
            # tree parser turns it into a constant-score filter LEAF
            # (`lang:de OR merge`, the query_string shape where field
            # clauses compose inside the boolean tree)
            kept.append(t)
            i += 1
            continue
        if prev in ("NOT", "-"):
            flt.neg = not flt.neg
            kept.pop()
            prev = kept[-1] if kept else None
        if prev == "AND":
            kept.pop()  # "a AND lang:de" — the AND is the implicit conjunct
        elif nxt == "AND":
            i += 1  # "lang:de AND a"
        out.filters.append(flt)
        i += 1
    # a stray '-' with no following operand (trailing, or right before a
    # closing paren / binary operator) is sloppy input, not a unary NOT —
    # drop it instead of letting the tree parser raise on end-of-input
    toks = [t for j, t in enumerate(kept)
            if not (t == "-" and (j + 1 >= len(kept)
                                  or kept[j + 1] in (")", "AND", "OR")))]

    has_syntax = any(
        t in _OPS or (_split_boost(t)[1] is not None) for t in toks)
    if not has_syntax:
        _parse_flat(out, toks)
    else:
        _parse_tree(out, toks, mode)
    out.terms = sorted(set(out.terms))
    out.not_terms = sorted(set(out.not_terms) - set(out.terms))
    out.expansions = sorted(set(out.expansions), key=lambda e: e.key)
    out.not_expansions = sorted(set(out.not_expansions),
                                key=lambda e: e.key)
    out.prefixes = sorted(e.value for e in out.expansions
                          if e.kind == "prefix")
    out.match_all = (not out.terms and not out.phrases
                     and not out.expansions and out.bool_tree is None
                     and bool(out.filters or out.not_terms
                              or out.not_phrases or out.not_expansions))
    return out


_FUZZY_RE = re.compile(r"^(.+?)~([0-9.]*)$")
_REGEX_BODY_RE = re.compile(r"^[a-z0-9\[\]()|*+?.,{}^-]+$")
_WILD_BODY_RE = re.compile(r"^[a-z0-9*?]+$")


def _parse_expansion(tok: str) -> Expansion | None:
    """Classify a (boost-stripped, unquoted, non-negated) token as an
    expansion clause. Returns None for a plain term; an Expansion with an
    empty value when the analyzer dropped the whole body (dead clause —
    callers skip it, like an all-punctuation term); raises QueryParseError
    on malformed fuzziness/wildcards — never a silently different query."""
    if tok.startswith('"'):
        return None
    if tok.startswith("/") and tok.endswith("/") and len(tok) > 2:
        pat = tok[1:-1].lower()
        if not _REGEX_BODY_RE.match(pat):
            raise QueryParseError(
                f"regexp {tok!r} may contain only [a-z0-9] and the "
                "portable metachars [ ] ( ) | * + ? . , { } - ^ (no "
                "backslash escapes — the pattern must mean the same thing "
                "to java.util.regex, python re, and RE2)")
        for i, c in enumerate(pat):
            if c == "^" and (i == 0 or pat[i - 1] != "["):
                raise QueryParseError(
                    f"'^' in regexp {tok!r} is only supported as class "
                    "negation ([^...]): Lucene regexps are anchored "
                    "full-term matches, anchors are implicit")
        for m_br in re.finditer(r"\{", pat):
            # every brace must open a {n} / {n,} / {n,m} quantifier: the
            # python-only {,m} form is a quantifier to re but a LITERAL to
            # RE2 and a PatternSyntaxException to java.util.regex — the
            # one brace shape on which the three engines disagree
            if not re.match(r"\{\d+(,\d*)?\}", pat[m_br.start():]):
                raise QueryParseError(
                    f"brace quantifier in regexp {tok!r} must be "
                    "{n}, {n,} or {n,m} (the {,m} form is not portable "
                    "across java regex / python re / RE2)")
        try:
            re.compile(f"^(?:{pat})$")
        except re.error as exc:
            raise QueryParseError(
                f"malformed regexp {tok!r}: {exc}") from exc
        return Expansion("regex", pat, 0)
    m = _FUZZY_RE.match(tok)
    if m:
        body, d = m.groups()
        if d == "":
            dist = 2  # Lucene query_string default fuzziness
        elif d in ("0", "1", "2"):
            dist = int(d)
        else:
            raise QueryParseError(
                f"unsupported fuzziness {d!r} in {tok!r}: edit distance "
                "must be 0, 1 or 2 (Lucene caps fuzzy queries at 2)")
        if "*" in body or "?" in body:
            raise QueryParseError(
                f"cannot combine wildcard and fuzzy in {tok!r}")
        terms = _analyze(body)
        if not terms:
            return Expansion("fuzzy", "", 0)
        if len(terms) > 1:
            raise QueryParseError(
                f"fuzzy applies to a single term, got {body!r}")
        return Expansion("fuzzy", terms[0], dist)
    if "*" not in tok and "?" not in tok:
        return None
    # single trailing `*` = prefix (term-sorted range scan); anything else
    # is a general wildcard pattern
    if tok.endswith("*") and "*" not in tok[:-1] and "?" not in tok:
        terms = _analyze(tok[:-1])
        if not terms:
            return Expansion("prefix", "", 0)  # bare '*' / punctuation
        if len(terms) > 1:
            raise QueryParseError(
                f"prefix wildcard applies to a single term, got {tok!r}")
        return Expansion("prefix", terms[0], 0)
    low = tok.lower()
    if not _WILD_BODY_RE.match(low):
        raise QueryParseError(
            f"wildcard pattern {tok!r} may contain only [a-z0-9], * and ?")
    if low.strip("*?") == "":
        raise QueryParseError(
            f"wildcard {tok!r} has no literal characters")
    return Expansion("wildcard", low, 0)


_PHRASE_SLOP_RE = re.compile(r'^("[^"]*")~([0-9.]*)$')


def _split_slop(tok: str) -> tuple[str, int]:
    """`"a b"~N` → (`"a b"`, N); no attached slop → (tok, 0). Raises on a
    malformed distance (`"a b"~` / `~1.5`) — never a silently different
    query."""
    m = _PHRASE_SLOP_RE.match(tok)
    if not m:
        return tok, 0
    body, d = m.groups()
    if not d.isdigit():
        raise QueryParseError(
            f"invalid phrase slop {d!r} in {tok!r}: expected a "
            "non-negative integer (\"a b\"~N)")
    return body, int(d)


def _guard_slop(tok: str) -> None:
    if tok.startswith("~"):
        raise QueryParseError(
            f"dangling {tok!r}: phrase slop must directly follow the "
            "closing quote (\"a b\"~N)")


def _add_expansion(out: Query, exp: Expansion, neg: bool,
                   boost: float | None = None) -> None:
    if not exp.value:
        return  # analyzer dropped the body — dead clause
    if neg:
        out.not_expansions.append(exp)
        return
    out.expansions.append(exp)
    if exp.kind == "prefix":
        out.prefixes.append(exp.value)
    _boost_set(out, exp.key, boost)


def _parse_flat(out: Query, toks: list[str]) -> None:
    """The operator-free path: terms, phrases, -negation (original
    semantics, used by every non-boolean query)."""
    for raw in toks:
        neg = raw.startswith("-") and len(raw) > 1
        tok = raw[1:] if neg else raw
        _guard_slop(tok)
        tok, slop = _split_slop(tok)
        if tok.startswith('"') and tok.endswith('"'):
            terms = _analyze(tok[1:-1])
            if not terms:
                continue
            if len(terms) == 1:  # one-word phrase degenerates to a term
                (out.not_terms if neg else out.terms).extend(terms)
            elif neg:
                out.not_phrases.append(terms)
                out.not_phrase_slops.append(slop)
            else:
                out.phrases.append(terms)
                out.phrase_slops.append(slop)
                out.terms.extend(terms)  # phrase terms also score
            continue
        exp = _parse_expansion(tok)
        if exp is not None:
            _add_expansion(out, exp, neg)
            continue
        (out.not_terms if neg else out.terms).extend(_analyze(tok))


class _TreeParser:
    """Recursive descent for the boolean grammar. AND binds tighter than OR;
    implicit adjacency joins with the default mode operator; NOT/'-' are
    unary. Leaves: ('term', t, boost|None), ('phrase', (t...), boost|None),
    ('empty',) for tokens the analyzer drops."""

    def __init__(self, toks: list[str], mode: str):
        self.toks, self.i, self.mode = toks, 0, mode

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self):
        t = self.peek()
        self.i += 1
        return t

    def parse(self):
        if not self.toks:
            return ("empty",)
        node = self.or_expr()
        if self.peek() is not None:
            raise QueryParseError(f"unexpected token {self.peek()!r}")
        return node

    def or_expr(self):
        # Lucene query_string rule: a NOT clause joined IMPLICITLY into a
        # should-list is a prohibited clause of the whole group ("a -b" =
        # a AND NOT b), while an explicit "a OR NOT b" stays disjunctive.
        disj, excl = [], []
        first = True
        while True:
            if first:
                node, explicit, first = self.and_expr(), False, False
            else:
                t = self.peek()
                if t == "OR":
                    self.take()
                    node, explicit = self.and_expr(), True
                elif self.mode == "or" and t is not None and t != ")":
                    node, explicit = self.and_expr(), False
                else:
                    break
            if node == ("empty",):
                continue
            if not explicit and node[0] == "not":
                excl.append(node)
            else:
                disj.append(node)
        if not disj and not excl:
            return ("empty",)
        core = (disj[0] if len(disj) == 1
                else ("or", *disj) if disj else None)
        if not excl:
            return core
        if core is None:
            return excl[0] if len(excl) == 1 else ("and", *excl)
        return ("and", core, *excl)

    def and_expr(self):
        nodes = [self.unary()]
        while True:
            t = self.peek()
            if t == "AND":
                self.take()
                nodes.append(self.unary())
            elif self.mode == "and" and t not in (None, ")", "OR"):
                nodes.append(self.unary())
            else:
                break
        nodes = [n for n in nodes if n != ("empty",)]
        if not nodes:
            return ("empty",)
        return nodes[0] if len(nodes) == 1 else ("and", *nodes)

    def unary(self):
        if self.peek() in ("NOT", "-"):
            self.take()
            child = self.unary()
            return ("empty",) if child == ("empty",) else ("not", child)
        return self.primary()

    def primary(self):
        t = self.take()
        if t is None:
            raise QueryParseError("unexpected end of query")
        if t == "(":
            node = self.or_expr()
            if self.take() != ")":
                raise QueryParseError("unbalanced parenthesis")
            return node
        if t in (")", "AND", "OR"):
            raise QueryParseError(f"dangling token {t!r}")
        neg = t.startswith("-") and len(t) > 1
        if neg:
            t = t[1:]
        _guard_slop(t)
        body, boost = _split_boost(t)
        flt = _is_filter_tok(body)
        if flt is not None:
            # field:value inside the tree = a constant-score filter leaf
            # (OpenSearch query_string field clause); `boost` is accepted
            # but constant-score clauses contribute no term score, so it
            # is inert by design
            node = ("filter", flt, boost)
            return ("not", node) if neg else node
        body, slop = _split_slop(body)
        if body.startswith('"') and body.endswith('"') and len(body) >= 2:
            terms = _analyze(body[1:-1])
            if not terms:
                node = ("empty",)
            elif len(terms) == 1:
                node = ("term", terms[0], boost)
            else:
                node = ("phrase", tuple(terms), boost, slop)
        else:
            exp = _parse_expansion(body)
            if exp is not None:
                node = ("exp", exp, boost) if exp.value else ("empty",)
            else:
                terms = _analyze(body)
                if not terms:
                    node = ("empty",)
                elif len(terms) == 1:
                    node = ("term", terms[0], boost)
                else:
                    # one user token analyzing to several terms joins with
                    # the default operator
                    op = "and" if self.mode == "and" else "or"
                    node = (op, *[("term", x, boost) for x in terms])
        return ("not", node) if neg and node != ("empty",) else node


def _boost_set(out: Query, key: str, boost: float | None) -> None:
    if boost is not None:
        out.boosts[key] = max(out.boosts.get(key, 0.0), float(boost))


def _try_flatten(out: Query, tree) -> bool:
    """Map a parsed tree onto the flat Query fields when semantics allow
    (single leaf; one level of AND over leaves/negated leaves; one level of
    OR over plain terms). Keeps every non-nested query on the engine's flat
    fast path (pruning, per-shard AND counts)."""
    kind = tree[0]
    if kind == "term":
        out.terms.append(tree[1])
        _boost_set(out, tree[1], tree[2])
        return True
    if kind == "exp":
        _add_expansion(out, tree[1], False, tree[2])
        return True
    if kind == "phrase":
        out.phrases.append(list(tree[1]))
        out.phrase_slops.append(tree[3])
        out.terms.extend(tree[1])
        for t in tree[1]:
            _boost_set(out, t, tree[2])
        return True
    if kind == "filter":
        # `(lang:de)` — a lone filter leaf IS a top-level conjunct
        out.filters.append(tree[1])
        return True
    if kind == "not":
        c = tree[1]
        if c[0] == "term":
            out.not_terms.append(c[1])
            return True
        if c[0] == "phrase":
            out.not_phrases.append(list(c[1]))
            out.not_phrase_slops.append(c[3])
            return True
        if c[0] == "exp":
            _add_expansion(out, c[1], True)
            return True
        if c[0] == "filter":
            f = c[1]
            out.filters.append(Filter(f.field, f.op, f.value,
                                      neg=not f.neg))
            return True
        return False
    if kind in ("and", "or"):
        kids = tree[1:]
        terms = [k for k in kids if k[0] == "term"]
        exps = [k for k in kids if k[0] == "exp"]
        phrases = [k for k in kids if k[0] == "phrase"]
        filters = [k for k in kids if k[0] == "filter"]
        negs = [k for k in kids
                if k[0] == "not" and k[1][0] in ("term", "phrase", "exp")]
        negflts = [k for k in kids
                   if k[0] == "not" and k[1][0] == "filter"]
        if len(terms) + len(exps) + len(phrases) + len(negs) \
                + len(filters) + len(negflts) != len(kids):
            return False
        if kind == "or":
            # flat OR cannot carry required phrases, scoped negation, or
            # filter leaves (an OR over a filter is a real disjunction —
            # the tree path handles it)
            if phrases or negs or filters or negflts:
                return False
            out.mode = "or"
        else:
            # conjunct filters ARE the top-level-filter semantics
            out.mode = "and"
            for k in filters:
                out.filters.append(k[1])
            for k in negflts:
                f = k[1][1]
                out.filters.append(Filter(f.field, f.op, f.value,
                                          neg=not f.neg))
            if not terms and not exps and not phrases and not negs:
                return True  # pure filter conjunction → match-all path
        for k in terms:
            out.terms.append(k[1])
            _boost_set(out, k[1], k[2])
        for k in exps:
            _add_expansion(out, k[1], False, k[2])
        for k in phrases:
            out.phrases.append(list(k[1]))
            out.phrase_slops.append(k[3])
            out.terms.extend(k[1])
            for t in k[1]:
                _boost_set(out, t, k[2])
        for k in negs:
            if k[1][0] == "term":
                out.not_terms.append(k[1][1])
            elif k[1][0] == "exp":
                _add_expansion(out, k[1][1], True)
            else:
                out.not_phrases.append(list(k[1][1]))
                out.not_phrase_slops.append(k[1][3])
        return True
    return False


def _encode_tree(out: Query, node, neg_depth: int = 0):
    """Lower a parse tree to the engine form: leaf group keys (term string /
    phrase key), nested ('and'|'or'|'not', ...) lists. Positive-context
    terms score; NOT-context-only terms are presence probes."""
    kind = node[0]
    if kind == "exp":
        # expansion leaf (prefix/wildcard/fuzzy): the leaf key doubles as
        # the scorer group key — the engine expands it against the index
        # vocabulary at search time and the leaf is present for a doc iff
        # any expansion term is. Expansion keys always carry a metachar
        # (*, ? or ~), so they can never collide with an analyzed term key.
        exp = node[1]
        key = exp.key
        out.bool_expansions[key] = exp
        if neg_depth % 2 == 0:
            out.bool_exp_scored.add(key)
        _boost_set(out, key, node[2])
        return key
    if kind == "filter":
        flt = node[1]
        key = (f"flt:{'-' if flt.neg else ''}{flt.field}"
               f"{flt.op}{flt.value}")
        out.bool_filters[key] = flt
        return key
    if kind == "term":
        t = node[1]
        (out.terms if neg_depth % 2 == 0 else out.bool_neg_terms).append(t)
        _boost_set(out, t, node[2])
        return t
    if kind == "phrase":
        terms = list(node[1])
        slop = node[3]
        # slop is part of the leaf identity: `"a b" OR "a b"~3` are two
        # distinct leaves (the slop=0 key keeps its historical form)
        key = (f"ph~{slop}:" if slop else "ph:") + " ".join(terms)
        out.bool_phrases[key] = terms
        if slop:
            out.bool_phrase_slops[key] = slop
        tgt = out.terms if neg_depth % 2 == 0 else out.bool_neg_terms
        tgt.extend(terms)
        for t in terms:
            _boost_set(out, t, node[2])
        return key
    if kind == "not":
        return ["not", _encode_tree(out, node[1], neg_depth + 1)]
    return [kind] + [_encode_tree(out, c, neg_depth) for c in node[1:]]


def _parse_tree(out: Query, toks: list[str], mode: str) -> None:
    tree = _TreeParser(toks, mode).parse()
    if tree == ("empty",):
        return
    if _try_flatten(out, tree):
        return
    out.bool_tree = _encode_tree(out, tree)
    out.bool_neg_terms = sorted(set(out.bool_neg_terms) - set(out.terms))


_TS_RE = re.compile(r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2})?)?$")
_INT_RE = re.compile(r"^-?\d+$")


class QueryParseError(ValueError):
    """Malformed filter value in a user query string."""


_RANGE_OPS = {"[]", "[}", "{]", "{}"}


def _render_rhs(fld: str, value: str) -> str:
    """Validate + render one comparison value for `fld` as a SQL literal
    (or interval expression). User query strings must never inject SQL
    expressions — size:>abc would otherwise reach Catalyst as a column
    ref."""
    if fld in ("last_seen", "first_seen"):
        m = _REL_RE.match(value)
        if m:
            n, unit = int(m.group(1)), m.group(2)
            iv = {"d": "DAYS", "h": "HOURS", "M": "DAYS", "y": "DAYS"}[unit]
            mult = {"d": 1, "h": 1, "M": 30, "y": 365}[unit]
            return f"current_timestamp() - INTERVAL {n * mult} {iv}"
        if _TS_RE.match(value):
            return f"timestamp'{value}'"
        raise QueryParseError(
            f"invalid {fld} filter value {value!r}: expected "
            "now-<n><d|h|M|y> or YYYY-MM-DD[ HH:MM[:SS]]")
    if fld == "size":
        if not _INT_RE.match(value):
            raise QueryParseError(
                f"invalid size filter value {value!r}: expected integer")
        return value
    return "'" + value.replace("'", "''") + "'"


def filter_to_sql(flt: Filter) -> str:
    """Render one filter as a Spark SQL predicate over the documents
    table. All value validation/escaping goes through _render_rhs."""
    fld = flt.field
    if flt.op == "ex":
        # `_exists_:field` — non-NULL; for the array-of-struct references
        # field, any element carrying a name
        pred = ("exists(references, r -> r.name IS NOT NULL)"
                if fld == "references.name" else f"{fld} IS NOT NULL")
        return _maybe_negate(pred, flt.neg)
    if fld == "references.name":
        # inbound-edge filter (the reference API's `references.name:epub`,
        # /root/reference/docs/api.md:4): any element of the references
        # array-of-struct matches by name — equality only (a range over a
        # name makes no sense; reject rather than silently strip the op)
        if flt.op != "=":
            raise QueryParseError(
                f"references.name supports only equality, got op {flt.op!r}")
        v = flt.value.replace("'", "''")
        pred = f"exists(references, r -> r.name = '{v}')"
        return _maybe_negate(pred, flt.neg)
    if flt.op in _RANGE_OPS:
        # Lucene bracket range — op holds the bracket pair, value the
        # "lo TO hi" body; * opens an end, [* TO *] = the field exists
        lo, _, hi = flt.value.partition(" TO ")
        preds = []
        if lo != "*":
            preds.append(
                f"{fld} >{'=' if flt.op[0] == '[' else ''} "
                f"{_render_rhs(fld, lo)}")
        if hi != "*":
            preds.append(
                f"{fld} <{'=' if flt.op[1] == ']' else ''} "
                f"{_render_rhs(fld, hi)}")
        pred = " AND ".join(preds) if preds else f"{fld} IS NOT NULL"
        return _maybe_negate(f"({pred})", flt.neg)
    rhs = _render_rhs(fld, flt.value)
    return _maybe_negate(f"{fld} {flt.op} {rhs}", flt.neg)


def _maybe_negate(pred: str, neg: bool) -> str:
    """-field:value = must_not: docs where the positive predicate is TRUE
    are excluded; NULL fields count as non-matching (kept), hence the
    coalesce — a bare NOT would drop NULL rows under SQL 3-valued logic."""
    if not neg:
        return pred
    return f"(NOT coalesce(({pred}), false))"
