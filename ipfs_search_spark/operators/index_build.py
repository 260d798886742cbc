"""Inverted-index build: pages → documents → sharded postings on Iceberg.

Architecture (Spark-first restatement of the reference's OpenSearch layer,
which runs 20 Lucene shards — /root/reference/docs/indices/files.json:66):

  pages ──latest-wins dedup──> documents (url, doc_id, text, lang, dl, status)
        ──tokenize (JVM split/explode, WSCG)──> tokens(doc_id, dl, term, tf)
        ──shard = pmod(xxhash64(doc_id), S)──>
        ──groupBy(term, shard).applyInPandas(encode)──> postings
  term_stats = postings.groupBy(term).agg(sum df/cf)   (tiny: 1 row/term/shard)
  index_stats = (n_docs, avgdl)                        (exact, one agg)

Why doc-sharding instead of one global posting list per term:
- each doc lives in exactly ONE shard, so BM25 scores are complete within a
  shard and global top-k = merge of per-shard top-k — exact (Lucene does the
  same across its 20 shards);
- the largest pandas group is df(term)/S postings — a stopword with 10^9
  postings at 100 TB splits across thousands of shards instead of one 8 GB
  task; this *is* the salted term-partitioned shuffle the north rule demands,
  with the salt chosen so correctness needs no second-level merge;
- AQE skew-join/partition-split covers the residual long tail.

Every read and write of the index tables is in this module: one reader
(open_index: base ∪ micro-batch segments, shared by Searcher and
compact_segments) and one set of writers. A micro-batch segment is its
rows in `posting_segments` plus one `segment_doc_stats` row, its commit
point, written last (append_segment); readers see committed segments only
and derive their df/cf from the postings' per-shard parts. compact_segments
folds segments back by a per-(bucket, shard) cell merge; merge_term_shards
runs the same cell merger per bucket to make one list per term (shard =
-1, FIXTURES.md §4) for export.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ipfs_search_spark import BLOCK_SIZE, MAX_EXTRACT_BYTES
from ipfs_search_spark.catalog import TableIO
from ipfs_search_spark.functions.extract import with_extracted_text
from ipfs_search_spark.functions.tokenize import doc_tokens

BLOCK_SCHEMA = StructType([
    StructField("first_doc_id", LongType()),
    StructField("n", IntegerType()),
    StructField("max_tf", IntegerType()),
    StructField("min_dl", IntegerType()),
    StructField("doc_ids", BinaryType()),
    StructField("tfs", BinaryType()),
    StructField("dls", BinaryType()),
    StructField("pos", BinaryType(), nullable=True),
])

POSTINGS_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("shard", IntegerType()),
    StructField("bucket", IntegerType()),
    StructField("df_part", LongType()),
    StructField("cf_part", LongType()),
    StructField("blocks", ArrayType(BLOCK_SCHEMA)),
])


def shard_of(doc_id: str, n_shards: int) -> Column:
    """doc → shard: the one routing every writer and the query path share
    (a doc's postings and its allowed-set rows must meet in one shard)."""
    return F.pmod(F.xxhash64(doc_id), F.lit(n_shards)).cast("int")


def route_tokens(tokens: DataFrame, n_shards: int,
                 n_buckets: int) -> DataFrame:
    """Tag token rows with their (shard, bucket) encode cell; the term →
    bucket hash is also the postings table's partition column."""
    return tokens.withColumn("shard", shard_of("doc_id", n_shards)) \
        .withColumn("bucket", F.pmod(F.xxhash64("term"),
                                     F.lit(n_buckets)).cast("int"))


def encode_postings(routed: DataFrame, block_size: int) -> DataFrame:
    """The encode shuffle: one pandas call per (bucket, shard) cell of
    route_tokens() output → one postings row per term."""
    return routed.groupBy("bucket", "shard").applyInPandas(
        _make_encoder(block_size), POSTINGS_SCHEMA)


def canonical_documents(pages: DataFrame, max_bytes: int = MAX_EXTRACT_BYTES,
                        extract: bool = True) -> DataFrame:
    """pages → documents with doc_id, first/last_seen, extracted text, status.

    doc_id = xxhash64(url) — deterministic, join-free, collision odds ~n²/2⁶⁵
    (≈5e-6 at 10^9 docs). first/last_seen truncated to seconds like the
    reference (/root/reference/components/crawler/index.go:20-24)."""
    # Single pass over the input: ONE hash aggregate on url computes the
    # winning sighting (max_by on the (warc_ts, html-hash) struct — the same
    # winner the old desc/desc row_number window picked) AND first/last_seen.
    # vs the window form this (a) never SORTS the full pages table — the
    # window's sort of every html payload was the build's largest memory
    # mover after the shuffle itself — and (b) partially aggregates map-side,
    # so duplicate sightings collapse before the url shuffle instead of
    # shipping every copy (at 100 TB recrawl dups are the norm, not 0.5%).
    others = [c for c in pages.columns if c != "url"]
    win_key = F.struct(F.col("warc_ts").alias("ts"),
                       F.xxhash64("html").alias("h"))
    latest = (pages.groupBy("url")
              .agg(F.max_by(F.struct(*[F.col(c).alias(c) for c in others]),
                            win_key).alias("_w"),
                   F.date_trunc("second",
                                F.min("warc_ts")).alias("first_seen"),
                   F.date_trunc("second",
                                F.max("warc_ts")).alias("last_seen"))
              .select("url", "_w.*", "first_seen", "last_seen"))
    if extract:
        latest = with_extracted_text(
            latest.drop("text"), max_bytes=max_bytes, status_col="status",
            metadata_col="metadata", urls_col="urls")
    else:
        latest = latest.withColumn(
            "status",
            F.when(F.length("html") > max_bytes, F.lit("invalid_too_large"))
            .when(F.coalesce(F.length("html"), F.lit(0)) == 0, F.lit("partial"))
            .otherwise(F.lit("ok")),
        )
    from ipfs_search_spark.functions.tokenize import tokens_array
    # dl (BM25 doc length) is computed HERE, in the same pass that writes the
    # documents table — corpus stats (N, avgdl) then cost one trivial agg of
    # a stored column instead of a full re-tokenize pass over the text.
    if "metadata" not in latest.columns:
        latest = latest.withColumn(
            "metadata", F.lit(None).cast("map<string,string>"))
    if "urls" not in latest.columns:
        latest = latest.withColumn(
            "urls", F.lit(None).cast("array<string>"))
    return (latest
            .withColumn("doc_id", F.xxhash64("url"))
            .withColumn("size", F.length("html").cast("long"))
            .withColumn("dl", F.when(F.col("status") == "ok",
                                     F.size(tokens_array(F.col("text"))))
                        .otherwise(F.lit(0)).cast("int"))
            .select("url", "doc_id", "first_seen", "last_seen", "size",
                    "text", "lang", "status", "dl", "metadata", "urls"))


def _make_encoder(block_size: int):
    """Encoder for one (bucket, shard) group: MANY terms per pandas group so
    the per-group applyInPandas overhead amortizes (one group per
    bucket×shard cell instead of one per term — 512 groups instead of
    |vocab|×shards). Emits one postings row per term.

    Accepts TWO input shapes:
    - aggregated rows (a `tf` column, one row per (doc, term), optional
      `positions` array) — what doc_tokens(aggregate=True) produces and
      what the checkpointed build materializes in its tokens table;
    - RAW token rows (no `tf`, one row per token occurrence, optional flat
      `pos` int) — the single-shuffle build path: tf is a run length after
      the (term, doc) sort, so the upstream groupBy(doc_id, term) shuffle
      (and its AQE-coalesced straggler-prone final-agg stage) disappears
      from the build entirely."""
    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        # factorize terms to int codes FIRST (C-speed hash): lexsorting the
        # raw object-dtype string column fell back to per-element Python
        # comparisons — the dominant encoder cost at bench scale. Postings
        # row order within the group becomes appearance-order instead of
        # alphabetical, which no consumer observes (the base build re-sorts
        # by term at the partitioned write; segments are term-filtered, not
        # order-scanned).
        codes, uniq_terms = pd.factorize(pdf["term"], sort=False)
        codes = codes.astype(np.int64)
        ids_all = pdf["doc_id"].to_numpy(dtype=np.int64)
        dls_all = pdf["dl"].to_numpy(dtype=np.int64)
        raw_tokens = "tf" not in pdf.columns
        positional = ("positions" in pdf.columns or
                      (raw_tokens and "pos" in pdf.columns))
        pos_flat = None
        if raw_tokens:
            uids = ids_all.view(np.uint64)
            if positional:
                pos_all = pdf["pos"].to_numpy(dtype=np.int64)
                order = np.lexsort((pos_all, uids, codes))
                pos_flat = pos_all[order]
            else:
                order = np.lexsort((uids, codes))
            codes, ids_all, dls_all = (codes[order], ids_all[order],
                                       dls_all[order])
            uids = ids_all.view(np.uint64)
            # posting (term, doc) runs: tf = run length, all vectorized
            starts = np.flatnonzero(np.concatenate(
                ([True], (codes[1:] != codes[:-1]) |
                 (uids[1:] != uids[:-1]))))
            run_ends = np.append(starts[1:], codes.size)
            tfs_all = (run_ends - starts).astype(np.int64)
            codes, ids_all, dls_all = (codes[starts], ids_all[starts],
                                       dls_all[starts])
        else:
            # one vectorized sort by (term code, unsigned doc_id)
            order = np.lexsort((ids_all.view(np.uint64), codes))
            codes, ids_all, dls_all = (codes[order], ids_all[order],
                                       dls_all[order])
            tfs_all = pdf["tf"].to_numpy(dtype=np.int64)[order]
            if positional:
                # flat element payload in sorted posting order (one C-loop
                # concatenate over Arrow list cells — no per-element Python)
                pos_cells = pdf["positions"].to_numpy()[order]
                pos_flat = (np.concatenate(pos_cells).astype(np.int64)
                            if pos_cells.size else np.empty(0, np.int64))
        return _sorted_cell_rows(
            codes, uniq_terms, ids_all, tfs_all, dls_all, pos_flat,
            int(pdf["shard"].iloc[0]), int(pdf["bucket"].iloc[0]),
            block_size)
    return encode_group


def _sorted_cell_rows(codes, terms, ids, tfs, dls, positions, shard: int,
                      bucket: int, block_size: int) -> pd.DataFrame:
    """The tail the cell encoder and the cell merger share: one cell's
    postings, sorted by (term code, unsigned doc_id) with `positions` the
    flat payload in that order, → one postings row per term, every block
    encoded by one encode_blocks_bulk pass."""
    import numpy as np
    from ipfs_search_spark.functions.codec import encode_blocks_bulk
    seg = np.flatnonzero(np.concatenate(([True], codes[1:] != codes[:-1])))
    bounds = np.append(seg, codes.size)
    n = seg.size
    return pd.DataFrame({
        "term": [terms[c] for c in codes[seg]],
        "shard": [shard] * n,
        "bucket": [bucket] * n,
        "df_part": (bounds[1:] - bounds[:-1]).tolist(),
        "cf_part": np.add.reduceat(tfs, seg).tolist() if codes.size else [],
        "blocks": encode_blocks_bulk(bounds, ids, tfs, dls,
                                     positions=positions,
                                     block_size=block_size),
    })


def _stored_dl(docs: DataFrame) -> Column:
    """BM25 doc length: the `dl` column canonical_documents stores, or the
    canonical analyzer's token count when the corpus carries none."""
    if "dl" in docs.columns:
        return F.col("dl")
    from ipfs_search_spark.functions.tokenize import tokens_array
    return F.size(tokens_array(F.col("text")))


def doc_stats_sums(docs: DataFrame,
                   lang_aware: bool = False) -> tuple[int, int]:
    """Exact (N, total_dl) over indexable docs (dl > 0) — the integer sums
    behind avgdl. Kept as INTEGERS so incremental indexes can ADD per-segment
    sums and recover the exact global avgdl (float(total)/n is the identical
    operation a from-scratch build performs — bit-equal scores).

    lang_aware builds must NOT trust a stored dl (it was counted with the
    canonical analyzer; the CJK branch tokenizes differently) — they
    re-count through the lang-aware UDF."""
    if lang_aware:
        from ipfs_search_spark.functions.tokenize import tokenize_udf
        dl = F.size(tokenize_udf(F.col("text"), F.col("lang")))
    else:
        dl = _stored_dl(docs)
    row = (docs.filter(F.col("status") == "ok")
           .select(dl.alias("dl"))
           .filter(F.col("dl") > 0)
           .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl"))
           .collect()[0])
    return int(row["n"]), int(row["sdl"] or 0)


def build_postings(docs: DataFrame, n_shards: int = 8,
                   n_buckets: int = 64, block_size: int = BLOCK_SIZE,
                   lang_aware: bool = False,
                   positions: bool = False) -> DataFrame:
    """tokens → encoded postings. ONE shuffle: raw token rows go straight
    from the tokenize/explode scan into the (bucket, shard) encoder, which
    derives tf as a (term, doc) run length after its vectorized sort. The
    old shape pre-aggregated tf with a groupBy(doc_id, term) — that is a
    SECOND full shuffle of every (doc, term) pair plus two hash-agg passes,
    and its AQE-coalesced final-agg stage was the build's straggler (a
    3-task 30 s stage at local[2]). Raw rows shuffle ~avg-tf× more rows but
    skip all of that; net measured win at bench scale, and the encoder
    still accepts pre-aggregated input for materialized tokens tables
    (checkpointed builds). No corpus stats needed — block-max metadata is
    avgdl-independent.

    positions=True ships a flat `pos` int per token row — the encoder's
    run sort yields each posting's positions already ascending (the
    reference's `term_vector: with_positions_offsets`,
    /root/reference/docs/indices/files.json:93)."""
    ok = docs.filter(F.col("status") == "ok")
    tokens = doc_tokens(ok, doc_col="doc_id", text_col="text",
                        lang_col="lang" if lang_aware else None,
                        positions=positions, aggregate=False)
    return encode_postings(route_tokens(tokens, n_shards, n_buckets),
                           block_size)


INDEX_STATS_DDL = ("n_docs long, avgdl double, n_shards int, n_buckets int, "
                   "block_size int, positional boolean, total_dl long")


def avg_dl(total_dl: int, n_docs: int) -> float:
    """The one avgdl formula, over exact integer sums: builds, compaction
    and base∪segments reads all agree bit for bit."""
    return float(total_dl) / n_docs if n_docs else 0.0


def index_stats_row(n_docs: int, total_dl: int, n_shards: int,
                    n_buckets: int, block_size: int,
                    positional: bool) -> tuple:
    """One index_stats row. total_dl rides along so segment appends can ADD
    their sums instead of re-scanning documents."""
    return (n_docs, avg_dl(total_dl, n_docs), n_shards, n_buckets,
            block_size, bool(positional), total_dl)


def write_postings(io: TableIO, postings: DataFrame, name: str,
                   n_buckets: int) -> None:
    """Partitioned postings write. Each bucket is co-located into one task
    first: one output file per bucket instead of (tasks × buckets)
    fragments — the commit protocol's file-listing/rename cost is serial on
    the driver. sortWithinPartitions(term): parquet row-group min/max stats
    on the sorted term column let the query-time `term IN (...)` scan skip
    row groups inside a bucket — at web scale a bucket holds millions of
    terms and the probe reads only the groups containing query terms. The
    sort leads with the partition column: Spark's planned write requires
    rows ordered by `bucket` and would otherwise add a sort on it alone,
    replacing the term order."""
    io.write(postings.repartition(n_buckets, "bucket")
             .sortWithinPartitions("bucket", "term", "shard"),
             name, partition_by=["bucket"])


def term_stats_of(postings: DataFrame) -> DataFrame:
    """Per-term (bucket, df, cf) of a postings table: integer sums over its
    per-shard rows."""
    return postings.groupBy("term").agg(
        F.first("bucket").alias("bucket"),
        F.sum("df_part").alias("df"),
        F.sum("cf_part").alias("cf"))


def _write_base_tables(io: TableIO, postings: DataFrame, n_buckets: int,
                       stats_row: tuple) -> None:
    """postings, their term_stats (term-sorted for row-group skipping),
    then index_stats: the base's commit marker, written driver-side."""
    write_postings(io, postings, "postings", n_buckets)
    io.write(term_stats_of(io.read("postings")).sortWithinPartitions("term"),
             "term_stats")
    io.write_rows("index_stats", [stats_row], INDEX_STATS_DDL)


def append_segment(io: TableIO, postings: DataFrame, segment_id: int,
                   n_docs: int, total_dl: int, n_shards: int) -> None:
    """Append one micro-batch's postings as a segment, then its commit row.
    `posting_segments` lands first; the one-row `segment_doc_stats` record
    (doc count, exact dl sum, and n_shards, which an index of segments
    alone records nowhere else) lands last, as a single file, so one
    rename commits the segment on the parquet fallback. open_index reads
    only committed segments and derives their df/cf from the postings, so
    a crash mid-batch leaves uncommitted rows no reader counts. What it
    does not undo: the batch's docs are in `documents` without postings,
    and a retry of the batch skips them as known urls."""
    io.append_atomic(postings.withColumn("segment_id", F.lit(segment_id)),
                     "posting_segments")
    io.append_atomic(
        postings.sparkSession.createDataFrame(
            [(int(segment_id), n_docs, total_dl, int(n_shards))],
            "segment_id long, n_docs long, total_dl long, n_shards int")
        .coalesce(1),
        "segment_doc_stats")


def build_index(spark: SparkSession, pages: DataFrame, io: TableIO,
                n_shards: int = 8, n_buckets: int = 64,
                block_size: int = BLOCK_SIZE,
                max_bytes: int = MAX_EXTRACT_BYTES,
                extract: bool = True, positions: bool = False) -> dict:
    """Full build: writes documents, postings (partitioned by bucket →
    query-time partition pruning), term_stats, index_stats. Returns stats."""
    docs = canonical_documents(pages, max_bytes=max_bytes, extract=extract)
    return build_index_from_docs(spark, docs, io, n_shards=n_shards,
                                 n_buckets=n_buckets, block_size=block_size,
                                 positions=positions)


def build_index_from_docs(spark: SparkSession, docs: DataFrame, io: TableIO,
                          n_shards: int = 8, n_buckets: int = 64,
                          block_size: int = BLOCK_SIZE,
                          positions: bool = False,
                          lang_aware: bool = False) -> dict:
    """Build the index from an already-canonical documents DataFrame
    (url, doc_id, text, lang, status[, ...]) — e.g. an external corpus whose
    doc_ids must be preserved. Same artifacts as build_index.

    Corpus stats (N, avgdl) ride the documents WRITE as observed metrics —
    no separate stats job/scan (the fixed per-build driver overhead is what
    caps strong-scaling efficiency at bench sizes; at 100 TB every saved
    pass is a full input scan). lang-aware builds keep the explicit re-count
    (the stored dl was counted with the canonical analyzer)."""
    if lang_aware:
        io.write(docs, "documents")
        docs = io.read("documents")
        n_docs, total_dl = doc_stats_sums(docs, lang_aware=True)
    else:
        from pyspark.sql import Observation
        dl_col = _stored_dl(docs)
        ok = (F.col("status") == "ok") & (dl_col > 0)
        obs = Observation("doc_stats")
        io.write(docs.observe(obs,
                              F.count(F.when(ok, F.lit(1))).alias("n"),
                              F.sum(F.when(ok, dl_col)).alias("sdl")),
                 "documents")
        row = obs.get
        n_docs = int(row["n"] or 0)
        total_dl = int(row["sdl"] or 0)
        docs = io.read("documents")
    postings = build_postings(docs, n_shards=n_shards,
                              n_buckets=n_buckets, block_size=block_size,
                              positions=positions, lang_aware=lang_aware)
    stats_row = index_stats_row(n_docs, total_dl, n_shards, n_buckets,
                                block_size, positions)
    _write_base_tables(io, postings, n_buckets, stats_row)
    return {"n_docs": n_docs, "avgdl": stats_row[1], "n_shards": n_shards,
            "n_buckets": n_buckets, "positional": bool(positions)}


def build_fielded_index(spark: SparkSession, docs: DataFrame, io: TableIO,
                        fields: dict, n_shards: int = 8, n_buckets: int = 64,
                        block_size: int = BLOCK_SIZE,
                        positions: bool = False) -> dict:
    """Multi-field index — the reference's default_field surface: OpenSearch
    searches 15 analyzed fields per query_string
    (/root/reference/docs/indices/files.json:10-37). Posting keys are
    Lucene-style "field:term" strings, so every downstream component
    (sharding, encoding, bucket pruning, term_stats) is reused unchanged.
    Per-field corpus stats (n_docs, avgdl — Lucene computes BM25 per field)
    land in `field_stats`.

    docs: canonical documents plus one text column per field;
    fields: {field_name: text_column}."""
    from ipfs_search_spark.functions.tokenize import tokens_array

    io.write(docs, "documents")
    docs = io.read("documents")
    ok = docs.filter(F.col("status") == "ok")

    tokens = None
    for fld, col in sorted(fields.items()):
        # raw token rows (single-shuffle path, same as build_postings):
        # the encoder derives tf from (term, doc) run lengths
        t = doc_tokens(ok, doc_col="doc_id", text_col=col,
                       positions=positions, aggregate=False)
        sel = ["doc_id", "dl",
               F.concat(F.lit(fld + ":"), F.col("term")).alias("term")]
        if positions:
            sel.append("pos")  # token index WITHIN the field
        t = t.select(*sel)
        tokens = t if tokens is None else tokens.unionByName(t)
    # ALL per-field stats + the corpus doc count in ONE scan (one agg job
    # instead of |fields|+1 full passes over the ok docs)
    stat_aggs = [F.count(F.lit(1)).alias("n_all")]
    for fld, col in sorted(fields.items()):
        dl = F.size(tokens_array(F.col(col)))
        stat_aggs += [F.count(F.when(dl > 0, F.lit(1))).alias(f"n_{fld}"),
                      F.sum(F.when(dl > 0, dl)).alias(f"s_{fld}")]
    srow = ok.agg(*stat_aggs).collect()[0]
    fstats_rows = []
    for fld in sorted(fields):
        nf = int(srow[f"n_{fld}"] or 0)
        fstats_rows.append(
            (fld, nf, float(srow[f"s_{fld}"]) / nf if nf else 0.0))

    io.write_rows("field_stats", fstats_rows,
                  "field string, n_docs long, avgdl double")
    # no index-wide dl sum: BM25 runs on the per-field stats above
    _write_base_tables(
        io, encode_postings(route_tokens(tokens, n_shards, n_buckets),
                            block_size), n_buckets,
        index_stats_row(int(srow["n_all"]), 0, n_shards, n_buckets,
                        block_size, positions))
    return {"n_docs": int(srow["n_all"]),
            "fields": {f: (n, a) for f, n, a in fstats_rows}}


def merge_term_shards(postings: DataFrame,
                      block_size: int = BLOCK_SIZE) -> DataFrame:
    """Export: merge every term's per-shard runs into one global
    docid-sorted posting list (shard = -1, the single-segment layout of
    FIXTURES.md §4), one cell merger call per bucket."""
    return postings.groupBy("bucket").applyInPandas(
        _make_cell_merger(block_size, shard=-1), POSTINGS_SCHEMA)


def _make_cell_merger(block_size: int, shard: int | None = None):
    """Merger for one cell of posting rows: every run of every term in it,
    in ONE pandas call (compaction: a (bucket, shard) cell, keeping its
    shard; shard=-1: a whole bucket collapsed across shards). The runs of
    a term are disjoint doc sets, so one decode_blocks pass and one sort
    by (term code, unsigned doc_id) merge them all; the rows then take the
    encoder's own tail, so a merged cell is byte-identical to a rebuilt
    one. A cell mixing positional and non-positional blocks raises: the
    merge would drop positions the index claims to have."""
    def merge_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        from ipfs_search_spark.functions.codec import (
            _element_permutation, decode_blocks,
        )
        blks = [blk for blocks in pdf["blocks"] for blk in blocks]
        has_pos = [blk["pos"] is not None for blk in blks]
        positional = all(has_pos)
        if any(has_pos) and not positional:
            raise ValueError(
                "cell mixes positional and non-positional blocks: merging "
                "it would drop positions")
        ids, tfs, dls, pos = decode_blocks(blks, positions=positional)
        row_codes, terms = pd.factorize(pdf["term"], sort=False)
        # a row's df_part is its posting count: each decoded posting's term
        codes = np.repeat(row_codes.astype(np.int64),
                          pdf["df_part"].to_numpy(dtype=np.int64))
        order = np.lexsort((ids.view(np.uint64), codes))
        if pos is not None:
            pos = pos[_element_permutation(tfs, order)]
        return _sorted_cell_rows(
            codes[order], terms, ids[order], tfs[order], dls[order], pos,
            int(pdf["shard"].iloc[0]) if shard is None else shard,
            int(pdf["bucket"].iloc[0]), block_size)

    return merge_cell


@dataclass(frozen=True)
class IndexView:
    """One read of an index: the base tables plus every committed posting
    segment, with the statistics merged by integer addition."""
    base: DataFrame | None      # base postings (None: segments only)
    segments: DataFrame | None  # committed segment postings, no segment_id
    postings: DataFrame         # base ∪ segments
    term_stats: DataFrame       # merged term → (bucket, df, cf)
    n_docs: int
    total_dl: int
    n_shards: int
    stats: dict                 # base index_stats row ({} without a base)
    field_stats: dict           # field → (n_docs, avgdl); {} if not fielded
    segment_ids: frozenset

    @property
    def avgdl(self) -> float:
        return avg_dl(self.total_dl, self.n_docs)

    @property
    def positional(self) -> bool:
        return bool(self.stats.get("positional", False))


def read_index_stats(io: TableIO) -> dict:
    """The base index_stats row as a dict; {} when no base is committed."""
    if not io.exists("index_stats"):
        return {}
    return io.read("index_stats").collect()[0].asDict()


def open_index(io: TableIO) -> IndexView:
    """Open base∪segments, reading each index table once. A segment is
    committed by its `segment_doc_stats` row; posting_segments is read
    filtered to the committed ids, so rows of a batch torn before its
    commit row are never read. Segments hold only NEW docs (anti-joined at
    append), so the global statistics are exact integer sums: n_docs and
    the dl sum over the base and commit rows, df/cf over the base
    term_stats and the segments' per-shard df_part/cf_part columns (never
    their blocks) — bit-identical to a from-scratch build.

    Raises ValueError on an index_stats row without total_dl and on an
    index without one n_shards (the query side's doc→shard route)."""
    stats = read_index_stats(io)
    if stats and stats.get("total_dl") is None:
        raise ValueError(
            "index_stats records no total_dl (written before the exact dl "
            "sum was stored): rebuild the index")
    n_docs = int(stats.get("n_docs", 0))
    total_dl = int(stats.get("total_dl", 0))
    n_shards = stats.get("n_shards")
    base = io.read("postings") if stats else None
    term_stats = io.read("term_stats") if stats else None
    postings, segments, seg_ids = base, None, frozenset()
    seg_docs = ([r.asDict() for r in io.read("segment_doc_stats").collect()]
                if io.exists("segment_doc_stats") else [])
    if seg_docs:
        seg_ids = frozenset(int(r["segment_id"]) for r in seg_docs)
        segments = io.read("posting_segments") \
            .filter(F.col("segment_id").isin(sorted(seg_ids))) \
            .drop("segment_id")
        postings = segments if base is None else base.unionByName(segments)
        parts = segments.select("term", "bucket", "df_part", "cf_part")
        if base is not None:
            parts = term_stats.select(
                "term", "bucket", F.col("df").alias("df_part"),
                F.col("cf").alias("cf_part")).unionByName(parts)
        term_stats = term_stats_of(parts)
        n_docs += sum(int(r["n_docs"]) for r in seg_docs)
        total_dl += sum(int(r["total_dl"]) for r in seg_docs)
        if not stats:
            shard_params = {r.get("n_shards") for r in seg_docs}
            if len(shard_params) > 1:
                raise ValueError("posting segments disagree on n_shards")
            n_shards = shard_params.pop()
    if postings is None:
        raise ValueError("no index here: build one or append a segment")
    if n_shards is None:
        raise ValueError(
            "index records no n_shards (written before the doc→shard "
            "parameter was stored): rebuild it")
    field_stats = ({r["field"]: (int(r["n_docs"]), float(r["avgdl"]))
                    for r in io.read("field_stats").collect()}
                   if io.exists("field_stats") else {})
    return IndexView(base=base, segments=segments, postings=postings,
                     term_stats=term_stats, n_docs=n_docs, total_dl=total_dl,
                     n_shards=int(n_shards), stats=stats,
                     field_stats=field_stats, segment_ids=seg_ids)


COMPACTION_MANIFEST = "_compaction_manifest"
_STAGING_POSTINGS = "_compacting_postings"
_STAGING_TERM_STATS = "_compacting_term_stats"


def compact_segments(io: TableIO) -> dict:
    """Fold streaming posting segments back into the base tables — the
    Lucene merge-down the reference gets from its OpenSearch backend's
    segment merges. posting_segments grows one segment per micro-batch
    (append_segment); compaction restores the from-scratch layout: ONE
    docid-sorted posting row per (term, shard), the merged term_stats and
    index_stats of open_index (the same view a Searcher reads), and the
    segment tables dropped — a subsequent Searcher reads base tables only.

    Only the (term, shard) rows a segment touches are re-encoded, by one
    cell merger call per (bucket, shard); untouched base rows pass through
    unchanged — at web scale segments are micro-batch-sized, so compaction
    cost tracks the NEW data, not the index size.

    Crash story (two-phase, resumable): phase 1 stages the merged
    postings/term_stats under staging names invisible to Searcher — a
    crash there leaves the live index untouched. Writing the manifest
    (atomic dir swap) is the commit point. Phase 2 installs: swap staging
    over live, refresh index_stats from the manifest, drop the segment
    tables, drop the manifest — every step idempotent, so re-invoking
    compact_segments after a crash resumes and completes the install
    (on entry it finishes a pending manifest before anything else).
    Like Lucene's merges, compaction must not run concurrently with
    ingest appends or Searcher construction.

    Folds the segments open_index sees: committed ones only. Rows of a
    batch torn before its commit row are never read, and the install's
    drop of posting_segments removes them. Raises open_index's ValueErrors
    (e.g. a base without total_dl) rather than undercounting df/n_docs."""
    if io.exists(COMPACTION_MANIFEST):
        return _install_compaction(io)
    if not io.exists("segment_doc_stats"):
        return {"segments_folded": 0}
    if not io.exists("index_stats"):
        raise ValueError(
            "compact_segments needs index_stats for the base layout "
            "parameters (n_shards/n_buckets/positional)")
    view = open_index(io)
    st = view.stats

    # phase 1 — stage merged postings: only segment-touched (term, shard)
    # rows re-encode, at the BASE index's block size (a divergent merge
    # block size would silently mix layouts while index_stats claims one)
    n_buckets = int(st["n_buckets"])
    block_size = int(st["block_size"])
    keys = view.segments.select("term", "shard").distinct()
    to_merge = view.base.join(keys, ["term", "shard"], "left_semi") \
        .unionByName(view.segments)
    merged = to_merge.groupBy("bucket", "shard").applyInPandas(
        _make_cell_merger(block_size), POSTINGS_SCHEMA)
    write_postings(io, view.base.join(keys, ["term", "shard"], "left_anti")
                   .unionByName(merged), _STAGING_POSTINGS, n_buckets)
    io.write(view.term_stats.sortWithinPartitions("term"),
             _STAGING_TERM_STATS)
    # commit point: the manifest carries the full post-compaction
    # index_stats row
    io.write_rows(
        COMPACTION_MANIFEST,
        [index_stats_row(view.n_docs, view.total_dl, view.n_shards,
                         n_buckets, block_size, view.positional)
         + (len(view.segment_ids),)],
        INDEX_STATS_DDL + ", segments_folded long")
    return _install_compaction(io)


def _install_compaction(io: TableIO) -> dict:
    """Phase 2 of compact_segments: every step is an idempotent
    swap/overwrite/drop keyed off the manifest, so this completes a
    partially-installed compaction regardless of where a crash hit."""
    m = io.read(COMPACTION_MANIFEST).collect()[0]
    for staging, live, parts in ((_STAGING_POSTINGS, "postings",
                                  ["bucket"]),
                                 (_STAGING_TERM_STATS, "term_stats",
                                  None)):
        if not io.exists(staging):
            continue  # already installed by a previous attempt
        if io.iceberg:
            io.write(io.read(staging), live, partition_by=parts)
            io.drop(staging)
        else:
            io._swap_dir(io._path(staging), io._path(live))
    io.write_rows("index_stats", [tuple(m)[:-1]], INDEX_STATS_DDL)
    for t in ("posting_segments", "segment_doc_stats"):
        io.drop(t)
    io.drop(COMPACTION_MANIFEST)
    return {"segments_folded": int(m["segments_folded"]),
            "n_docs": int(m["n_docs"])}
