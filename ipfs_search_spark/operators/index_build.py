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

A compaction path (merge_term_shards) k-way-merges per-shard runs into one
global docid-sorted list per term for the single-segment layout of
FIXTURES.md §4 — used for segment export, not required for querying.
"""

from __future__ import annotations

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


def latest_pages(pages: DataFrame) -> DataFrame:
    """W2 latest-observation-wins per url (reference sniffer dedup,
    /root/reference/components/sniffer/providerfilters/lastseenfilter.go:55-90
    — batch form). One shuffle on url; ties broken deterministically by the
    html payload hash so reruns are stable. Hash aggregate (max_by), not a
    row_number window: no sort of the payload, map-side partial combine."""
    others = [c for c in pages.columns if c != "url"]
    win_key = F.struct(F.col("warc_ts").alias("ts"),
                       F.xxhash64("html").alias("h"))
    return (pages.groupBy("url")
            .agg(F.max_by(F.struct(*[F.col(c).alias(c) for c in others]),
                          win_key).alias("_w"))
            .select(*[F.col("url") if c == "url" else F.col(f"_w.{c}")
                      for c in pages.columns]))


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
        from ipfs_search_spark.functions.codec import encode_blocks_bulk
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
        seg = np.flatnonzero(np.concatenate(
            ([True], codes[1:] != codes[:-1])))
        bounds = np.append(seg, codes.size)
        n = seg.size
        return pd.DataFrame({
            "term": [uniq_terms[c] for c in codes[seg]],
            "shard": [int(pdf["shard"].iloc[0])] * n,
            "bucket": [int(pdf["bucket"].iloc[0])] * n,
            "df_part": (bounds[1:] - bounds[:-1]).tolist(),
            "cf_part": (np.add.reduceat(tfs_all, seg).tolist()
                        if codes.size else []),
            "blocks": encode_blocks_bulk(
                bounds, ids_all, tfs_all, dls_all, positions=pos_flat,
                block_size=block_size),
        })
    return encode_group


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
    elif "dl" in docs.columns:
        dl = F.col("dl")
    else:
        from ipfs_search_spark.functions.tokenize import tokens_array
        dl = F.size(tokens_array(F.col("text")))
    row = (docs.filter(F.col("status") == "ok")
           .select(dl.alias("dl"))
           .filter(F.col("dl") > 0)
           .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl"))
           .collect()[0])
    return int(row["n"]), int(row["sdl"] or 0)


def compute_doc_stats(docs: DataFrame,
                      lang_aware: bool = False) -> tuple[int, float]:
    """Exact N and avgdl over indexable docs (dl > 0). When the documents
    table carries the stored `dl` column (canonical_documents writes it),
    this is a trivial column agg — no re-tokenize pass. Identity-path
    exactness — no sketches (SURVEY.md §7 hard part 2)."""
    n, sdl = doc_stats_sums(docs, lang_aware=lang_aware)
    return n, (float(sdl) / n if n else 0.0)


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
        avgdl = float(total_dl) / n_docs if n_docs else 0.0
    else:
        from pyspark.sql import Observation
        if "dl" in docs.columns:
            dl_col = F.col("dl")
        else:
            from ipfs_search_spark.functions.tokenize import tokens_array
            dl_col = F.size(tokens_array(F.col("text")))
        ok = (F.col("status") == "ok") & (dl_col > 0)
        obs = Observation("doc_stats")
        io.write(docs.observe(obs,
                              F.count(F.when(ok, F.lit(1))).alias("n"),
                              F.sum(F.when(ok, dl_col)).alias("sdl")),
                 "documents")
        row = obs.get
        n_docs = int(row["n"] or 0)
        total_dl = int(row["sdl"] or 0)
        avgdl = (float(total_dl) / n_docs) if n_docs else 0.0
        docs = io.read("documents")
    postings = build_postings(docs, n_shards=n_shards,
                              n_buckets=n_buckets, block_size=block_size,
                              positions=positions, lang_aware=lang_aware)
    # co-locate each bucket into one task before the partitioned write: one
    # output file per bucket instead of (tasks × buckets) fragments — the
    # commit protocol's file-listing/rename cost is serial on the driver.
    # sortWithinPartitions(term): parquet row-group min/max stats on the
    # sorted term column let the query-time `term IN (...)` scan skip row
    # groups inside a bucket — at web scale a bucket holds millions of
    # terms and the probe reads only the groups containing query terms.
    postings = (postings.repartition(n_buckets, "bucket")
                .sortWithinPartitions("term", "shard"))
    io.write(postings, "postings", partition_by=["bucket"])
    postings = io.read("postings")
    term_stats = postings.groupBy("term").agg(
        F.first("bucket").alias("bucket"),
        F.sum("df_part").alias("df"),
        F.sum("cf_part").alias("cf"),
    )
    # sorted by term for the same row-group-skipping on stats lookups
    io.write(term_stats.sortWithinPartitions("term"), "term_stats")
    # total_dl (exact integer) rides along so incremental segment appends
    # can derive the merged avgdl by ADDING per-segment sums — the Searcher
    # then never re-aggregates postings or re-scans documents at init.
    # write_rows: one row of scalars — written driver-side, no Spark job
    io.write_rows(
        "index_stats",
        [(n_docs, avgdl, n_shards, n_buckets, block_size,
          bool(positions), total_dl)],
        "n_docs long, avgdl double, n_shards int, n_buckets int, "
        "block_size int, positional boolean, total_dl long",
    )
    return {"n_docs": n_docs, "avgdl": avgdl, "n_shards": n_shards,
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

    postings = encode_postings(route_tokens(tokens, n_shards, n_buckets),
                               block_size)
    postings = (postings.repartition(n_buckets, "bucket")
                .sortWithinPartitions("term", "shard"))
    io.write(postings, "postings", partition_by=["bucket"])
    postings = io.read("postings")
    io.write(postings.groupBy("term").agg(
        F.first("bucket").alias("bucket"),
        F.sum("df_part").alias("df"),
        F.sum("cf_part").alias("cf")).sortWithinPartitions("term"),
        "term_stats")
    io.write_rows("field_stats", [tuple(r) for r in fstats_rows],
                  "field string, n_docs long, avgdl double")
    n_docs = int(srow["n_all"])
    io.write_rows(
        "index_stats",
        [(n_docs, 0.0, n_shards, n_buckets, block_size, bool(positions), 0)],
        "n_docs long, avgdl double, n_shards int, n_buckets int, "
        "block_size int, positional boolean, total_dl long")
    return {"n_docs": n_docs,
            "fields": {f: (n, a) for f, n, a in fstats_rows}}


def merge_term_shards(postings: DataFrame,
                      block_size: int = BLOCK_SIZE) -> DataFrame:
    """Compaction: k-way merge per-shard runs → one global docid-sorted
    posting list per term (single-segment layout, FIXTURES.md §4). Second
    groupBy level of the salted build (SURVEY.md §7 milestone 2)."""
    return postings.groupBy("term").applyInPandas(
        _make_run_merger(block_size, per_shard=False), POSTINGS_SCHEMA)


def _make_run_merger(block_size: int, per_shard: bool):
    """Merger for one pandas group of posting rows (runs of the same term):
    k-way merges the runs into one docid-sorted posting row. per_shard=True
    groups by (term, shard) and PRESERVES the doc-sharded layout (segment
    compaction); per_shard=False collapses across shards into shard=-1
    (the single-segment export layout)."""
    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        from ipfs_search_spark.functions.codec import (
            decode_block, decode_block_positions, encode_blocks,
            merge_sorted_runs,
        )
        runs, pos_l = [], []
        positional = True
        for blocks in pdf["blocks"]:
            ids_l, tfs_l, dls_l = [], [], []
            for blk in blocks:
                i, t, d = decode_block(blk)
                ids_l.append(i); tfs_l.append(t); dls_l.append(d)
                # blocks persisted by pre-positional builds lack the `pos`
                # struct field entirely — degrade to a non-positional merge
                # (blk is a dict under Arrow conversion, a Row otherwise)
                fields = getattr(blk, "__fields__", blk)
                pos_val = blk["pos"] if "pos" in fields else None
                if pos_val is None:
                    positional = False
                elif positional:
                    pos_l.append(decode_block_positions(blk, t))
            if ids_l:
                runs.append((np.concatenate(ids_l), np.concatenate(tfs_l),
                             np.concatenate(dls_l)))
        ids, tfs, dls = merge_sorted_runs(runs)
        # positions payload: encode_blocks re-sorts by unsigned doc_id and
        # permutes the flat payload with it, so pre-merge run order is fine
        pos_flat = (np.concatenate(pos_l).astype(np.int64)
                    if positional and pos_l else None)
        if pos_flat is not None:
            # align the flat payload to the POST-merge posting order: runs
            # were concatenated unsorted; rebuild the unsorted posting order
            # (same concatenation) and let encode_blocks permute
            unsorted_tfs = np.concatenate([r[1] for r in runs])
            unsorted_ids = np.concatenate([r[0] for r in runs])
            from ipfs_search_spark.functions.codec import _element_permutation
            order = np.argsort(unsorted_ids.view(np.uint64), kind="stable")
            pos_flat = pos_flat[_element_permutation(
                unsorted_tfs.astype(np.int64), order)]
        blocks = encode_blocks(ids, tfs, dls, positions=pos_flat,
                               block_size=block_size)
        return pd.DataFrame({
            "term": [pdf["term"].iloc[0]],
            "shard": [int(pdf["shard"].iloc[0]) if per_shard else -1],
            "bucket": [int(pdf["bucket"].iloc[0])],
            "df_part": [int(ids.size)],
            "cf_part": [int(tfs.sum())],
            "blocks": [blocks],
        })

    return merge_group


COMPACTION_MANIFEST = "_compaction_manifest"
_STAGING_POSTINGS = "_compacting_postings"
_STAGING_TERM_STATS = "_compacting_term_stats"


def covered_segment_ids(io: TableIO) -> set:
    """The ids of the posting segments, after checking that every one has
    its per-segment stats rows in segment_term_stats and segment_doc_stats.
    Merged statistics are sums over those rows, so an uncovered segment (a
    legacy append, or a batch torn after its posting_segments append) would
    be silently undercounted: raise instead. A stats-only orphan (torn
    before that append) is harmless: its docs are in `documents` and have
    no postings yet. Three column-pruned segment_id scans."""
    def ids(table):
        if not io.exists(table):
            return set()
        return {r[0] for r in io.read(table)
                .select("segment_id").distinct().collect()}
    seg_ids = ids("posting_segments")
    if not (seg_ids <= ids("segment_term_stats")
            and seg_ids <= ids("segment_doc_stats")):
        raise ValueError(
            "a postings segment lacks its per-segment stats rows (legacy "
            "append?) — merged statistics would silently undercount; "
            "rebuild instead")
    return seg_ids


def compact_segments(io: TableIO) -> dict:
    """Fold streaming posting segments back into the base tables — the
    Lucene merge-down the reference gets from its OpenSearch backend's
    segment merges. posting_segments grows one segment per micro-batch
    (streaming/ingest_stream.py); compaction restores the from-scratch
    layout: ONE docid-sorted posting row per (term, shard), exact merged
    term_stats/index_stats by INTEGER ADDITION of the per-segment stats
    (the same math Searcher init proves at query time), and the segment
    tables dropped — a subsequent Searcher reads base tables only.

    Only (term, shard) cells that actually appear in a segment are
    re-encoded; untouched base rows pass through unchanged — at web scale
    segments are micro-batch-sized, so compaction cost tracks the NEW
    data, not the index size.

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

    Requires per-segment stats coverage (covered_segment_ids, the same
    gate Searcher init applies); raises ValueError on an uncovered segment
    rather than silently undercounting df/n_docs."""
    if io.exists(COMPACTION_MANIFEST):
        return _install_compaction(io)
    if not io.exists("posting_segments"):
        return {"segments_folded": 0}
    if not io.exists("index_stats"):
        raise ValueError(
            "compact_segments needs index_stats for the base layout "
            "parameters (n_shards/n_buckets/positional)")
    st = io.read("index_stats").collect()[0].asDict()
    if st.get("total_dl") is None:
        raise ValueError(
            "compact_segments needs the base total_dl (rebuild the base "
            "index, or compact via a full rebuild)")
    seg = io.read("posting_segments")
    seg_ids = covered_segment_ids(io)

    # phase 1 — stage merged postings: only segment-touched (term, shard)
    # cells re-encode, at the BASE index's block size (a divergent merge
    # block size would silently mix layouts while index_stats claims one)
    n_buckets = int(st["n_buckets"])
    block_size = int(st["block_size"])
    segp = seg.drop("segment_id")
    has_base = io.exists("postings")
    if has_base:
        base = io.read("postings")
        keys = segp.select("term", "shard").distinct()
        untouched = base.join(keys, ["term", "shard"], "left_anti")
        to_merge = base.join(keys, ["term", "shard"], "left_semi") \
            .unionByName(segp)
    else:
        untouched, to_merge = None, segp
    merged = to_merge.groupBy("term", "shard").applyInPandas(
        _make_run_merger(block_size, per_shard=True), POSTINGS_SCHEMA)
    newp = (untouched.unionByName(merged) if untouched is not None
            else merged)
    io.write(newp.repartition(n_buckets, "bucket")
             .sortWithinPartitions("term", "shard"),
             _STAGING_POSTINGS, partition_by=["bucket"])

    # stage merged term_stats (integer df/cf addition — bit-identical to
    # a from-scratch re-aggregation, same as Searcher's incremental path)
    seg_ts = io.read("segment_term_stats").drop("segment_id")
    ts = (io.read("term_stats").unionByName(seg_ts) if has_base
          else seg_ts)
    io.write(ts.groupBy("term").agg(
        F.first("bucket").alias("bucket"),
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf")).sortWithinPartitions("term"),
        _STAGING_TERM_STATS)

    srow = io.read("segment_doc_stats").agg(
        F.sum("n_docs").alias("n"), F.sum("total_dl").alias("dl")
    ).collect()[0]
    n_docs = int(st["n_docs"]) + int(srow["n"] or 0)
    total_dl = int(st["total_dl"]) + int(srow["dl"] or 0)
    # commit point: the manifest carries the full post-compaction
    # index_stats row
    io.write_rows(
        COMPACTION_MANIFEST,
        [(n_docs, float(total_dl) / n_docs if n_docs else 0.0,
          int(st["n_shards"]), n_buckets, int(st["block_size"]),
          bool(st["positional"]), total_dl, len(seg_ids))],
        "n_docs long, avgdl double, n_shards int, n_buckets int, "
        "block_size int, positional boolean, total_dl long, "
        "segments_folded long")
    return _install_compaction(io)


def _install_compaction(io: TableIO) -> dict:
    """Phase 2 of compact_segments: every step is an idempotent
    swap/overwrite/drop keyed off the manifest, so this completes a
    partially-installed compaction regardless of where a crash hit."""
    m = io.read(COMPACTION_MANIFEST).collect()[0].asDict()
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
    io.write_rows(
        "index_stats",
        [(int(m["n_docs"]), float(m["avgdl"]), int(m["n_shards"]),
          int(m["n_buckets"]), int(m["block_size"]),
          bool(m["positional"]), int(m["total_dl"]))],
        "n_docs long, avgdl double, n_shards int, n_buckets int, "
        "block_size int, positional boolean, total_dl long")
    for t in ("posting_segments", "segment_term_stats",
              "segment_doc_stats"):
        io.drop(t)
    io.drop(COMPACTION_MANIFEST)
    return {"segments_folded": int(m["segments_folded"]),
            "n_docs": int(m["n_docs"])}
