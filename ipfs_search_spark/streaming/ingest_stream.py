"""Streaming ingest — the sniffer pipeline as Structured Streaming.

Reference dataflow (/root/reference/components/sniffer/sniffer.go:111-128):
DHT gossip → validity filter → 1h last-seen dedup (32768-entry in-memory map,
pruned on overflow) → publish to the work queue. The whole goroutine+channel
topology collapses into one streaming plan:

  readStream → filter(valid) → withWatermark(warc_ts, 1h)
             → dropDuplicatesWithinWatermark(url) → sink

The watermark IS the reference's map prune (state older than the window is
evicted by the engine); restart-on-error (sniffer.go:131-155) is the
checkpointed query restart; bounded channels/backpressure are micro-batch
sizing (maxOffsetsPerTrigger / maxFilesPerTrigger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ipfs_search_spark import BLOCK_SIZE, DEDUP_WINDOW

URL_VALID_RE = r"^https?://[^\s]+$"


def sniffer_stream(pages_stream: DataFrame,
                   dedup_window: str = DEDUP_WINDOW) -> DataFrame:
    """Apply the sniffer semantics to a streaming pages DataFrame.

    - validity filter ≈ CidFilter (/root/reference/components/sniffer/
      providerfilters/cidfilter.go:28-47): URL shape check here
    - dedup ≈ LastSeenFilter: dropDuplicatesWithinWatermark keeps the FIRST
      sighting per url inside the window and drops re-sightings — matching
      the reference, which suppresses re-crawls of anything seen < 1 h ago
    """
    valid = pages_stream.filter(
        F.col("url").rlike(URL_VALID_RE) & F.col("warc_ts").isNotNull())
    return (valid
            .withWatermark("warc_ts", dedup_window)
            .dropDuplicatesWithinWatermark(["url"]))


def rate_windows(df: DataFrame, time_col: str, *,
                 window: str = "15 minutes", slide: str | None = None,
                 session_gap: str | None = None,
                 watermark: str = "1 hour",
                 keys: tuple = (), value_col: str | None = None) -> DataFrame:
    """T7 — time-windowed throughput rollup: tumbling (default), sliding
    (`slide` < `window`), or session windows (`session_gap`, dynamic
    extent). The reference has no windowed operator of its own — its rates
    are OTel/Prometheus scrape-interval counters (instr/instr.go:34-45)
    and its index visibility advances in fixed 15-minute refresh buckets
    (docs/indices/files.json:4) — so this is the SURVEY §2 T7 row's
    documented Spark realization (time-bucketed rollups via `window()`),
    not a port.

    Accepts a batch DataFrame (windowed groupBy) or a streaming one
    (watermarked stateful aggregation, append mode: a window emits once
    the event-time watermark passes its end and its state is dropped — the
    same bounded-state contract as the sniffer dedup above). Streaming
    output equals the batch output for tumbling, sliding and session
    windows (tests/test_streaming.py; tumbling also through the
    q_crawl_rate streaming replay).
    Columns out: window_start, window_end, *keys, n_events[, sum_value].
    Spark aligns tumbling/sliding windows to the 1970 epoch, so a batch
    SQL oracle is `floor(epoch(ts)/W)*W` bucketing (session windows have
    no closed-form SQL bucket; they're covered by batch-parity tests).
    """
    if session_gap is not None and slide is not None:
        raise ValueError("session windows have a dynamic extent; "
                         "session_gap and slide are mutually exclusive")
    if session_gap is not None:
        w = F.session_window(F.col(time_col), session_gap)
    else:
        w = F.window(F.col(time_col), window, slide or window)
    src = df.withWatermark(time_col, watermark) if df.isStreaming else df
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("sum_value"))
    out_cols = ["n_events"] + (["sum_value"] if value_col else [])
    return (src.groupBy(w.alias("w"), *[F.col(k) for k in keys])
            .agg(*aggs)
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    *keys, *out_cols))


def incremental_index_microbatch(io, n_shards: int = 8, n_buckets: int = 64,
                                 positions: bool = False):
    """foreachBatch hook: each micro-batch of new pages is appended to the
    documents table and its postings are built and appended as a new
    segment, encoded at the base's block size and committed by its stats
    row (Lucene-style segment-per-flush; index_build.append_segment).
    compact_segments folds the segments back into the base tables. Returns
    a function suitable for writeStream.foreachBatch.

    `positions` must match the base index's positional flag: phrase queries
    decode positions across the base∪segments union and compaction merges
    the two, so a batch whose flag differs raises before anything is
    written."""
    from ipfs_search_spark.operators.index_build import (
        append_segment, build_postings, canonical_documents, doc_stats_sums,
        read_index_stats,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        st = read_index_stats(io)
        # segments MUST share the base index's layout parameters: the query
        # side routes per-doc rows (filter-allowed sets) by
        # pmod(xxhash64(doc_id), n_shards), which is only exact when every
        # postings row — base or segment — used the same S; and a posting
        # list is positional in every block or in none
        if st and (int(st["n_shards"]) != int(n_shards)
                   or int(st["n_buckets"]) != int(n_buckets)
                   or bool(st["positional"]) != bool(positions)):
            raise ValueError(
                f"segment layout mismatch: base index has "
                f"n_shards={st['n_shards']}, n_buckets="
                f"{st['n_buckets']}, positional={bool(st['positional'])}; "
                f"microbatch configured ({n_shards}, {n_buckets}, "
                f"positions={bool(positions)})")
        docs = canonical_documents(batch_df, extract=False)
        # new-item path (J2): only urls absent from the state enter the
        # segment — re-sightings of known docs are updates, not re-indexes
        # (/root/reference/components/crawler/update.go:141-160); this also
        # keeps doc sets disjoint across segments so segment-union querying
        # has exact global statistics.
        if io.exists("documents"):
            docs = docs.join(io.read("documents").select("url"),
                             "url", "left_anti")
        docs = docs.localCheckpoint(eager=True)
        n_docs, total_dl = doc_stats_sums(docs)
        if n_docs == 0:
            return
        io.append_atomic(docs, "documents")
        # the base's block size: block-max bounds stay as tight as
        # index_stats says before compaction re-encodes the segment
        block_size = int(st["block_size"]) if st else BLOCK_SIZE
        postings = build_postings(docs, n_shards=n_shards,
                                  n_buckets=n_buckets, block_size=block_size,
                                  positions=positions)
        append_segment(io, postings, batch_id, n_docs, total_dl, n_shards)

    return handle
