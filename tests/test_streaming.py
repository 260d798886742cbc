"""Structured Streaming execution of the sniffer semantics (real streaming
query via the file source, not just the batch analogue)."""

import os
import shutil
import tempfile

import pytest

from ipfs_search_spark.streaming.ingest_stream import sniffer_stream


@pytest.fixture()
def stream_dirs():
    src = tempfile.mkdtemp(prefix="isx-stream-src-")
    ckpt = tempfile.mkdtemp(prefix="isx-stream-ckpt-")
    yield src, ckpt
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_sniffer_stream_dedups_and_filters(spark, stream_dirs):
    src, ckpt = stream_dirs
    rows = [
        ("https://a.example/x", "2024-01-01 10:00:00"),
        ("https://a.example/x", "2024-01-01 10:20:00"),  # re-sighting: drop
        ("https://b.example/y", "2024-01-01 10:05:00"),
        ("not a url", "2024-01-01 10:06:00"),            # invalid: drop
    ]
    df = spark.createDataFrame(rows, "url string, ts string").selectExpr(
        "url", "cast(ts as timestamp) as warc_ts")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "batch0"))

    stream = (spark.readStream
              .schema("url string, warc_ts timestamp")
              .parquet(os.path.join(src, "batch0")))
    out = sniffer_stream(stream, dedup_window="1 hour")
    q = (out.writeStream.format("memory").queryName("sniffed")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["url"]) for r in spark.sql("SELECT * FROM sniffed").collect()}
    assert got == {"https://a.example/x", "https://b.example/y"}


def test_incremental_index_microbatch(spark, stream_dirs):
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.fixtures import pages_df
    from ipfs_search_spark.streaming.ingest_stream import (
        incremental_index_microbatch,
    )
    _, ckpt = stream_dirs
    io = TableIO(spark, tempfile.mkdtemp(prefix="isx-inc-"))
    handle = incremental_index_microbatch(io, n_shards=2, n_buckets=4)
    batch = pages_df(spark, n=50, seed=9).withColumnRenamed("text", "_gold") \
        .withColumnRenamed("_gold", "text")
    handle(batch, batch_id=0)
    assert io.read("documents").count() > 0
    seg = io.read("posting_segments")
    assert seg.filter("segment_id = 0").count() > 0
    handle(spark.createDataFrame([], batch.schema), batch_id=1)  # empty batch


def _planted_events(spark):
    rows = [
        # two 15-min buckets of 'view', one of 'click', a late straggler
        ("view", "2024-01-01 10:01:00", 1.0),
        ("view", "2024-01-01 10:07:00", 2.0),
        ("view", "2024-01-01 10:16:00", 4.0),
        ("click", "2024-01-01 10:02:00", 8.0),
        ("view", "2024-01-01 10:44:00", 16.0),
    ]
    return spark.createDataFrame(
        rows, "event_type string, ts string, value double").selectExpr(
        "event_type", "cast(ts as timestamp) as ts", "value")


def _flat_parquet(df, out_path, mtime):
    """Write df as ONE flat parquet file at out_path (the streaming file
    source does not recurse into subdirectories) with a pinned mtime (the
    source orders files by modification time)."""
    d = tempfile.mkdtemp(prefix="isx-flat-")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
    shutil.copyfile(os.path.join(d, part), out_path)
    os.utime(out_path, (mtime, mtime))
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("mode", [
    {"window": "15 minutes"},
    {"window": "30 minutes", "slide": "15 minutes"},
    {"session_gap": "10 minutes"},
], ids=["tumbling", "sliding", "session"])
def test_rate_windows_stream_matches_batch(spark, stream_dirs, mode):
    """T7 tumbling, sliding and session windows: the REAL streaming rollup
    (watermark + append mode) emits exactly the batch windowed groupBy,
    tumbling/sliding windows epoch-aligned."""
    from ipfs_search_spark.streaming.ingest_stream import rate_windows
    src, ckpt = stream_dirs
    ev = _planted_events(spark)
    _flat_parquet(ev, os.path.join(src, "batch-000.parquet"), 1000)
    # sentinel far in the future advances the watermark past every window
    sentinel = spark.createDataFrame(
        [("sentinel", "2024-02-01 00:00:00", 0.0)],
        "event_type string, ts string, value double").selectExpr(
        "event_type", "cast(ts as timestamp) as ts", "value")
    _flat_parquet(sentinel, os.path.join(src, "batch-001.parquet"), 2000)

    stream = (spark.readStream
              .schema("event_type string, ts timestamp, value double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = rate_windows(stream, "ts", keys=("event_type",),
                       value_col="value", **mode)
    q = (out.writeStream.format("memory").queryName("rates")
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {(str(r["window_start"]), str(r["window_end"]), r["event_type"],
            r["n_events"], r["sum_value"])
           for r in spark.table("rates").collect()
           if r["event_type"] != "sentinel"}
    spark.catalog.dropTempView("rates")
    want = {(str(r["window_start"]), str(r["window_end"]), r["event_type"],
             r["n_events"], r["sum_value"])
            for r in rate_windows(ev, "ts", keys=("event_type",),
                                  value_col="value", **mode).collect()}
    assert got == want and got
    if "window" in mode and "slide" not in mode:
        # epoch alignment + planted contents
        assert ("2024-01-01 10:00:00", "2024-01-01 10:15:00", "view", 2,
                3.0) in got
        assert ("2024-01-01 10:15:00", "2024-01-01 10:30:00", "view", 1,
                4.0) in got
        assert ("2024-01-01 10:00:00", "2024-01-01 10:15:00", "click", 1,
                8.0) in got


def test_rate_windows_sliding(spark):
    """Sliding windows: every event lands in window/slide overlapping
    windows, so total n_events is exactly doubled at 30min/15min."""
    from ipfs_search_spark.streaming.ingest_stream import rate_windows
    ev = _planted_events(spark)
    tumb = rate_windows(ev, "ts", window="30 minutes")
    slid = rate_windows(ev, "ts", window="30 minutes", slide="15 minutes")
    n = ev.count()
    assert sum(r["n_events"] for r in tumb.collect()) == n
    assert sum(r["n_events"] for r in slid.collect()) == 2 * n
    # a specific overlapped window
    rows = {(str(r["window_start"]), r["n_events"])
            for r in slid.collect()}
    assert ("2024-01-01 09:45:00", 3) in rows  # covers 10:01,10:07,10:02
    assert ("2024-01-01 10:00:00", 4) in rows  # + 10:16


def test_rate_windows_session(spark):
    """Session windows: gaps > session_gap split islands; extent is
    dynamic (first event .. last event + gap)."""
    from ipfs_search_spark.streaming.ingest_stream import rate_windows
    ev = _planted_events(spark).filter("event_type = 'view'")
    out = rate_windows(ev, "ts", session_gap="10 minutes").collect()
    got = {(str(r["window_start"]), str(r["window_end"]), r["n_events"])
           for r in out}
    # 10:01,10:07,10:16 chain (gaps 6m, 9m) then 10:44 alone
    assert got == {
        ("2024-01-01 10:01:00", "2024-01-01 10:26:00", 3),
        ("2024-01-01 10:44:00", "2024-01-01 10:54:00", 1),
    }
    import pytest as _pytest
    with _pytest.raises(ValueError):
        rate_windows(ev, "ts", slide="5 minutes", session_gap="10 minutes")


def test_replay_harness_times_out_and_cleans_up(spark, monkeypatch,
                                                tmp_path):
    """The streaming oracle entries' replay harness raises TimeoutError
    when the run has not finished (instead of handing a partial memory
    table to the value comparison), and removes its temp dirs whether the
    run finished or not."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.streaming.query import StreamingQuery

    import __spark_entry__ as entry_mod
    t0 = datetime.datetime(2024, 1, 1)
    pq.write_table(pa.table({
        "event_id": pa.array(range(20), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(hours=i) for i in range(20)],
                       pa.timestamp("us")),
        "user_id": pa.array([i % 3 for i in range(20)], pa.int64()),
        "event_type": ["view"] * 20,
        "value": [1.0] * 20,
        "props": [""] * 20,
    }), str(tmp_path / "events.parquet"))
    made = []
    real_mkdtemp = tempfile.mkdtemp

    def mkdtemp(*a, **kw):
        made.append(real_mkdtemp(*a, **kw))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    qname = entry_mod._replay_events(spark, str(tmp_path), "replay_ok",
                                     lambda stream: stream)
    assert spark.table(qname).count() == 20 + 1  # + the sentinel
    assert len(made) == 3 and not any(os.path.exists(d) for d in made)

    made.clear()
    monkeypatch.setattr(StreamingQuery, "awaitTermination",
                        lambda self, timeout=None: False)
    with pytest.raises(TimeoutError):
        entry_mod._replay_events(spark, str(tmp_path), "replay_slow",
                                 lambda stream: stream)
    assert len(made) == 3 and not any(os.path.exists(d) for d in made)
