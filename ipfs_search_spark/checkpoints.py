"""Resumable per-partition checkpoints with lineage + throughput/skew metrics.

North-rule requirement: the index build must be resumable from per-partition
checkpoints, with lineage and metrics recorded per task. The reference's
analogue is AMQP ack/reject at-least-once delivery
(/root/reference/components/worker/worker.go:46-59) plus bulk-indexer flush
acks; on Spark the unit of restart is a partition of the work domain
(here: a bucket of terms), and the commit point is an atomic table append.

Model:
- a build is identified by build_id (caller-chosen, e.g. input snapshot id)
- the work domain is split into named partitions (e.g. bucket=0..63)
- run_partitioned() runs `fn(partition)` for every partition not yet recorded
  in the _checkpoints table, appending the partition's output atomically and
  THEN recording the checkpoint row (output append is idempotent-safe because
  a crash between append and record leaves a re-runnable partition whose
  rerun overwrites nothing — dedup happens at read time via the recorded
  partition list, the Iceberg-MERGE pattern in production).
- every checkpoint row carries lineage (build_id, partition, input fingerprint)
  and metrics (rows, wall seconds) → the throughput/skew table.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipfs_search_spark.catalog import TableIO

CHECKPOINT_TABLE = "_checkpoints"
_CKPT_SCHEMA = ("build_id string, partition string, status string, "
                "rows long, seconds double, lineage string, ts timestamp")


class CheckpointedBuild:
    def __init__(self, spark: SparkSession, io: TableIO, build_id: str):
        self.spark, self.io, self.build_id = spark, io, build_id

    def completed(self) -> set[str]:
        if not self.io.exists(CHECKPOINT_TABLE):
            return set()
        rows = (self.io.read(CHECKPOINT_TABLE)
                .filter((F.col("build_id") == self.build_id)
                        & (F.col("status") == "done"))
                .select("partition").collect())
        return {r["partition"] for r in rows}

    def _record(self, partition: str, rows: int, seconds: float,
                lineage: dict) -> None:
        df = self.spark.createDataFrame(
            [(self.build_id, partition, "done", rows, seconds,
              json.dumps(lineage, sort_keys=True))],
            "build_id string, partition string, status string, rows long, "
            "seconds double, lineage string",
        ).withColumn("ts", F.current_timestamp())
        self.io.append_atomic(df, CHECKPOINT_TABLE)

    def run_partitioned(self, partitions: list[str], fn,
                        output_table: str, lineage: dict | None = None
                        ) -> dict:
        """fn(partition_name) -> DataFrame for that partition's output.
        Skips partitions already checkpointed for this build_id; appends each
        remaining partition's output atomically, then checkpoints it.
        Returns {partition: {"rows": n, "seconds": s, "skipped": bool}}."""
        done = self.completed()
        report: dict = {}
        for p in partitions:
            if p in done:
                report[p] = {"skipped": True}
                continue
            t0 = time.monotonic()
            out = fn(p)
            # row count rides the append as an observed metric — a separate
            # count() would run the partition's whole job twice (and at
            # scale that job is a shuffle over a term-bucket slice)
            from pyspark.sql import Observation
            obs = Observation(f"ckpt_{self.build_id}_{p}_{time.monotonic_ns()}")
            self.io.append_atomic(
                out.observe(obs, F.count(F.lit(1)).alias("n")), output_table)
            n = int(obs.get["n"] or 0)
            secs = time.monotonic() - t0
            self._record(p, n, secs, {**(lineage or {}), "partition": p})
            report[p] = {"rows": n, "seconds": secs, "skipped": False}
        return report

    def metrics(self) -> DataFrame:
        """Per-partition throughput/skew table for this build."""
        ck = (self.io.read(CHECKPOINT_TABLE)
              .filter(F.col("build_id") == self.build_id))
        return ck.select(
            "partition", "rows", "seconds",
            F.round(F.col("rows") / F.greatest(F.col("seconds"), F.lit(1e-9)), 2)
            .alias("rows_per_sec"),
        )


def checkpointed_postings_build(spark: SparkSession, io: TableIO,
                                build_id: str, n_buckets: int,
                                n_shards: int = 8,
                                block_size: int = 128,
                                buckets_per_step: int = 8,
                                positions: bool = False) -> dict:
    """Resumable postings build over the term-bucket domain.

    Two checkpointed phases so a resume never repeats the expensive work:
    1. `tokens` — tokenize ALL documents ONCE, written partitioned by term
       bucket (this is the only pass over the raw text);
    2. per bucket-range steps — each reads ONLY its bucket slice (partition
       pruning on the tokens table) and runs the groupBy(term, shard) encode.
    At 100 TB each step is an independent, restartable job over a term-hash
    slice; a mid-build failure loses at most one step's shuffle."""
    from ipfs_search_spark.operators.index_build import (
        encode_postings, route_tokens,
    )
    from ipfs_search_spark.functions.tokenize import doc_tokens

    cb = CheckpointedBuild(spark, io, build_id)

    if f"tokens:{build_id}" not in {p for p in cb.completed()}:
        docs = io.read("documents").filter(F.col("status") == "ok")
        tokens = route_tokens(doc_tokens(docs, positions=positions),
                              n_shards, n_buckets)
        from pyspark.sql import Observation
        t0 = time.monotonic()
        obs = Observation(f"tokens_{build_id}_{time.monotonic_ns()}")
        io.write(tokens.observe(obs, F.count(F.lit(1)).alias("n")),
                 f"tokens_{build_id}", partition_by=["bucket"])
        n = int(obs.get["n"] or 0)
        cb._record(f"tokens:{build_id}", n, time.monotonic() - t0,
                   {"phase": "tokenize"})

    tokens = io.read(f"tokens_{build_id}")
    steps = [f"buckets_{lo}_{min(lo + buckets_per_step, n_buckets) - 1}"
             for lo in range(0, n_buckets, buckets_per_step)]

    def run_step(step: str) -> DataFrame:
        lo, hi = int(step.split("_")[1]), int(step.split("_")[2])
        slice_ = tokens.filter(F.col("bucket").between(lo, hi))
        return encode_postings(slice_, block_size)

    return cb.run_partitioned(steps, run_step, "postings_ckpt",
                              lineage={"build_id": build_id,
                                       "n_buckets": n_buckets})
