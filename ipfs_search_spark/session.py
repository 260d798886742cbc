"""SparkSession factory with scale-appropriate defaults.

Local tests run on local[N]; production is spark-submit --py-files on a
multi-executor cluster. All configs here are safe in both modes. AQE is on so
skewed term partitions get split at runtime (the salted-shuffle in
operators/index_build.py handles the pathological stopword case explicitly;
AQE covers the long tail).

Python daemon: where a worker can import it, `spark.python.daemon.module` is
the package's `_pydaemon`, which stops every Python task from re-reading the
worker's unchanged zip archives (about 116 ms per task on CPython 3.11; see
that module). The daemon imports its module before any `--py-files` archive
reaches the worker's path, so `_daemon_conf` sets it only for a local master
with the package loaded from a directory on the worker's path; spark-submit
with `--py-files`, and any cluster, keep Spark's stock `pyspark.daemon`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DAEMON_MODULE = "ipfs_search_spark._pydaemon"


def _daemon_conf(master: str, package_dir: str, cwd: str,
                 pythonpath: str) -> dict[str, str]:
    """`{"spark.python.daemon.module": _DAEMON_MODULE}` when a Python worker
    started from this driver can import it, else `{}` (Spark's stock
    daemon). That holds when the master is local (`local`, `local[...]`:
    workers start in the driver's cwd with its PYTHONPATH), the package at
    `package_dir` was loaded from a directory, not from a zip, and that
    directory's parent is `cwd` or a `pythonpath` entry (relative entries
    resolve against `cwd`)."""
    if master != "local" and not master.startswith("local["):
        return {}
    if not os.path.isfile(os.path.join(package_dir, "_pydaemon.py")):
        return {}
    roots = {os.path.normpath(os.path.join(cwd, p))
             for p in [cwd, *pythonpath.split(os.pathsep)] if p}
    if os.path.normpath(os.path.dirname(package_dir)) not in roots:
        return {}
    return {"spark.python.daemon.module": _DAEMON_MODULE}


def get_spark(
    app_name: str = "ipfs-search-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 8 MiB advisory target (default 64 MiB): AQE otherwise coalesces
        # the build's encode shuffle to ~1× the slot count, and with
        # Zipf-skewed (bucket, shard) cells those few fat tasks leave a
        # long straggler tail (measured: postings stage 36.8 s → 23.5 s at
        # local[8] from this alone). Finer targets keep ≥3-4 waves of
        # tasks per slot so uneven cells pack; same rule a 1000-executor
        # cluster needs — never let AQE collapse a skewed stage to ~#slots.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # Arrow everywhere: pandas UDFs are the only Python on the hot path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # 128 MiB scan splits — right-sized tasks at 100 TB too.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    package_dir = os.path.dirname(os.path.abspath(__file__))
    for k, v in {**_daemon_conf(master, package_dir, os.getcwd(),
                               os.environ.get("PYTHONPATH", "")),
                 **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()
