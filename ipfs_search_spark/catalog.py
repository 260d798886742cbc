"""Storage abstraction: Iceberg in production, parquet in the sandbox.

The engine's durable artifacts (pages, documents, postings, index_stats,
checkpoints) are Iceberg tables in production — atomic commits give us the
exactly-once write semantics the reference gets from OpenSearch bulk-indexer
acks (reference: components/index/opensearch/index.go:59-118) and snapshot
export (reference: docs/snapshots.md). This container has no Iceberg runtime
jar, so `TableIO` falls back to plain parquet paths with write-then-rename
atomicity at the directory level; the calling code is identical either way.

Production setup (documented, not exercised here)::

    spark.sql.catalog.ix = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.ix.type = hadoop | hive | rest
    TableIO(spark, root="ix.search")   # table names become ix.search.<name>

Partitioning strategy at 100 TB:
- pages:     partitioned by days(warc_ts)  — time-pruned incremental builds
- documents: bucket(url, 1024)             — co-located MERGE/anti-join
- postings:  bucket(term, N_BUCKETS)       — query probe touches 1 bucket/term
- checkpoints: tiny, unpartitioned
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


ALIASES_TABLE = "_aliases"


class TableIO:
    """Read/write named engine tables on Iceberg or a parquet root dir.

    S12 — alias resolution: every READ surface (`read`, `exists`)
    resolves table aliases exactly like the reference resolves
    OpenSearch index aliases before routing bulk requests
    (/root/reference/components/index/opensearch/bulkgetter/
    bulkrequest.go:87-105, GET /<index_or_alias>/_alias). Aliases live
    in a tiny `_aliases` table; `set_aliases` replaces the WHOLE map in
    one atomic swap, mirroring the atomic multi-action `POST /_aliases`
    remove+add flip the reference's reindex procedure uses for
    zero-downtime migration (/root/reference/docs/indices/README.md:
    50-58). Deviations, both deliberate: writes are literal (writing
    through an alias raises — flips are explicit, so a write can never
    shadow an alias), and alias chains are rejected at set time (as in
    OpenSearch, aliases point only at concrete tables)."""

    # Iceberg alias-map staleness bound (seconds): the parquet fallback
    # re-validates on directory mtime per call; Iceberg has no cheap
    # probe, so cross-process alias flips become visible within this TTL
    ALIAS_TTL_S = 5.0

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.iceberg = "/" not in root and _iceberg_available(spark)
        self._aliases_cache: dict[str, str] | None = None
        self._aliases_mtime: int | None = None
        self._aliases_read_t: float = 0.0

    def _path(self, name: str) -> str:
        return f"{self.root}.{name}" if self.iceberg else os.path.join(self.root, name)

    # ---------------------------------------------------- aliases ----

    def _exists_concrete(self, name: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(self._path(name))
        p = self._path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    def aliases(self) -> dict[str, str]:
        """Current alias -> concrete-table map. Parquet fallback reads
        the tiny `_aliases` file driver-side with pyarrow and caches on
        the directory mtime (the atomic swap always changes it), so
        resolution costs one os.stat per read — never a Spark job."""
        if self.iceberg:
            # No cheap mtime probe on Iceberg, so the cache is bounded
            # by a short TTL instead: a flip committed by ANOTHER
            # process/session (the zero-downtime reindex scenario) is
            # visible within ALIAS_TTL_S, while steady-state resolution
            # stays job-free. Own writes invalidate immediately.
            import time
            now = time.monotonic()
            if (self._aliases_cache is None
                    or now - self._aliases_read_t > self.ALIAS_TTL_S):
                self._aliases_cache = (
                    {r["alias"]: r["target"] for r in
                     self.spark.read.table(
                         self._path(ALIASES_TABLE)).collect()}
                    if self._exists_concrete(ALIASES_TABLE) else {})
                self._aliases_read_t = now
            return self._aliases_cache
        p = self._path(ALIASES_TABLE)
        try:
            mt = os.stat(p).st_mtime_ns
        except OSError:
            self._aliases_cache, self._aliases_mtime = {}, None
            return {}
        if self._aliases_cache is None or mt != self._aliases_mtime:
            import pyarrow.parquet as pq
            m: dict[str, str] = {}
            for f in sorted(os.listdir(p)):
                if f.endswith(".parquet"):
                    t = pq.read_table(os.path.join(p, f))
                    m.update(zip(t["alias"].to_pylist(),
                                 t["target"].to_pylist()))
            self._aliases_cache, self._aliases_mtime = m, mt
        return self._aliases_cache

    def resolve(self, name: str) -> str:
        """Alias -> concrete table name; identity for concrete names
        (the reference's resolveAlias, bulkrequest.go:87-105)."""
        if name == ALIASES_TABLE:
            return name
        return self.aliases().get(name, name)

    def set_aliases(self, actions: dict[str, str | None]) -> None:
        """Apply alias adds/removes (None target = remove) in ONE atomic
        replacement of the alias map — the semantics of the reference's
        multi-action POST /_aliases (docs/indices/README.md:50-58): a
        reader sees either every action or none. Validates like
        OpenSearch: targets must be existing concrete tables (no
        chains), an alias may not shadow a concrete table."""
        new = dict(self.aliases())
        for alias, target in actions.items():
            if target is None:
                new.pop(alias, None)
                continue
            if alias == ALIASES_TABLE or self._exists_concrete(alias):
                raise ValueError(
                    f"alias {alias!r} would shadow a concrete table")
            if target in new or target == ALIASES_TABLE:
                raise ValueError(
                    f"alias chain rejected: {target!r} is itself an "
                    "alias")
            if not self._exists_concrete(target):
                raise ValueError(
                    f"alias target {target!r} does not exist")
            new[alias] = target
        self.write_rows(ALIASES_TABLE, sorted(new.items()),
                        "alias string, target string")
        self._aliases_cache = None

    def set_alias(self, alias: str, target: str) -> None:
        self.set_aliases({alias: target})

    def drop_alias(self, alias: str) -> None:
        self.set_aliases({alias: None})

    # ----------------------------------------------------- tables ----

    def exists(self, name: str) -> bool:
        return self._exists_concrete(self.resolve(name))

    def read(self, name: str) -> DataFrame:
        name = self.resolve(name)
        if self.iceberg:
            return self.spark.read.table(self._path(name))
        return self.spark.read.parquet(self._path(name))

    def _check_writable(self, name: str) -> None:
        if name != ALIASES_TABLE and name in self.aliases():
            raise ValueError(
                f"{name!r} is an alias — writes are literal; point the "
                "alias at a new concrete table with set_aliases instead")

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        self._check_writable(name)
        if self.iceberg:
            w = df.writeTo(self._path(name))
            if mode == "overwrite":
                w.createOrReplace()
            else:
                w.append()
            if name == ALIASES_TABLE:
                self._aliases_cache = None
            return
        dest = self._path(name)
        if mode == "overwrite":
            # stage + swap: the previous table survives a mid-write crash
            # and concurrent readers never see a half-written directory
            # (Iceberg's transactional commit is the production form)
            tmp = dest + ".tmp-" + uuid.uuid4().hex[:8]
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(tmp)
            self._swap_dir(tmp, dest)
        else:
            w = df.write.mode(mode)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(dest)
        if name == ALIASES_TABLE:
            self._aliases_cache = None

    _PA_TYPES = {"long": "int64", "bigint": "int64", "int": "int32",
                 "double": "float64", "boolean": "bool", "string": "string"}

    def write_rows(self, name: str, rows: list, schema: str) -> None:
        """Driver-side write for TINY tables (index_stats and friends: a
        handful of rows of scalars). The Spark path costs a full job —
        createDataFrame, scheduling, commit protocol — ~0.7 s of pure
        driver latency per build for one row of numbers; that fixed cost
        is exactly what caps strong-scaling efficiency at bench sizes. On
        the parquet fallback this writes the file directly with pyarrow,
        swapped in via _swap_dir (see its caveat on the brief no-dir
        window); Spark reads it identically. Iceberg keeps the
        transactional Spark path. `schema` is the same DDL string the
        Spark path would use."""
        self._check_writable(name)
        if self.iceberg:
            if name == ALIASES_TABLE:  # write() would re-check
                df = self.spark.createDataFrame(rows, schema)
                df.writeTo(self._path(name)).createOrReplace()
                self._aliases_cache = None
                return
            self.write(self.spark.createDataFrame(rows, schema), name)
            return
        import pyarrow as pa
        import pyarrow.parquet as pq
        fields = []
        for part in schema.split(","):
            col, typ = part.strip().rsplit(" ", 1)
            fields.append(pa.field(col, self._PA_TYPES[typ.lower()]))
        pa_schema = pa.schema(fields)
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        table = pa.table(
            {f.name: pa.array(list(c), type=f.type)
             for f, c in zip(pa_schema, cols)}, schema=pa_schema)
        dest = self._path(name)
        tmp = dest + ".tmp-" + uuid.uuid4().hex[:8]
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
        open(os.path.join(tmp, "_SUCCESS"), "a").close()
        self._swap_dir(tmp, dest)
        if name == ALIASES_TABLE:
            self._aliases_cache = None

    @staticmethod
    def _swap_dir(tmp: str, dest: str) -> None:
        """Replace `dest` with `tmp` via two renames. POSIX cannot
        atomically exchange two non-empty directories, so there is a
        microsecond window where `dest` does not exist (a concurrent
        reader listing it mid-swap fails and should retry) — but never a
        window where it holds MIXED old+new files, and a failure at any
        point restores the old directory instead of stranding it under a
        random .old- name. Iceberg's transactional commit replaces this
        entirely in production."""
        if not os.path.isdir(dest):
            os.rename(tmp, dest)
            return
        old = dest + ".old-" + uuid.uuid4().hex[:8]
        os.rename(dest, old)
        try:
            os.rename(tmp, dest)
        except OSError:
            os.rename(old, dest)  # restore — the swap never half-applies
            raise
        import shutil
        shutil.rmtree(old, ignore_errors=True)

    def drop(self, name: str) -> None:
        """Remove a table (no-op when absent). Parquet fallback: rename
        out of the root first so readers never see a half-deleted dir.
        Alias names raise — use drop_alias (dropping through an alias
        would silently destroy the target)."""
        if name in self.aliases():
            raise ValueError(f"{name!r} is an alias — use drop_alias")
        if self.iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._path(name)}")
            return
        p = self._path(name)
        if not os.path.isdir(p):
            return
        tomb = p + ".dropped-" + uuid.uuid4().hex[:8]
        os.rename(p, tomb)
        import shutil
        shutil.rmtree(tomb, ignore_errors=True)

    _WORK_DIR_MARKS = (".tmp-", ".staging-", ".old-", ".dropped-")

    def tables(self) -> list[str]:
        """Names of existing engine tables under this root. The engine's
        own working directories (.tmp-/.staging-/.old-/.dropped- suffixes
        from the swap/append/drop protocols) are never tables, even when
        a crash strands one with part files inside — otherwise a snapshot
        export would immortalize the orphan as a real table."""
        if self.iceberg:
            return [t.name for t in
                    self.spark.catalog.listTables(self.root)]
        if not os.path.isdir(self.root):
            return []
        return sorted(
            n for n in os.listdir(self.root)
            if not any(m in n for m in self._WORK_DIR_MARKS)
            and self.exists(n))

    def append_atomic(self, df: DataFrame, name: str) -> None:
        """Append with Iceberg's transactional commit in production. The
        parquet fallback stages the batch then moves files in — one
        os.rename per part file, which is NOT a single commit point for
        multi-file batches: a crash mid-loop leaves a prefix of the batch
        appended and the rest in a .staging- dir (excluded from tables()
        and snapshots). The engine tolerates this by ORDERING its append
        chains so a torn tail is detectable and harmless (a segment's
        one-file commit row lands last, after its postings, and segments
        carry their batch_id — see index_build.append_segment and
        checkpoints); exactly-once at this layer is Iceberg's job, not
        the fallback's."""
        self._check_writable(name)
        if self.iceberg:
            self.write(df, name, mode="append")
            return
        dest = self._path(name)
        staging = dest + ".staging-" + uuid.uuid4().hex[:8]
        df.write.mode("overwrite").parquet(staging)
        os.makedirs(dest, exist_ok=True)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(staging, f),
                    os.path.join(dest, uuid.uuid4().hex[:8] + "-" + f),
                )
        for f in os.listdir(staging):
            os.remove(os.path.join(staging, f))
        os.rmdir(staging)
        open(os.path.join(dest, "_SUCCESS"), "a").close()


# S15 — snapshot export/restore (the reference's OpenSearch snapshot/restore,
# /root/reference/docs/snapshots.md): a consistent copy of every index
# artifact plus a row-count manifest used to verify the restore. On Iceberg
# this is a metadata-level snapshot (tag + metadata copy — no data movement);
# the parquet fallback copies via DISTRIBUTED read/write jobs, so even the
# local path scales with executors rather than driver bandwidth.

SNAPSHOT_MANIFEST = "_snapshot_manifest"


def _partition_cols(io: TableIO, name: str) -> list[str]:
    """Hive-style partition columns of a parquet-fallback table (Iceberg
    carries its own partition spec in metadata). Walks ONE leaf path down,
    collecting every `k=` level — multi-column partitioning nests dirs
    (`a=1/b=2/part-*.parquet`), so stopping at the first level would
    snapshot/restore such a table with a truncated partition spec."""
    if io.iceberg:
        return []
    cols: list[str] = []
    p = io._path(name)
    while True:
        nxt = next((f for f in os.listdir(p)
                    if "=" in f and os.path.isdir(os.path.join(p, f))),
                   None)
        if nxt is None:
            return cols
        cols.append(nxt.split("=", 1)[0])
        p = os.path.join(p, nxt)


def export_snapshot(io: TableIO, dest_root: str) -> dict[str, int]:
    """Copy all tables under `io` to `dest_root` (partition layout
    preserved); returns {table: n_rows}. The manifest is written LAST — a
    snapshot without a manifest is incomplete by definition, which makes a
    torn export detectable."""
    dest = TableIO(io.spark, dest_root)
    manifest: list[tuple[str, int, str]] = []
    for name in io.tables():
        if name == SNAPSHOT_MANIFEST:
            continue
        parts = _partition_cols(io, name)
        dest.write(io.read(name), name, partition_by=parts or None)
        manifest.append((name, dest.read(name).count(),
                         ",".join(parts)))
    dest.write(
        io.spark.createDataFrame(
            manifest, "table string, n_rows long, partitioned_by string"),
        SNAPSHOT_MANIFEST)
    return {n: c for n, c, _ in manifest}


def restore_snapshot(src_root: str, io: TableIO) -> dict[str, int]:
    """Restore a snapshot into `io`, verifying every table's row count
    against the manifest (raises ValueError on mismatch or on a snapshot
    with no manifest — i.e. a torn export)."""
    src = TableIO(io.spark, src_root)
    if not src.exists(SNAPSHOT_MANIFEST):
        raise ValueError(f"no snapshot manifest under {src_root!r}")
    expected = {r["table"]: (int(r["n_rows"]), r["partitioned_by"])
                for r in src.read(SNAPSHOT_MANIFEST).collect()}
    restored: dict[str, int] = {}
    for name, (n_exp, parts) in sorted(expected.items()):
        if not src.exists(name):
            raise ValueError(f"snapshot table {name!r} missing")
        io.write(src.read(name), name,
                 partition_by=parts.split(",") if parts else None)
        n_got = io.read(name).count()
        if n_got != n_exp:
            raise ValueError(
                f"snapshot restore mismatch for {name!r}: "
                f"{n_got} rows vs manifest {n_exp}")
        restored[name] = n_got
    return restored
