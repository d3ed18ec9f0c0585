"""Table layer (SURVEY.md §7 M1): one interface, two backends.

- ``ParquetBackend`` — plain parquet directories (always available; used in
  this sandbox where the Iceberg runtime jar is absent [measured,
  SURVEY.md §0.2]).
- ``IcebergBackend`` — activated when ``iceberg-spark-runtime`` is on the
  session classpath; identical schemas, ``writeTo(...).append()`` semantics,
  hidden-partitioning via table properties. The pipeline code never
  branches on the backend: it calls ``read``/``append``/``overwrite``.

At 100 TB the Iceberg path is the real one: file-level min/max pruning +
partition-spec evolution give partition pruning on (bucket, lang, date)
without rewriting the pipeline; the parquet path keeps local tests and the
DuckDB oracle hermetic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, types as T

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class CommitFailedException(RuntimeError):
    """Optimistic-concurrency conflict: the table's current snapshot moved
    between this writer's read and its commit (Iceberg's
    CommitFailedException). The write left no visible state — re-read the
    table and retry the operation on the new base."""


class TableBackend:
    """Minimal table interface used by all jobs."""

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        raise NotImplementedError

    def append(self, df: DataFrame, name: str) -> None:
        raise NotImplementedError

    def overwrite(self, df: DataFrame, name: str) -> None:
        raise NotImplementedError

    def overwrite_partitions(self, df: DataFrame, name: str,
                             partition_col: str) -> None:
        """Replace exactly the partitions present in ``df`` (idempotent
        re-processing unit for resumable runs)."""
        raise NotImplementedError

    def drop_partitions(self, spark: SparkSession, name: str,
                        partition_col: str, values: list[str]) -> None:
        """Remove the rows of the partitions ``values`` (a missing table or
        partition is a no-op), leaving a table that still reads, or none."""
        raise NotImplementedError

    def exists(self, spark: SparkSession, name: str) -> bool:
        raise NotImplementedError


class ParquetBackend(TableBackend):
    def __init__(self, root: str):
        self.root = root

    def _path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.parquet")

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self._path(name))

    def append(self, df: DataFrame, name: str) -> None:
        df.write.mode("append").parquet(self._path(name))

    def overwrite(self, df: DataFrame, name: str) -> None:
        df.write.mode("overwrite").parquet(self._path(name))

    def overwrite_partitions(self, df: DataFrame, name: str,
                             partition_col: str) -> None:
        # Dynamic partition overwrite: only directories for partition
        # values present in df are replaced.
        df.sparkSession.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic")
        (df.write.mode("overwrite").partitionBy(partition_col)
         .parquet(self._path(name)))

    def drop_partitions(self, spark: SparkSession, name: str,
                        partition_col: str, values: list[str]) -> None:
        import shutil
        from urllib.parse import unquote

        root, prefix = self._path(name), f"{partition_col}="
        if not os.path.isdir(root):
            return
        parts = [d for d in os.listdir(root) if d.startswith(prefix)]
        gone = [d for d in parts if unquote(d[len(prefix):]) in values]
        if len(gone) == len(parts):
            # a directory with no partition left has no schema to read
            shutil.rmtree(root)
            return
        for d in gone:
            shutil.rmtree(os.path.join(root, d))

    def exists(self, spark: SparkSession, name: str) -> bool:
        return os.path.exists(self._path(name))


class SnapshotParquetBackend(TableBackend):
    """Iceberg COMMIT SEMANTICS emulated on plain parquet — the table-
    format behaviors the absent runtime jar blocks us from exercising,
    reproduced with the same guarantees so they are testable here:

    - immutable data files: every commit writes to a fresh
      ``data/v{N}/`` directory; nothing is ever rewritten in place;
    - snapshot = JSON manifest (``manifests/v{N}.json``) listing the
      exact data files visible at that version (flat manifest — Iceberg
      uses an avro manifest TREE for 10^12-file scale; the commit model
      is identical);
    - atomic commit: the manifest is written to a temp file and
      ``os.replace``d, then the ``VERSION`` pointer is ``os.replace``d —
      readers resolve the pointer first, so they see the previous
      snapshot or the new one, never a partial write (a crash between
      the two steps leaves an unreferenced manifest, not a corrupt
      table);
    - time travel: ``read_version(spark, name, v)`` reads any retained
      snapshot; ``snapshots(name)`` lists them;
    - dynamic partition overwrite: replaces exactly the partition values
      present in the incoming frame, like Iceberg's
      ``overwritePartitions`` (the partition column is kept IN the data
      files; the ``__pv=`` directory layer is manifest bookkeeping only);
    - optimistic concurrency (r5, VERDICT r4 #5): every write records the
      base version it read; the commit CLAIMS version base+1 by
      atomically hard-linking its manifest into place (``os.link`` fails
      if the name exists — a filesystem compare-and-swap, the same
      rename-without-overwrite arbitration Iceberg's Hadoop catalog
      uses), and raises ``CommitFailedException`` when the pointer moved
      or another writer claimed the version first. Lost updates are
      impossible; the loser re-reads and retries. Each attempt writes to
      a unique ``data/v{N}-{token}/`` dir so two racing writers can
      never clobber each other's uncommitted files.
    """

    def __init__(self, root: str):
        self.root = root

    # -- layout ------------------------------------------------------------

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest(self, name: str, version: int) -> str:
        return os.path.join(self._dir(name), "manifests", f"v{version}.json")

    def _version_ptr(self, name: str) -> str:
        return os.path.join(self._dir(name), "VERSION")

    def current_version(self, name: str) -> int:
        try:
            with open(self._version_ptr(name)) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return 0

    def snapshots(self, name: str) -> list[int]:
        """COMMITTED snapshot versions only: a manifest file above the
        VERSION pointer is crash debris from a writer that died before
        its pointer flip — it was never a snapshot, must not be listed or
        served (its data dir is also what a retry legitimately clobbers).
        """
        mdir = os.path.join(self._dir(name), "manifests")
        if not os.path.isdir(mdir):
            return []
        current = self.current_version(name)
        return sorted(int(f[1:-5]) for f in os.listdir(mdir)
                      if f.startswith("v") and f.endswith(".json")
                      and int(f[1:-5]) <= current)

    def _load_manifest(self, name: str, version: int) -> dict:
        import json

        with open(self._manifest(name, version)) as fh:
            return json.load(fh)

    def _commit(self, name: str, entries: list[dict],
                schema_json: str | None = None,
                props: dict | None = None,
                expected_base: int | None = None) -> int:
        """Write manifest v(N+1) and flip the pointer, both atomically.
        The committed DataFrame's schema rides in the manifest so a
        ZERO-entry snapshot (overwrite with an empty frame, or an
        overwrite_partitions that replaces everything with nothing) stays
        readable as an empty scan — Iceberg semantics (ADVICE r3).

        ``expected_base``: the version this writer READ when it planned
        the commit (r5). If the pointer has moved since, the entries list
        was computed against a stale snapshot (lost update) — refuse with
        CommitFailedException. The manifest itself is claimed with
        ``os.link`` (fails if the name exists): of two racers at the same
        base, exactly one wins the version number; the other gets
        CommitFailedException and must replan. None = legacy single-writer
        call (streaming sink's commit_batch serializes externally)."""
        import json
        import tempfile

        current = self.current_version(name)
        if expected_base is not None and current != expected_base:
            raise CommitFailedException(
                f"table '{name}': base snapshot moved v{expected_base} -> "
                f"v{current} since this write was planned; re-read and retry")
        import time

        version = current + 1
        mdir = os.path.join(self._dir(name), "manifests")
        os.makedirs(mdir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=mdir, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump({"version": version, "entries": entries,
                       "schema": schema_json, "props": props or {},
                       # wall-clock commit time: the AS-OF axis for
                       # timestamp time travel (Iceberg snapshot
                       # timestamp-ms). Overridable for tests via
                       # CRAWSPARK_COMMIT_TS.
                       "committed_at": float(
                           os.environ.get("CRAWSPARK_COMMIT_TS",
                                          time.time()))}, fh)
        try:
            # CAS: hard-link refuses to overwrite — exactly one writer can
            # claim manifests/v{N}.json. (os.replace would let the second
            # racer silently clobber the winner's manifest.)
            os.link(tmp, self._manifest(name, version))
        except FileExistsError:
            raise CommitFailedException(
                f"table '{name}': version v{version} already claimed by a "
                f"concurrent writer (or crash debris — run "
                f"recover_failed_commit to clean an abandoned attempt)")
        finally:
            os.unlink(tmp)
        fd, tmp = tempfile.mkstemp(dir=self._dir(name), suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, self._version_ptr(name))
        return version

    def recover_failed_commit(self, name: str) -> list[int]:
        """Maintenance: drop manifests above the VERSION pointer (claimed
        by writers that died before their pointer flip) and their
        now-orphaned data dirs, so the version numbers become claimable
        again. Iceberg twin: cleanup of a failed commit's metadata file.
        Only safe when no writer is live on this table. Returns the
        removed manifest versions."""
        import shutil

        current = self.current_version(name)
        mdir = os.path.join(self._dir(name), "manifests")
        if not os.path.isdir(mdir):
            return []
        removed = []
        referenced: set[str] = set()
        for v in self.snapshots(name):
            for e in self._load_manifest(name, v)["entries"]:
                referenced.add(e["path"])
        for f in sorted(os.listdir(mdir)):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            v = int(f[1:-5])
            if v <= current:
                continue
            for e in self._load_manifest(name, v)["entries"]:
                if e["path"] not in referenced:
                    d = os.path.dirname(os.path.join(self.root, e["path"]))
                    shutil.rmtree(d, ignore_errors=True)
            os.remove(os.path.join(mdir, f))
            removed.append(v)
        return removed

    def _write_commit_files(self, df: DataFrame, name: str,
                            partition_col: str | None,
                            base: int | None = None) -> list[dict]:
        """Materialize df into a fresh immutable attempt directory and
        return its manifest entries. The dir name carries a random token
        (like Iceberg's UUID data-file names) so two writers racing from
        the same base version can never clobber each other's uncommitted
        files; an abandoned attempt leaves an unreferenced dir that
        recover_failed_commit / expire_snapshots can sweep."""
        import uuid

        if base is None:
            base = self.current_version(name)
        commit_dir = os.path.join(
            self._dir(name), "data", f"v{base + 1}-{uuid.uuid4().hex[:8]}")
        if partition_col is None:
            df.write.mode("overwrite").parquet(commit_dir)
        else:
            # duplicate the partition column into the __pv= layout dir so
            # data files keep the real column (individual-file reads need
            # no partition-path recovery)
            (df.withColumn("__pv", df[partition_col])
             .write.mode("overwrite").partitionBy("__pv")
             .parquet(commit_dir))
        entries: list[dict] = []
        for dirpath, _dirs, files in os.walk(commit_dir):
            part = None
            base = os.path.basename(dirpath)
            if base.startswith("__pv="):
                part = base[len("__pv="):]
            for f in sorted(files):
                if f.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(dirpath, f), self.root)
                    entries.append({"path": rel, "partition": part})
        return entries

    # -- TableBackend surface ----------------------------------------------

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return self.read_version(spark, name, self.current_version(name))

    def read_version(self, spark: SparkSession, name: str,
                     version: int) -> DataFrame:
        current = self.current_version(name)
        if not 1 <= version <= current:
            raise ValueError(
                f"{name}@v{version} is not a committed snapshot "
                f"(current={current}); uncommitted crash-debris manifests "
                f"are never served")
        manifest = self._load_manifest(name, version)
        paths = [os.path.join(self.root, e["path"])
                 for e in manifest["entries"]]
        if not paths:
            # Legitimately empty snapshot: serve an empty scan with the
            # committed schema, like Iceberg (ADVICE r3 — this raised
            # FileNotFoundError and made the table unreadable).
            import json

            schema_json = manifest.get("schema")
            if schema_json is None:
                raise FileNotFoundError(
                    f"{name}@v{version} has no data files and no recorded "
                    f"schema (pre-r4 manifest)")
            schema = T.StructType.fromJson(json.loads(schema_json))
            return local_frame(spark, [], schema)
        schema_json = manifest.get("schema")
        if schema_json is not None:
            # Iceberg-style schema evolution: the SNAPSHOT's recorded
            # schema governs the scan — data files from older commits
            # that predate an added column null-fill it; a column absent
            # from the snapshot schema is not served even if old files
            # carry it (drop-column semantics). Without an explicit
            # schema, spark.read.parquet would pick one file's footer
            # arbitrarily.
            import json

            return (spark.read
                    .schema(T.StructType.fromJson(json.loads(schema_json)))
                    .parquet(*paths))
        return spark.read.parquet(*paths)  # pre-r4 manifest (no schema)

    def read_as_of(self, spark: SparkSession, name: str,
                   ts: float) -> DataFrame:
        """Timestamp time travel (Iceberg ``TIMESTAMP AS OF``): read the
        newest snapshot committed at or before epoch-seconds ``ts``.
        Raises ValueError when the table has no snapshot that old."""
        best = None
        for v in self.snapshots(name):
            at = self._load_manifest(name, v).get("committed_at")
            if at is not None and at <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"{name}: no snapshot committed at or before {ts}")
        return self.read_version(spark, name, best)

    def _live_entries(self, name: str, version: int | None = None) -> list[dict]:
        v = self.current_version(name) if version is None else version
        return [] if v == 0 else self._load_manifest(name, v)["entries"]

    def table_props(self, name: str) -> dict:
        """Application properties recorded with the CURRENT committed
        snapshot (atomic with the data flip — the idempotence hook for
        streaming sinks: a replayed microbatch compares its batch id
        against the committed one). Iceberg twin: snapshot summary
        properties."""
        v = self.current_version(name)
        if v == 0:
            return {}
        return self._load_manifest(name, v).get("props") or {}

    def append(self, df: DataFrame, name: str,
               props: dict | None = None) -> None:
        base = self.current_version(name)
        prev = self._live_entries(name, base)
        if any(e["partition"] is not None for e in prev):
            # Unpartitioned entries are invisible to overwrite_partitions'
            # replaced-set matching — mixing the modes would later KEEP
            # stale rows of a replaced partition (silent duplication, the
            # opposite of Iceberg's semantics). Refuse loudly instead.
            raise ValueError(
                f"table '{name}' is partitioned; append would write rows "
                f"outside the partition bookkeeping — use "
                f"overwrite_partitions (or overwrite to reset)")
        new = self._write_commit_files(df, name, None, base)
        self._commit(name, prev + new, df.schema.json(), props,
                     expected_base=base)

    def overwrite(self, df: DataFrame, name: str,
                  props: dict | None = None) -> None:
        base = self.current_version(name)
        self._commit(name, self._write_commit_files(df, name, None, base),
                     df.schema.json(), props, expected_base=base)

    def overwrite_partitions(self, df: DataFrame, name: str,
                             partition_col: str) -> None:
        base = self.current_version(name)
        prev = self._live_entries(name, base)
        if any(e["partition"] is None for e in prev):
            raise ValueError(
                f"table '{name}' holds unpartitioned commits whose rows "
                f"cannot be matched to replaced partitions — silent "
                f"duplication instead of Iceberg overwritePartitions "
                f"semantics; overwrite the table or keep one write mode")
        new = self._write_commit_files(df, name, partition_col, base)
        replaced = {e["partition"] for e in new}
        kept = [e for e in prev if e["partition"] not in replaced]
        self._commit(name, kept + new, df.schema.json(), expected_base=base)

    def drop_partitions(self, spark: SparkSession, name: str,
                        partition_col: str, values: list[str]) -> None:
        from urllib.parse import unquote

        base = self.current_version(name)
        prev = self._live_entries(name, base)
        kept = [e for e in prev if unquote(e["partition"]) not in values]
        if len(kept) < len(prev):
            # a commit of no entries reads as an empty scan of its schema
            self._commit(name, kept,
                         self._load_manifest(name, base)["schema"],
                         expected_base=base)

    def exists(self, spark: SparkSession, name: str) -> bool:
        return self.current_version(name) > 0

    # -- table maintenance (Iceberg rewrite_data_files / expire_snapshots)

    def compact(self, spark: SparkSession, name: str,
                target_files: int = 1) -> int:
        """Rewrite the current snapshot's (unpartitioned) data into
        ``target_files`` files as a new commit — content-identical, small
        files folded away (Iceberg rewrite_data_files). Returns the new
        version. Streaming sinks make one commit per microbatch, so file
        counts grow linearly with ingestion until compaction runs."""
        live = self._live_entries(name)
        if any(e["partition"] is not None for e in live):
            raise ValueError(
                f"table '{name}' is partitioned; compact per partition "
                f"via overwrite_partitions instead")
        df = self.read(spark, name).coalesce(target_files)
        # carry the current snapshot's props forward: compaction must not
        # erase the streaming sink's batch-id idempotence marker (r4
        # review — a maintenance run between a commit and a checkpoint
        # write would otherwise reopen the duplicate-replay window)
        self.overwrite(df, name, props=self.table_props(name))
        return self.current_version(name)

    def expire_snapshots(self, name: str, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots and DELETE data
        files no longer referenced by any surviving snapshot (Iceberg
        expire_snapshots + remove_orphan_files). Returns expired version
        numbers. Time travel to expired versions stops working — that is
        the point: bounded storage under continuous commits."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = self.snapshots(name)
        expire = versions[:-keep_last]
        if not expire:
            return []
        keep = versions[-keep_last:]
        referenced = set()
        for v in keep:
            for e in self._load_manifest(name, v)["entries"]:
                referenced.add(e["path"])
        for v in expire:
            for e in self._load_manifest(name, v)["entries"]:
                p = e["path"]
                if p not in referenced:
                    try:
                        os.remove(os.path.join(self.root, p))
                    except FileNotFoundError:
                        pass
            os.remove(self._manifest(name, v))
        return expire


class IcebergBackend(TableBackend):
    """Iceberg catalog tables (``catalog.db.name``). Requires the runtime
    jar + a configured catalog; gated behind ``_iceberg_available``."""

    def __init__(self, namespace: str = "spark_catalog.default"):
        self.namespace = namespace

    def _tbl(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.format("iceberg").load(self._tbl(name))

    def append(self, df: DataFrame, name: str) -> None:
        df.writeTo(self._tbl(name)).append()

    def overwrite(self, df: DataFrame, name: str) -> None:
        df.writeTo(self._tbl(name)).createOrReplace()

    def overwrite_partitions(self, df: DataFrame, name: str,
                             partition_col: str) -> None:
        # Iceberg's dynamic overwrite is an atomic snapshot commit.
        df.writeTo(self._tbl(name)).overwritePartitions()

    def drop_partitions(self, spark: SparkSession, name: str,
                        partition_col: str, values: list[str]) -> None:
        if self.exists(spark, name):
            spark.sql(f"DELETE FROM {self._tbl(name)} WHERE {partition_col}"
                      f" IN ({', '.join(['?'] * len(values))})",
                      args=list(values))

    def exists(self, spark: SparkSession, name: str) -> bool:
        return spark.catalog.tableExists(self._tbl(name))


def get_backend(spark: SparkSession, root: str | None = None) -> TableBackend:
    """Iceberg when available and no local root forced, else parquet."""
    if root is None and _iceberg_available(spark):
        return IcebergBackend()
    return ParquetBackend(root or os.environ.get("CRAWSPARK_DATA", "/tmp/crawspark"))


def local_frame(spark: SparkSession, rows, schema: T.StructType | str
                ) -> DataFrame:
    """A frame of driver-built ``rows`` (tuples in ``schema`` order; a
    StructType or a DDL string) that never reaches a Python worker.

    The rows go to the JVM as one Arrow stream and become a
    ``LocalRelation`` (past Spark's Arrow local-relation threshold, a
    JVM-side RDD of the batches). ``createDataFrame(<python list>)``
    instead parallelizes the list into ``defaultParallelism`` slices and
    re-serializes each through a ``PythonRDD`` task, even an empty list,
    and those tasks' lambda never imports ``crawspark``, so
    ``crawspark.zipcache`` does not guard them. Naive datetimes are read
    in local time, as that path reads them."""
    import datetime

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema)
    # pyarrow takes a datetime's wall clock as the instant, tzinfo unread
    utc = datetime.timezone.utc
    cols = [[v if v is None else v.astimezone(utc) for v in c]
            if isinstance(f.dataType, T.TimestampType) else c
            for c, f in zip(cols, schema)]
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=a.type) for c, a in zip(cols, arrow)],
        schema=arrow), schema)


def read_testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided testdata table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
