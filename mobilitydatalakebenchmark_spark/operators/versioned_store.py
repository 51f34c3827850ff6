"""Manifest-committed versioned parquet store — atomic commits and time
travel on any filesystem Spark can reach.

The reference's one transactional store is Delta
(``stores/delta_lake.py``), whose jars this image does not ship
(operators/delta_store.py is the env-gated port). This module provides
the two properties queries actually rely on — atomically-visible commits
and readable history — with nothing but parquet and one manifest file
per version, which is exactly the trick Delta/Iceberg build on:

    <path>/data/v<k>/...            immutable files written by commit k
    <path>/_manifests/<k>.parquet   rows (version, dir): the dirs that
                                    CONSTITUTE version k

Readers resolve the latest (or a requested) manifest and read only the
dirs it lists. The manifest write is the commit point: a crash while
writing data files leaves orphan dirs no manifest references — invisible
to every reader, cleaned by ``vacuum()``. Appends reference the previous
manifest's dirs plus the new one; overwrites reference only the new one,
leaving history readable (time travel) until vacuumed.

Not a concurrency-control layer: one writer at a time (the reference's
ingest model). Delta's MERGE/optimistic locking remain the gated path.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class VersionedParquetStore:
    def __init__(self, path: str):
        self.path = path

    # -- internals -----------------------------------------------------

    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifests")

    def _versions(self) -> list[int]:
        d = self._manifest_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(d)
            if f.endswith(".parquet") and f.split(".")[0].isdigit()
        )

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _read_manifest_rows(
        self, spark: SparkSession, version: int
    ) -> list[tuple[str, str | None]]:
        """Manifest rows as (absolute dir, schema json or None). The
        schema column arrived in r11 (self-describing dirs — an EMPTY
        commit writes no part files, so readers need a declared schema);
        older manifests simply lack it and yield None."""
        rows = spark.read.parquet(
            os.path.join(self._manifest_dir(), f"{version}.parquet")
        ).collect()
        # manifests store dirs RELATIVE to the store root (so the store
        # is relocatable and vacuum's path compare cannot be fooled by
        # cwd/symlink variants); absolute dirs from older manifests pass
        # through unchanged
        out = []
        for r in sorted(rows, key=lambda r: r["version"]):
            d = r["dir"]
            sj = r["schema"] if "schema" in r.asDict() else None
            out.append(
                (d if os.path.isabs(d) else os.path.join(self.path, d), sj)
            )
        return out

    def _read_manifest(self, spark: SparkSession, version: int) -> list[str]:
        return [d for d, _ in self._read_manifest_rows(spark, version)]

    # -- API -----------------------------------------------------------

    def committed_txn_version(
        self, spark: SparkSession, txn: tuple[str, int]
    ) -> int | None:
        """The version a (run, epoch) transaction committed as, or None.
        ONE Spark job regardless of history length: all manifests are
        tiny one-row-group files under a single directory, read in one
        pass with the version recovered from ``input_file_name``.
        ``mergeSchema`` nulls the txn columns for any pre-txn manifest,
        which can then never match a real (run, epoch)."""
        from pyspark.sql import functions as F

        if not self._versions():
            return None
        df = (
            spark.read.option("recursiveFileLookup", "true")
            .option("mergeSchema", "true")
            .parquet(self._manifest_dir())
        )
        if "txn_run" not in df.columns:
            return None  # every manifest predates txn stamps
        row = (
            df.filter(
                (F.col("txn_run") == txn[0]) & (F.col("txn_epoch") == txn[1])
            )
            .select(
                F.regexp_extract(
                    F.input_file_name(), r"[/\\](\d+)\.parquet[/\\]", 1
                )
                .cast("int")
                .alias("v")
            )
            .agg(F.max("v").alias("v"))
            .first()
        )
        return None if row is None or row["v"] is None else int(row["v"])

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        txn: tuple[str, int] | None = None,
        partition_by: tuple[str, ...] = (),
    ) -> int:
        """Write ``df`` as a new version; returns the version number.
        ``mode='append'``: the new version is previous + this batch.
        ``mode='overwrite'``: the new version is this batch alone (old
        versions stay readable). The data write happens FIRST and the
        manifest write is the single commit point — a crash before the
        manifest leaves an unreferenced dir, not a torn version (the data
        dir write is an overwrite, so a retried commit reclaims its own
        orphan). ``txn=(run_id, epoch)`` makes the commit idempotent: a
        transaction already recorded in a manifest is skipped and its
        version returned — the streaming replay guard.

        ``partition_by`` lays THIS version's dir out hive-partitioned —
        PARTITION EVOLUTION, the Iceberg property Hive tables lack:
        each version owns its layout, so a table can adopt (or change)
        partitioning without rewriting history. Readers see one logical
        table either way (``snapshot`` unions per-dir scans by column
        name, and partition discovery restores the column from the dir
        names); filters on the partition column prune directories for
        the versions that carry the layout and fall back to row-group
        pushdown for the versions that don't — exactly the migration
        story at fleet scale: new data gets the better layout NOW, old
        data keeps serving until compaction rewrites it."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported commit mode {mode!r}")
        spark = df.sparkSession
        if txn is not None:
            seen = self.committed_txn_version(spark, txn)
            if seen is not None:
                return seen
        prev = self.latest_version()
        version = 0 if prev is None else prev + 1
        new_dir = os.path.join(self.path, "data", f"v{version}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(new_dir)
        # store dirs relative to the store root (relocatable; see
        # _read_manifest); anything outside the root keeps its absolute
        # form
        def _rel(d: str) -> str:
            real_root = os.path.realpath(self.path)
            real_d = os.path.realpath(d)
            if real_d.startswith(real_root + os.sep):
                return os.path.relpath(real_d, real_root)
            return d

        # each dir carries the schema its writer declared (hive layout
        # included, so the partition column keeps its written type):
        # that makes an EMPTY commit — partitionBy of zero rows writes
        # no part files — readable, and snapshot() never falls back to
        # footer inference for dirs that have it. Prior dirs keep the
        # schema recorded by THEIR commit.
        written_schema = df.schema
        if partition_by:
            # partitionBy moves the partition columns last in the laid-
            # out schema; declare the read schema in that order
            fields = [f for f in written_schema.fields
                      if f.name not in partition_by]
            fields += [written_schema[p] for p in partition_by]
            written_schema = StructType(fields)
        dirs: list[tuple[int, str, str | None]] = []
        if mode == "append" and prev is not None:
            dirs = [
                (i, _rel(d), sj)
                for i, (d, sj) in enumerate(
                    self._read_manifest_rows(spark, prev)
                )
            ]
        dirs.append((len(dirs), _rel(new_dir), written_schema.json()))
        run_id, epoch = txn if txn is not None else (None, None)
        from ..session import local_df

        local_df(
            spark,
            [(i, d, run_id, epoch, sj) for i, d, sj in dirs],
            "version int, dir string, txn_run string, txn_epoch long,"
            " schema string",
        ).coalesce(1).write.mode("error").parquet(
            os.path.join(self._manifest_dir(), f"{version}.parquet")
        )
        return version

    def snapshot(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """The table as of ``version`` (default: latest). Reads ONLY the
        dirs that manifest lists — orphans from crashed commits and data
        from later versions are invisible. ``merge_schema=True`` unions
        heterogeneous per-version schemas (schema evolution: columns a
        version never wrote read as NULL); off by default because the
        merged-footer scan costs one footer read per file.

        Each dir is scanned as its own root and the scans union BY NAME:
        per-root partition discovery restores hive-partitioned columns
        (partition evolution — see ``commit(partition_by=)``), where a
        single multi-root read would reject mixed layouts outright. A
        schema mismatch between versions without ``merge_schema=True``
        raises (unionByName), rather than silently sampling one footer."""
        if version is None:
            version = self.latest_version()
        if version is None:
            raise FileNotFoundError(f"no committed version under {self.path}")
        parts = []
        for d, schema_json in self._read_manifest_rows(spark, version):
            reader = spark.read
            if merge_schema:
                reader = reader.option("mergeSchema", "true")
            if schema_json is not None:
                # declare the schema the manifest recorded: no footer
                # read, and a dir from an EMPTY commit reads as empty
                reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
            parts.append(reader.parquet(d))
        out = parts[0]
        for nxt in parts[1:]:
            out = out.unionByName(nxt, allowMissingColumns=merge_schema)
        return out

    def data_files(
        self, spark: SparkSession, version: int | None = None
    ) -> list[str]:
        """The parquet part files a version's snapshot actually reads —
        the small-file metric ``compact`` exists to shrink."""
        if version is None:
            version = self.latest_version()
        files: list[str] = []
        for d in self._read_manifest(spark, version):
            for root, _dirs, names in os.walk(d):
                files.extend(
                    os.path.join(root, n)
                    for n in names
                    if n.endswith(".parquet") and not n.startswith("_")
                )
        return sorted(files)

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Bin the LATEST snapshot into ``target_files`` parquet files and
        commit the rewrite as a NEW version (logical rows unchanged) —
        small-file compaction, the standard lakehouse maintenance op: N
        append commits leave N dirs each fanned to the writer's
        parallelism, and every snapshot read then pays per-file open/
        footer cost. The compacted manifest lists ONLY the rewritten dir;
        older versions stay readable (time travel intact) until
        ``vacuum`` reclaims them, and the manifest write remains the
        single commit point — a crash mid-compact leaves an unreferenced
        dir, never a torn table. At fleet scale prefer ``target_files ≈
        snapshot_bytes / 512MB`` so row groups stay scan-friendly.

        The snapshot is read with ``merge_schema=True``: on a
        schema-evolved store a single-footer schema sample would
        silently drop columns that only some versions carry, and the
        compacted rewrite would commit the truncated table as the new
        latest version."""
        snap = self.snapshot(spark, merge_schema=True).coalesce(
            max(1, target_files)
        )
        return self.commit(snap, mode="overwrite")

    def history(self) -> list[int]:
        return self._versions()

    def vacuum(
        self, keep_latest: int = 1, spark: SparkSession | None = None
    ) -> list[str]:
        """Drop manifests older than the newest ``keep_latest`` versions
        and delete data dirs no surviving manifest references (including
        orphans from crashed commits). Returns the deleted dirs.

        Paths are compared by ``os.path.realpath`` on BOTH sides, so a
        store opened through a different relative path, a trailing
        slash, or a symlink cannot make referenced dirs look
        unreferenced (which would rmtree live versions)."""
        import shutil

        if spark is None:
            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "vacuum needs a SparkSession: pass spark= explicitly "
                    "(no active session found)"
                )
        vs = self._versions()
        keep = set(vs[-keep_latest:]) if vs else set()
        referenced: set[str] = set()
        for v in keep:
            referenced.update(
                os.path.realpath(d) for d in self._read_manifest(spark, v)
            )
        for v in vs:
            if v not in keep:  # Spark writes each manifest as a directory
                shutil.rmtree(os.path.join(self._manifest_dir(), f"{v}.parquet"))
        deleted = []
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                full = os.path.join(data_root, d)
                if os.path.realpath(full) not in referenced:
                    shutil.rmtree(full)
                    deleted.append(full)
        return deleted
