"""Versioned parquet store — atomic commits and time travel from one JSON
commit entry per version.

The reference's one transactional store is Delta
(``stores/delta_lake.py``: append plus filtered scan). This module gives
the two properties queries rely on — atomically visible commits and
readable history — with plain parquet and a commit log, the trick
Delta/Iceberg build on:

    <path>/data/v<k>/...         immutable files written by commit k
    <path>/_manifests/<k>.json   {"dirs": [{"dir", "schema"}], "txn"}:
                                 the dirs (relative to <path>) that
                                 CONSTITUTE version k, each with the
                                 schema its writer declared, and the
                                 (run, epoch) that committed it or null

The metadata lives on the local filesystem and is read and written on the
driver with ``os``: no version is committed or resolved by a Spark job.
An entry is written to a hidden temp name, fsynced, and published to
``<k>.json`` by an exclusive hard link; that publish is the commit point.
A crash before it leaves a temp entry no reader lists and a data dir no
entry references — both invisible, both reclaimed by ``vacuum()``.
Appends reference the previous entry's dirs plus the new one; overwrites
reference only the new one, leaving history readable (time travel) until
vacuumed.

Not a concurrency-control layer: one writer at a time (the reference's
ingest model).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

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
            int(stem)
            for stem, ext in map(os.path.splitext, os.listdir(d))
            if ext == ".json" and stem.isdigit()
        )

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _entry(self, version: int) -> dict:
        with open(os.path.join(self._manifest_dir(), f"{version}.json")) as f:
            return json.load(f)

    def _publish(self, version: int, entry: dict) -> None:
        """Write ``entry`` durably under a hidden temp name, then link it
        to ``<version>.json``: the link is the commit point, and it fails
        if the version already exists."""
        d = self._manifest_dir()
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{version}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "x") as f:
            json.dump(entry, f)
            f.flush()
            os.fsync(f.fileno())
        os.link(tmp, os.path.join(d, f"{version}.json"))
        os.unlink(tmp)
        dir_fd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)

    def _dirs(self, version: int) -> list[str]:
        return [os.path.join(self.path, e["dir"]) for e in self._entry(version)["dirs"]]

    # -- API -----------------------------------------------------------

    def committed_txn_version(self, txn: tuple[str, int]) -> int | None:
        """The version a (run, epoch) transaction committed as, or None."""
        for v in reversed(self._versions()):
            if self._entry(v)["txn"] == list(txn):
                return v
        return None

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
        entry's publish is the single commit point — a crash before it
        leaves an unreferenced dir, not a torn version (the data dir
        write is an overwrite, so a retried commit reclaims its own
        orphan). ``txn=(run_id, epoch)`` makes the commit idempotent: a
        transaction already recorded in an entry is skipped and its
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
        if txn is not None:
            seen = self.committed_txn_version(txn)
            if seen is not None:
                return seen
        prev = self.latest_version()
        version = 0 if prev is None else prev + 1
        new_dir = os.path.join("data", f"v{version}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self.path, new_dir))
        # each dir carries the schema its writer declared (hive layout
        # included, so the partition column keeps its written type):
        # that makes an EMPTY commit — partitionBy of zero rows writes
        # no part files — readable, and snapshot() never infers a schema
        # from footers. Prior dirs keep the schema recorded by THEIR
        # commit.
        written_schema = df.schema
        if partition_by:
            # partitionBy moves the partition columns last in the laid-
            # out schema; declare the read schema in that order
            fields = [f for f in written_schema.fields
                      if f.name not in partition_by]
            fields += [written_schema[p] for p in partition_by]
            written_schema = StructType(fields)
        dirs = self._entry(prev)["dirs"] if mode == "append" and prev is not None else []
        dirs.append({"dir": new_dir, "schema": written_schema.jsonValue()})
        self._publish(
            version, {"dirs": dirs, "txn": None if txn is None else list(txn)}
        )
        return version

    def snapshot(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """The table as of ``version`` (default: latest). Reads ONLY the
        dirs that version's entry lists — orphans from crashed commits
        and data from later versions are invisible. ``merge_schema=True``
        unions heterogeneous per-version schemas (schema evolution:
        columns a version never wrote read as NULL); without it a schema
        mismatch between versions raises (unionByName) rather than
        silently dropping columns.

        Each dir is scanned as its own root with the schema its entry
        declares, and the scans union BY NAME: per-root partition
        discovery restores hive-partitioned columns (partition
        evolution — see ``commit(partition_by=)``), where a single
        multi-root read would reject mixed layouts outright."""
        if version is None:
            version = self.latest_version()
        if version is None:
            raise FileNotFoundError(f"no committed version under {self.path}")
        parts = [
            spark.read.schema(StructType.fromJson(e["schema"])).parquet(
                os.path.join(self.path, e["dir"])
            )
            for e in self._entry(version)["dirs"]
        ]
        out = parts[0]
        for nxt in parts[1:]:
            out = out.unionByName(nxt, allowMissingColumns=merge_schema)
        return out

    def data_files(self, version: int | None = None) -> list[str]:
        """The parquet part files a version's snapshot actually reads —
        the small-file metric ``compact`` exists to shrink."""
        if version is None:
            version = self.latest_version()
        files: list[str] = []
        for d in self._dirs(version):
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
        footer cost. The compacted entry lists ONLY the rewritten dir;
        older versions stay readable (time travel intact) until
        ``vacuum`` reclaims them, and the entry's publish remains the
        single commit point — a crash mid-compact leaves an unreferenced
        dir, never a torn table. At fleet scale prefer ``target_files ≈
        snapshot_bytes / 512MB`` so row groups stay scan-friendly.

        The snapshot is read with ``merge_schema=True``: on a
        schema-evolved store the union must keep columns that only some
        versions carry, or the compacted rewrite would commit the
        truncated table as the new latest version."""
        snap = self.snapshot(spark, merge_schema=True).coalesce(
            max(1, target_files)
        )
        return self.commit(snap, mode="overwrite")

    def history(self) -> list[int]:
        return self._versions()

    def vacuum(self, keep_latest: int = 1) -> list[str]:
        """Drop entries older than the newest ``keep_latest`` versions,
        temp entries of crashed commits, and data dirs no surviving entry
        references (including orphans from crashed commits). Returns the
        deleted dirs.

        Paths are compared by ``os.path.realpath`` on BOTH sides, so a
        store opened through a different relative path, a trailing
        slash, or a symlink cannot make referenced dirs look
        unreferenced (which would rmtree live versions)."""
        keep = self._versions()[-keep_latest:]
        referenced = {
            os.path.realpath(d) for v in keep for d in self._dirs(v)
        }
        kept_entries = {f"{v}.json" for v in keep}
        if os.path.isdir(self._manifest_dir()):
            for name in os.listdir(self._manifest_dir()):
                if name not in kept_entries:
                    os.remove(os.path.join(self._manifest_dir(), name))
        deleted = []
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                full = os.path.join(data_root, d)
                if os.path.realpath(full) not in referenced:
                    shutil.rmtree(full)
                    deleted.append(full)
        return deleted
