"""Manifest-committed versioned store: atomic visibility, time travel,
orphan invisibility, vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mobilitydatalakebenchmark_spark.operators.versioned_store import (
    VersionedParquetStore,
)

from .test_store_reads import _jobs


@pytest.fixture()
def batches(spark):
    return [
        spark.range(0, 10).withColumn("b", F.lit(i)) for i in range(3)
    ]


def test_append_history_and_time_travel(spark, batches, tmp_path):
    s = VersionedParquetStore(str(tmp_path / "vs"))
    for b in batches:
        s.commit(b)
    assert s.history() == [0, 1, 2]
    assert s.snapshot(spark, 0).count() == 10
    assert s.snapshot(spark, 1).count() == 20
    assert s.snapshot(spark).count() == 30
    assert {r.b for r in s.snapshot(spark, 1).select("b").distinct().collect()} == {0, 1}


def test_overwrite_resets_but_history_survives(spark, batches, tmp_path):
    s = VersionedParquetStore(str(tmp_path / "vs"))
    s.commit(batches[0])
    s.commit(batches[1])
    v = s.commit(batches[2], mode="overwrite")
    assert s.snapshot(spark, v).count() == 10
    assert {r.b for r in s.snapshot(spark, v).select("b").distinct().collect()} == {2}
    # pre-overwrite versions still readable
    assert s.snapshot(spark, 1).count() == 20


def test_orphan_dirs_are_invisible(spark, batches, tmp_path):
    """A crashed commit = data dir written, manifest missing. Readers at
    every version must not see it."""
    s = VersionedParquetStore(str(tmp_path / "vs"))
    s.commit(batches[0])
    orphan = tmp_path / "vs" / "data" / "v99"
    batches[1].write.parquet(str(orphan))
    assert s.latest_version() == 0
    assert s.snapshot(spark).count() == 10
    # the next commit numbers itself after the MANIFEST history, and the
    # orphan stays unreferenced
    s.commit(batches[2])
    assert s.snapshot(spark).count() == 20


def test_vacuum_drops_history_and_orphans(spark, batches, tmp_path):
    s = VersionedParquetStore(str(tmp_path / "vs"))
    for b in batches:
        s.commit(b)
    batches[0].write.parquet(str(tmp_path / "vs" / "data" / "v99"))  # orphan
    deleted = s.vacuum(keep_latest=1)
    # latest version still reads in full; orphan and nothing referenced
    # by it are gone
    assert s.history() == [2]
    assert s.snapshot(spark).count() == 30
    assert any(d.endswith("v99") for d in deleted)
    # append-mode manifests reference ALL prior dirs, so vacuum keeps them
    assert not any(d.endswith(("v0", "v1", "v2")) for d in deleted)


def test_txn_commit_is_idempotent(spark, batches, tmp_path):
    s = VersionedParquetStore(str(tmp_path / "vs"))
    v0 = s.commit(batches[0], txn=("runA", 0))
    v_again = s.commit(batches[0], txn=("runA", 0))  # replayed epoch
    assert v_again == v0
    assert s.history() == [0]
    v1 = s.commit(batches[1], txn=("runA", 1))  # genuinely new epoch
    assert v1 == 1
    assert s.snapshot(spark).count() == 20


def test_streamed_commits_one_version_per_epoch(spark, batches, tmp_path):
    from mobilitydatalakebenchmark_spark.streaming.versioned_stream import (
        stream_to_versioned_store,
    )

    landing = str(tmp_path / "landing")
    data = batches[0].unionByName(batches[1])
    data.repartition(2).write.parquet(landing)
    s = VersionedParquetStore(str(tmp_path / "vs"))

    def run(ckpt):
        stream = (
            spark.readStream.schema(data.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        stream_to_versioned_store(
            stream, s, str(tmp_path / ckpt)
        ).awaitTermination(120)

    run("ckpt")
    versions = s.history()
    assert len(versions) >= 1
    assert s.snapshot(spark).count() == data.count()

    # restarting the SAME checkpoint re-delivers nothing and, even if an
    # epoch were replayed, its txn stamp skips the commit
    run("ckpt")
    assert s.history() == versions
    assert s.snapshot(spark).count() == data.count()


def test_vacuum_safe_under_path_aliases(spark, batches, tmp_path):
    """A store opened through a different path spelling (symlink, '..'
    segments, trailing slash) must not mistake referenced dirs for
    orphans — realpath comparison on both sides."""
    store_dir = tmp_path / "vstore"
    s = VersionedParquetStore(str(store_dir))
    for b in batches:
        s.commit(b)

    link = tmp_path / "vlink"
    os.symlink(store_dir, link)
    os.makedirs(tmp_path / "x")
    aliases = [
        str(link),
        str(store_dir) + "/",
        str(tmp_path / "x" / ".." / "vstore"),
    ]
    for alias in aliases:
        s2 = VersionedParquetStore(alias)
        deleted = s2.vacuum(keep_latest=2)
        # only version 0's dir may go (history pruning), never v1/v2
        assert all(d.rstrip("/").endswith("v0") or "v0" not in d for d in deleted)
        assert s2.snapshot(spark).count() == 30
        assert sorted(s2.history()) == [1, 2]
        break  # vacuum(keep 2) already pruned; re-check reads via the rest
    for alias in aliases[1:]:
        s3 = VersionedParquetStore(alias)
        assert s3.snapshot(spark).count() == 30


def test_store_is_relocatable(spark, batches, tmp_path):
    """Manifests store dirs relative to the store root, so a moved store
    keeps every version readable."""
    import shutil

    src = tmp_path / "orig"
    s = VersionedParquetStore(str(src))
    for b in batches:
        s.commit(b)
    dst = tmp_path / "moved"
    shutil.move(str(src), str(dst))
    s2 = VersionedParquetStore(str(dst))
    assert s2.snapshot(spark).count() == 30
    assert s2.snapshot(spark, version=0).count() == 10


def test_vacuum_needs_no_session(spark, batches, tmp_path):
    """Vacuum works on the store's entries and dirs alone: no session
    argument, no active session looked up."""
    s = VersionedParquetStore(str(tmp_path / "v"))
    for b in batches[:2]:
        s.commit(b)
    # append-mode manifests reference every prior dir, so pruning v0's
    # manifest deletes no data — only the history entry goes
    assert s.vacuum(keep_latest=1) == []
    assert s.history() == [1]
    assert s.snapshot(spark).count() == 20


def test_metadata_runs_no_spark_job(spark, tmp_path):
    """Entries are written and resolved on the driver: a commit costs its
    data write alone, and nothing else the store does runs a job."""
    s = VersionedParquetStore(str(tmp_path / "vs"))
    batch = spark.range(0, 1000)
    assert _jobs(spark, lambda: s.commit(batch)) == 1
    assert _jobs(spark, lambda: s.commit(batch, txn=("run", 0))) == 1
    assert _jobs(spark, lambda: s.commit(batch, txn=("run", 0))) == 0  # replayed
    assert s.history() == [0, 1]
    for call in (
        lambda: s.snapshot(spark),
        lambda: s.committed_txn_version(("run", 0)),
        s.data_files,
        s.history,
        s.latest_version,
        lambda: s.vacuum(keep_latest=1),
    ):
        assert _jobs(spark, call) == 0


def test_crash_before_publish_keeps_previous_version(spark, batches, tmp_path, monkeypatch):
    """A commit killed between writing its entry and publishing it leaves
    a temp entry no reader counts: the previous version stays latest,
    readable and committable, and vacuum reclaims the temp entry."""
    s = VersionedParquetStore(str(tmp_path / "vs"))
    s.commit(batches[0])

    def killed(src, dst):
        raise OSError("killed before publish")

    with monkeypatch.context() as m:
        m.setattr(os, "link", killed)
        with pytest.raises(OSError, match="before publish"):
            s.commit(batches[1])
    manifests = tmp_path / "vs" / "_manifests"
    assert [n for n in os.listdir(manifests) if n.startswith(".")]
    assert s.latest_version() == 0
    assert s.snapshot(spark).count() == 10
    assert s.commit(batches[2]) == 1
    assert {r.b for r in s.snapshot(spark).select("b").distinct().collect()} == {0, 2}
    s.vacuum(keep_latest=2)
    assert sorted(os.listdir(manifests)) == ["0.json", "1.json"]


def test_compact_preserves_rows_and_time_travel(spark, batches, tmp_path):
    s = VersionedParquetStore(str(tmp_path / "vs"))
    for b in batches:
        s.commit(b)
    before = sorted(
        (r.id, r.b) for r in s.snapshot(spark).collect()
    )
    files_before = len(s.data_files())
    v = s.compact(spark, target_files=1)
    assert v == 3  # compaction is a NEW version
    # logical rows unchanged, file count shrank
    assert sorted((r.id, r.b) for r in s.snapshot(spark).collect()) == before
    assert len(s.data_files()) < files_before
    # pre-compaction versions still time-travel
    assert s.snapshot(spark, 1).count() == 20


def test_vacuum_after_compact_keeps_compacted_version(spark, batches, tmp_path):
    s = VersionedParquetStore(str(tmp_path / "vs"))
    for b in batches:
        s.commit(b)
    s.compact(spark, target_files=1)
    removed = s.vacuum(keep_latest=1)
    assert removed  # the three pre-compaction dirs are reclaimable
    assert s.snapshot(spark).count() == 30  # compacted version intact


def test_schema_evolution_merge_schema(spark, tmp_path):
    s = VersionedParquetStore(str(tmp_path / "vs"))
    s.commit(spark.range(0, 5))  # v0: id only
    s.commit(spark.range(5, 8).withColumn("extra", F.lit(7)))  # v1: +extra
    snap = s.snapshot(spark, merge_schema=True)
    assert set(snap.columns) == {"id", "extra"}
    got = {r.id: r.extra for r in snap.collect()}
    assert len(got) == 8
    assert all(got[i] is None for i in range(5))
    assert all(got[i] == 7 for i in range(5, 8))


def test_compact_preserves_evolved_columns(spark, tmp_path):
    # compact() must read the snapshot with mergeSchema: a single-footer
    # schema sample can drop columns only some versions carry, and the
    # truncated table would then COMMIT as the new latest version
    s = VersionedParquetStore(str(tmp_path / "vs"))
    s.commit(spark.range(0, 5))  # v0: id only
    s.commit(spark.range(5, 8).withColumn("extra", F.lit(7)))  # v1: +extra
    s.compact(spark, target_files=1)
    snap = s.snapshot(spark)
    assert set(snap.columns) == {"id", "extra"}
    got = {r.id: r.extra for r in snap.collect()}
    assert len(got) == 8
    assert all(got[i] is None for i in range(5))
    assert all(got[i] == 7 for i in range(5, 8))


def test_partition_evolution_roundtrip(spark, batches, tmp_path):
    # v0 unpartitioned, v1 hive-partitioned: one logical table, exact rows
    import os

    s = VersionedParquetStore(str(tmp_path / "vs"))
    b0 = batches[0].withColumn("status", F.lit("A"))
    b1 = batches[1].withColumn(
        "status", F.when(F.col("id") % 2 == 0, "A").otherwise("B")
    )
    s.commit(b0)
    s.commit(b1, partition_by=("status",))
    v1 = str(tmp_path / "vs" / "data" / "v1")
    assert any(e.startswith("status=") for e in os.listdir(v1))
    snap = s.snapshot(spark)
    assert set(snap.columns) == set(b0.columns)
    assert snap.count() == b0.count() + b1.count()
    got = sorted((r.id, r.b, r.status) for r in snap.collect())
    want = sorted(
        (r.id, r.b, r.status) for r in b0.collect()
    ) + sorted((r.id, r.b, r.status) for r in b1.collect())
    want.sort()
    assert got == want
    # filters on the partition column stay correct across layouts
    assert (
        snap.filter(F.col("status") == "B").count()
        == b1.filter(F.col("status") == "B").count()
    )
