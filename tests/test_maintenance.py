"""Compaction (fewer files, identical rows), retention expiry, and the
crash safety of the one directory commit, ``replace_dir``: of a store
that swaps itself (temporal), and of a flat store whose compaction
crashed before the next append or read."""

from __future__ import annotations

import os
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mobilitydatalakebenchmark_spark.functions.codecs import ts_bucket
from mobilitydatalakebenchmark_spark.operators import maintenance
from mobilitydatalakebenchmark_spark.operators.flat_store import (
    FlatParquetStore,
    explode_features,
    renest_documents,
)
from mobilitydatalakebenchmark_spark.operators.maintenance import (
    compact_partitions,
    expire_partitions,
)
from mobilitydatalakebenchmark_spark.operators.temporal_store import TemporalStore
from mobilitydatalakebenchmark_spark.schemas import TS_BUCKET_COL
from mobilitydatalakebenchmark_spark.sources.geojson import write_snapshot_dir
from mobilitydatalakebenchmark_spark.streaming.ingest import (
    read_snapshot_stream,
    stream_to_flat_store,
)


def _fragmented_table(spark, documents_df, path):
    flat = (
        explode_features(documents_df)
        .withColumn(TS_BUCKET_COL, ts_bucket(F.col("timestamp")))
        .repartition(40)  # deliberately shatter into many small files
    )
    flat.write.partitionBy(TS_BUCKET_COL).parquet(path)
    return flat


def test_compaction_reduces_files_preserves_rows(spark, tmp_path, documents_df):
    path = str(tmp_path / "frag")
    _fragmented_table(spark, documents_df, path)
    before = spark.read.parquet(path)
    before_counts = {
        tuple(r): 1 for r in before.groupBy("timestamp").count().collect()
    }
    stats = compact_partitions(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= stats["partitions"] * 2
    after = spark.read.parquet(path)
    after_counts = {
        tuple(r): 1 for r in after.groupBy("timestamp").count().collect()
    }
    assert after_counts == before_counts
    assert set(after.columns) == set(before.columns)


def test_expire_partitions(spark, tmp_path, documents_df, snapshots):
    path = str(tmp_path / "exp")
    _fragmented_table(spark, documents_df, path)
    buckets = sorted({ts[:13] for ts, _ in snapshots})
    assert len(buckets) >= 2  # generator spans an hour boundary
    cutoff = buckets[-1]
    deleted = expire_partitions(spark, path, cutoff_bucket=cutoff)
    assert deleted == buckets[:-1]
    remaining = spark.read.parquet(path)
    assert remaining.select(TS_BUCKET_COL).distinct().collect()[0][0] == cutoff
    n_last_bucket = sum(
        len(d["features"]) for ts, d in snapshots if ts[:13] == cutoff
    )
    assert remaining.count() == n_last_bucket


def test_expire_partitions_raises_on_a_failed_delete(spark, tmp_path, documents_df):
    """A delete that Hadoop reports as failed is not a deleted partition."""
    path = str(tmp_path / "exp")
    _fragmented_table(spark, documents_df, path)
    jvm, fs = maintenance._hadoop_fs(spark)
    with pytest.MonkeyPatch.context() as mp:
        faulty = _FaultyFS(fs, "delete", 1, "false")
        mp.setattr(maintenance, "_hadoop_fs", lambda _spark: (jvm, faulty))
        with pytest.raises(OSError):
            expire_partitions(spark, path, cutoff_bucket="9999")


def test_compaction_with_zorder_clusters_files(spark, tmp_path):
    """compact_partitions(zorder=...) preserves the row multiset AND
    tightens per-file spatial envelopes vs plain compaction (the min/max
    stats later bbox scans prune on)."""
    import random

    from mobilitydatalakebenchmark_spark.operators.maintenance import (
        compact_partitions,
    )

    rng = random.Random(29)
    rows = [
        (f"2024-03-01T{h:02d}", rng.uniform(4.25, 4.45), rng.uniform(50.79, 50.91))
        for h in (10, 11)
        for _ in range(8000)
    ]
    path = str(tmp_path / "zc")
    df = spark.createDataFrame(rows, "ts_bucket string, lon double, lat double")
    df.repartition(8).write.partitionBy("ts_bucket").parquet(path)

    def avg_file_area(p):
        d = spark.read.parquet(p).withColumn(
            "f", F.input_file_name()
        )
        stats = (
            d.groupBy("f")
            .agg(
                (F.max("lon") - F.min("lon")).alias("w"),
                (F.max("lat") - F.min("lat")).alias("h"),
            )
            .agg(F.avg(F.col("w") * F.col("h")))
            .collect()
        )
        return stats[0][0]

    plain_path = str(tmp_path / "plain")
    spark.read.parquet(path).write.partitionBy("ts_bucket").parquet(plain_path)

    before = sorted(
        map(tuple, spark.read.parquet(path).select("lon", "lat").collect())
    )
    # small target -> several files per partition, each z-clustered
    compact_partitions(
        spark,
        path,
        target_file_bytes=16 * 1024,
        zorder=("lon", "lat", (4.25, 4.45), (50.79, 50.91)),
    )
    after = sorted(
        map(tuple, spark.read.parquet(path).select("lon", "lat").collect())
    )
    assert after == before
    # each file covers one contiguous z block; with ~16 files per bucket
    # the average file bbox must be well under the full-extent files the
    # plain rewrite produces (ragged z-boundaries keep this short of the
    # ideal 1/F, hence the conservative 1/3 bound)
    assert avg_file_area(path) < avg_file_area(plain_path) / 3


# snapshot indices: the stored state, the batch whose append crashes and
# the batch appended after the crash (none of them the empty snapshot or
# the one with a duplicate uuid, so every uuid set reads back exactly)
_OLD, _BATCH, _NEXT = (0, 1), (3, 4), (6,)


class _Crash(Exception):
    pass


class _FaultyFS:
    """The real Hadoop FileSystem, except that the ``nth`` call of ``op``
    fails: it raises before doing the call, or does it and then raises,
    or returns False without doing it."""

    def __init__(self, fs, op: str, nth: int, mode: str):
        self._fs, self._op, self._nth, self._mode = fs, op, nth, mode
        self._calls = 0

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def _call(self, name, *args):
        call = getattr(self._fs, name)
        if name == self._op:
            self._calls += 1
            if self._calls == self._nth:
                if self._mode == "false":
                    return False
                if self._mode == "after":
                    call(*args)
                raise _Crash(f"{name} #{self._nth} {self._mode}")
        return call(*args)

    def rename(self, *args):
        return self._call("rename", *args)

    def delete(self, *args):
        return self._call("delete", *args)


def _docs(documents_df, indices, snapshots):
    return documents_df.filter(
        F.col("timestamp").isin([snapshots[i][0] for i in indices])
    )


def _sizes(spark, store):
    rows = store.scan(spark).select("uuid", F.size("distance")).collect()
    return dict(map(tuple, rows))


@pytest.fixture(scope="module")
def one_shot_sizes(spark, tmp_path_factory, documents_df, snapshots):
    """Per-uuid instant counts of a one-shot write of each state the
    crashed store can be in, plus the batch appended after the crash."""
    out = {}
    for state, indices in (("old", _OLD), ("new", _OLD + _BATCH)):
        store = TemporalStore(str(tmp_path_factory.mktemp(state) / "t"))
        store.write(_docs(documents_df, indices + _NEXT, snapshots))
        out[state] = _sizes(spark, store)
    return out


# (op, nth call, mode) -> the state a reader sees after the crash. The
# swap's FS calls in order: rename dst aside, rename pending in, delete
# the aside.
_FAULTS = {
    "after_pending_write": (("rename", 1, "before"), "old"),
    "after_rename_aside": (("rename", 1, "after"), "new"),
    "after_rename_in": (("rename", 2, "after"), "new"),
    "before_delete_aside": (("delete", 1, "before"), "new"),
    "rename_aside_returns_false": (("rename", 1, "false"), "old"),
    "rename_in_returns_false": (("rename", 2, "false"), "new"),
    "delete_aside_returns_false": (("delete", 1, "false"), "new"),
}


@pytest.mark.parametrize("fault", list(_FAULTS))
def test_replace_dir_survives_a_crash_at_every_step(
    spark, tmp_path, documents_df, snapshots, one_shot_sizes, fault
):
    (op, nth, mode), state = _FAULTS[fault]
    store = TemporalStore(str(tmp_path / "t"))
    store.write(_docs(documents_df, _OLD, snapshots))
    jvm, fs = maintenance._hadoop_fs(spark)
    faulty = _FaultyFS(fs, op, nth, mode)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(maintenance, "_hadoop_fs", lambda _spark: (jvm, faulty))
        with pytest.raises(OSError if mode == "false" else _Crash):
            store.append_batch(spark, _docs(documents_df, _BATCH, snapshots))

    # every snapshot of exactly one state reads back
    stamps = [snapshots[i][0] for i in _OLD + _BATCH]
    rows = reduce(
        DataFrame.unionByName,
        [store.get_document(spark, ts) for ts in stamps],
    ).collect()
    got = {
        r["timestamp"]: sorted(f["properties"]["uuid"] for f in r["data"]["features"])
        for r in rows
    }
    want_indices = _OLD if state == "old" else _OLD + _BATCH
    want = {
        snapshots[i][0]: sorted(f["properties"]["uuid"] for f in snapshots[i][1]["features"])
        for i in want_indices
    }
    assert got == want

    # the store keeps working: a following append merges like a one-shot write
    store.append_batch(spark, _docs(documents_df, _NEXT, snapshots))
    assert _sizes(spark, store) == one_shot_sizes[state]
    # nothing left beside or inside the store
    assert os.listdir(tmp_path) == ["t"]
    assert not [e for e in os.scandir(tmp_path / "t") if e.is_dir()]


def _crash_compaction(spark, path, fault):
    """``compact_partitions(path)`` with the swap's FS call of ``fault``
    failing."""
    (op, nth, mode), _state = _FAULTS[fault]
    jvm, fs = maintenance._hadoop_fs(spark)
    faulty = _FaultyFS(fs, op, nth, mode)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(maintenance, "_hadoop_fs", lambda _spark: (jvm, faulty))
        with pytest.raises(OSError if mode == "false" else _Crash):
            compact_partitions(spark, path)


@pytest.fixture(params=list(_FAULTS))
def crashed_flat(spark, tmp_path, documents_df, snapshots, request):
    """A flat store of two writes whose compaction crashed at each swap
    step. Compaction keeps the rows, so the old and the compacted state
    hold the same snapshots."""
    store = FlatParquetStore(str(tmp_path / "flat"))
    store.write(_docs(documents_df, _OLD, snapshots))
    store.write(_docs(documents_df, _BATCH, snapshots), mode="append")
    _crash_compaction(spark, store.path, request.param)
    return store


def _stored(store) -> dict[str, list[str]]:
    """Every snapshot the flat store holds -> its sorted uuids."""
    rows = renest_documents(store.scan()).collect()
    return {
        r["timestamp"]: sorted(f["properties"]["uuid"] for f in r["data"]["features"])
        for r in rows
    }


def _generated(snapshots, indices) -> dict[str, list[str]]:
    return {
        snapshots[i][0]: sorted(f["properties"]["uuid"] for f in snapshots[i][1]["features"])
        for i in indices
    }


def _leftovers(root) -> list[str]:
    return [n for n in os.listdir(root) if n.endswith(("__pending", "__replaced"))]


def test_read_after_crashed_compaction(crashed_flat, snapshots):
    """A read finishes a cut-short swap: it sees the old or the compacted
    table, never a missing one."""
    assert _stored(crashed_flat) == _generated(snapshots, _OLD + _BATCH)


def test_append_after_crashed_compaction(tmp_path, crashed_flat, documents_df, snapshots):
    """An append recovers the table before it writes, so it lands beside
    the stored snapshots instead of in a new table the next recovery
    would keep; and it drops a rewrite that never swapped in."""
    crashed_flat.write(_docs(documents_df, _NEXT, snapshots), mode="append")
    assert _stored(crashed_flat) == _generated(snapshots, _OLD + _BATCH + _NEXT)
    assert _leftovers(tmp_path) == []


def test_stream_batch_after_crashed_compaction(spark, tmp_path, crashed_flat, snapshots):
    """A streamed batch replaying one stored snapshot and bringing one
    new one: the novelty anti-join sees the recovered table, so the
    replay adds nothing and the new snapshot lands beside the old ones."""
    source = str(tmp_path / "source")
    write_snapshot_dir([snapshots[i] for i in _BATCH[-1:] + _NEXT], source)
    query = stream_to_flat_store(
        read_snapshot_stream(spark, source), crashed_flat.path, str(tmp_path / "ckpt")
    )
    assert query.awaitTermination(120)
    assert _stored(crashed_flat) == _generated(snapshots, _OLD + _BATCH + _NEXT)
    assert _leftovers(tmp_path) == []
