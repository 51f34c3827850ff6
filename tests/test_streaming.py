"""Streaming ingest parity: file-source replay of the snapshot stream ->
foreachBatch append -> same round-trip invariant as the batch store."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mobilitydatalakebenchmark_spark.operators.flat_store import (
    FlatParquetStore,
    renest_documents,
)
from mobilitydatalakebenchmark_spark.operators.maintenance import count_data_files
from mobilitydatalakebenchmark_spark.sources.geojson import write_snapshot_dir
from mobilitydatalakebenchmark_spark.streaming.ingest import (
    read_snapshot_stream,
    stream_to_flat_store,
    windowed_vehicle_counts,
)

from .test_roundtrip_flat import _canon_features
from .test_run_identity import drop_last_commit


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory, snapshots):
    base = tmp_path_factory.mktemp("stream")
    data_dir = str(base / "data")
    write_snapshot_dir(snapshots, data_dir)
    return {
        "data": data_dir,
        "table": str(base / "table"),
        "ckpt": str(base / "ckpt"),
    }


def test_stream_ingest_roundtrip(spark, stream_dirs, snapshots):
    stream = read_snapshot_stream(spark, stream_dirs["data"])
    assert stream.isStreaming
    q = stream_to_flat_store(stream, stream_dirs["table"], stream_dirs["ckpt"])
    if not q.awaitTermination(120):
        q.processAllAvailable()
        q.stop()

    flat = spark.read.parquet(stream_dirs["table"])
    n_features_expected = sum(len(d["features"]) for _, d in snapshots)
    assert flat.count() == n_features_expected

    ts, data = snapshots[12]
    doc = (
        renest_documents(flat.filter(F.col("timestamp") == ts))
        .collect()[0]
        .asDict(recursive=True)
    )
    assert set(_canon_features(doc["data"])) == set(_canon_features(data))


def test_stream_restart_is_incremental(spark, stream_dirs, snapshots):
    """Second start with the same checkpoint must not duplicate rows
    (exactly-once per epoch on a replayable source)."""
    q = stream_to_flat_store(
        read_snapshot_stream(spark, stream_dirs["data"]),
        stream_dirs["table"],
        stream_dirs["ckpt"],
    )
    if not q.awaitTermination(120):
        q.processAllAvailable()
        q.stop()
    flat = spark.read.parquet(stream_dirs["table"])
    n_features_expected = sum(len(d["features"]) for _, d in snapshots)
    assert flat.count() == n_features_expected


def test_windowed_counts_memory_sink(spark, stream_dirs, snapshots):
    agg = windowed_vehicle_counts(read_snapshot_stream(spark, stream_dirs["data"]))
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.processAllAvailable()
        q.stop()
    # append mode only emits windows the watermark has closed; with
    # availableNow the final watermark closes all but the last window
    out = spark.sql("SELECT * FROM win_counts").collect()
    assert len(out) > 0
    assert all(r.n_vehicles > 0 for r in out)
    # 48 snapshots x 20s = 16 min -> at least 2 closed 5-min windows
    assert len({(r.window_start, r.window_end) for r in out}) >= 2


def test_fresh_checkpoint_replay_does_not_duplicate(spark, stream_dirs, snapshots):
    """A FRESH checkpoint re-delivers every snapshot file; the timestamp
    anti-membership must drop all of them instead of double-inserting
    each snapshot's rows (round-6 idempotent-append contract). The
    fully replayed batch appends no part file either: the flush has no
    emptiness probe, so an empty anti-join must write nothing."""
    files_before = count_data_files(stream_dirs["table"])
    assert files_before > 0
    q = stream_to_flat_store(
        read_snapshot_stream(spark, stream_dirs["data"]),
        stream_dirs["table"],
        stream_dirs["ckpt"] + "_fresh",
    )
    if not q.awaitTermination(120):
        q.processAllAvailable()
        q.stop()
    flat = spark.read.parquet(stream_dirs["table"])
    n_features_expected = sum(len(d["features"]) for _, d in snapshots)
    assert flat.count() == n_features_expected
    assert count_data_files(stream_dirs["table"]) == files_before


def test_same_checkpoint_replay_changes_nothing(spark, stream_dirs, tmp_path, snapshots):
    """A crash after the sink returned but before Spark committed the
    epoch: the restart replays the last epoch on the same checkpoint, and
    the timestamp anti-join drops all of it."""
    table, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")

    def drain():
        q = stream_to_flat_store(
            read_snapshot_stream(spark, stream_dirs["data"], max_files_per_trigger=16),
            table,
            ckpt,
        )
        q.awaitTermination(120)
        assert q.exception() is None

    drain()
    files_before = count_data_files(table)
    assert drop_last_commit(ckpt) > 0
    drain()
    n_features_expected = sum(len(d["features"]) for _, d in snapshots)
    assert spark.read.parquet(table).count() == n_features_expected
    assert count_data_files(table) == files_before
