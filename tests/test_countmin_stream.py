"""Streaming Count-Min maintenance: the maintained cell table must equal
the one-shot build over everything ingested, across micro-batches,
replays, and checkpoint recreation."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from mobilitydatalakebenchmark_spark.operators.countmin import countmin_build
from mobilitydatalakebenchmark_spark.streaming.countmin_stream import (
    read_countmin,
    stream_countmin,
    upsert_countmin_batch,
)

SCHEMA = "k long"
D, W = 3, 16


def _cells(df):
    return {(r["r"], r["b"]): r["cell"] for r in df.collect()}


def _drain(spark, data_dir, table, ckpt):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    q = stream_countmin(stream, table, ckpt, "k", d=D, w=W)
    if not q.awaitTermination(120):
        q.processAllAvailable()
        q.stop()


def test_streamed_equals_single_build(spark, tmp_path):
    data_dir, table, ckpt = (
        str(tmp_path / "data"),
        str(tmp_path / "cms"),
        str(tmp_path / "ckpt"),
    )
    full = spark.range(0, 900).select((F.col("id") % 23).alias("k"))
    for m in range(3):
        full.filter(F.col("id") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)
    _drain(spark, data_dir, table, ckpt)
    got = _cells(read_countmin(spark, table))
    want = _cells(countmin_build(full, "k", d=D, w=W))
    assert got == want


def test_replayed_epoch_is_idempotent(spark, tmp_path):
    table = str(tmp_path / "cms")
    b = spark.range(0, 100).select((F.col("id") % 7).alias("k"))
    upsert_countmin_batch(b, table, "k", d=D, w=W, txn=("run", 0))
    once = _cells(read_countmin(spark, table))
    upsert_countmin_batch(b, table, "k", d=D, w=W, txn=("run", 0))
    assert _cells(read_countmin(spark, table)) == once
    # a new epoch still merges
    upsert_countmin_batch(
        spark.range(100, 150).select((F.col("id") % 7).alias("k")),
        table, "k", d=D, w=W, txn=("run", 1),
    )
    after = _cells(read_countmin(spark, table))
    assert sum(after.values()) == D * 150


def test_recreated_checkpoint_applies_fresh_data(spark, tmp_path):
    data_dir, table, ckpt = (
        str(tmp_path / "data"),
        str(tmp_path / "cms"),
        str(tmp_path / "ckpt"),
    )
    spark.range(0, 60).select((F.col("id") % 5).alias("k")).coalesce(
        1
    ).write.mode("append").parquet(data_dir)
    _drain(spark, data_dir, table, ckpt)
    shutil.rmtree(ckpt)  # checkpoint lost, table kept
    data2 = str(tmp_path / "data2")
    spark.range(60, 100).select((F.col("id") % 5).alias("k")).coalesce(
        1
    ).write.mode("append").parquet(data2)
    _drain(spark, data2, table, ckpt)
    total = sum(_cells(read_countmin(spark, table)).values())
    assert total == D * 100  # nothing dropped by a stale replay stamp


def test_crash_before_swap_preserves_state(spark, tmp_path):
    """The merge commits via ``maintenance.replace_dir``: an orphan
    pending dir from a crash between data write and swap must (a) leave
    the previous sketch fully readable and (b) not block the replayed
    merge."""
    table = str(tmp_path / "cms")
    b0 = spark.range(0, 100).select((F.col("id") % 7).alias("k"))
    upsert_countmin_batch(b0, table, "k", d=D, w=W, txn=("run", 0))
    before = _cells(read_countmin(spark, table))
    # simulate the crash window: the NEXT merge's pending dir exists on
    # disk but was never swapped in
    b1 = spark.range(100, 160).select((F.col("id") % 7).alias("k"))
    countmin_build(b1, "k", d=D, w=W).write.parquet(table + "__pending")
    assert _cells(read_countmin(spark, table)) == before  # orphan invisible
    # replay of the crashed epoch: merges cleanly over the orphan
    upsert_countmin_batch(b1, table, "k", d=D, w=W, txn=("run", 1))
    total = sum(_cells(read_countmin(spark, table)).values())
    assert total == D * 160
