"""Incremental streaming rollup: the maintained table must equal the
batch rollup of everything ingested, across micro-batches, restarts and
late data that reopens an old bucket."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # r13: heavy suite, excluded from the default fast tier (run with -m "" or -m slow)


import datetime as dt

from pyspark.sql import functions as F

from mobilitydatalakebenchmark_spark.operators.rollup import build_rollup
from mobilitydatalakebenchmark_spark.streaming.rollup_stream import (
    read_rollup,
    stream_rollup,
)

SCHEMA = "ts timestamp, k string, value double"
T0 = dt.datetime(2024, 4, 1, 10, 0, 0)


def _rows(shift_min, n, k="a"):
    return [
        (T0 + dt.timedelta(minutes=shift_min + i * 7), k, float(i) + 0.25)
        for i in range(n)
    ]


def _snapshot(df):
    return {
        (r["bucket_ts"], r["k"]): (r["n"], round(r["total"], 6), r["vmin"], r["vmax"])
        for r in df.collect()
    }


def _drain(spark, data_dir, table, ckpt):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(data_dir)
    )
    q = stream_rollup(stream, table, ckpt, "ts", "value", keys=("k",))
    if not q.awaitTermination(120):
        q.processAllAvailable()
        q.stop()


def test_streamed_rollup_equals_batch(spark, tmp_path):
    data_dir, table, ckpt = (
        str(tmp_path / "data"),
        str(tmp_path / "rollup"),
        str(tmp_path / "ckpt"),
    )
    batch1 = spark.createDataFrame(_rows(0, 12, "a") + _rows(3, 9, "b"), SCHEMA)
    batch2 = spark.createDataFrame(_rows(90, 10, "a"), SCHEMA)
    batch1.coalesce(1).write.mode("append").parquet(data_dir)
    batch2.coalesce(1).write.mode("append").parquet(data_dir)

    _drain(spark, data_dir, table, ckpt)

    everything = spark.read.parquet(data_dir)
    want = _snapshot(build_rollup(everything, "ts", "value", keys=("k",)))
    assert _snapshot(read_rollup(spark, table)) == want


def test_late_data_reopens_only_its_bucket(spark, tmp_path):
    data_dir, table, ckpt = (
        str(tmp_path / "data"),
        str(tmp_path / "rollup"),
        str(tmp_path / "ckpt"),
    )
    spark.createDataFrame(_rows(0, 12, "a"), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    _drain(spark, data_dir, table, ckpt)

    # a late row for the FIRST hour arrives after the stream drained
    late = spark.createDataFrame([(T0 + dt.timedelta(minutes=1), "a", 999.5)], SCHEMA)
    late.coalesce(1).write.mode("append").parquet(data_dir)
    _drain(spark, data_dir, table, ckpt)  # same checkpoint: only new file

    everything = spark.read.parquet(data_dir)
    want = _snapshot(build_rollup(everything, "ts", "value", keys=("k",)))
    got = _snapshot(read_rollup(spark, table))
    assert got == want
    # the late max is visible in its bucket
    first_bucket = [v for (b, _), v in got.items() if b.hour == 10]
    assert any(vmax == 999.5 for (_, _, _, vmax) in first_bucket)


def test_replayed_epoch_does_not_double_merge(spark, tmp_path):
    """The crash window: the partition overwrite committed but the
    checkpoint offset did not, so the same (run, epoch) batch arrives
    again. The txn stamp must skip every already-merged bucket; a
    GENUINE new epoch carrying identical-looking data must still merge.
    Also over a table written before the stamp columns existed, whose
    files lack them (they read as null: no bucket counts as merged)."""
    from mobilitydatalakebenchmark_spark.streaming.rollup_stream import (
        read_rollup,
        upsert_rollup_batch,
    )

    batch = spark.createDataFrame(_rows(0, 12, "a"), SCHEMA)
    single = _snapshot(build_rollup(batch, "ts", "value", keys=("k",)))
    for unstamped in (False, True):
        table = str(tmp_path / f"rollup_{unstamped}")
        if unstamped:
            build_rollup(batch, "ts", "value", keys=("k",)).withColumn(
                "bucket_key", F.date_format("bucket_ts", "yyyy-MM-dd_HH")
            ).write.partitionBy("bucket_key").parquet(table)
            assert "_txn_run" not in spark.read.parquet(table).columns
        upsert_rollup_batch(batch, table, "ts", "value", keys=("k",), txn=("run1", 3))
        first = _snapshot(read_rollup(spark, table))
        assert {k: v[0] for k, v in first.items()} == {
            k: (1 + unstamped) * v[0] for k, v in single.items()
        }

        # replay of the SAME epoch: no change
        upsert_rollup_batch(batch, table, "ts", "value", keys=("k",), txn=("run1", 3))
        assert _snapshot(read_rollup(spark, table)) == first

        # a genuinely new epoch with the same rows: merges (counts grow)
        upsert_rollup_batch(batch, table, "ts", "value", keys=("k",), txn=("run1", 4))
        grown = _snapshot(read_rollup(spark, table))
        assert all(grown[k][0] == first[k][0] + single[k][0] for k in first)


def test_stamped_table_still_equals_batch_rollup(spark, tmp_path):
    """End-to-end: the streamed, txn-stamped table must still equal the
    batch rollup of everything ingested (stamps are invisible to
    read_rollup)."""
    data_dir, table, ckpt = (
        str(tmp_path / "data"),
        str(tmp_path / "rollup"),
        str(tmp_path / "ckpt"),
    )
    spark.createDataFrame(_rows(0, 10, "a") + _rows(5, 7, "b"), SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(data_dir)
    spark.createDataFrame(_rows(70, 9, "a"), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    _drain(spark, data_dir, table, ckpt)
    everything = spark.read.parquet(data_dir)
    expected = _snapshot(build_rollup(everything, "ts", "value", keys=("k",)))
    assert _snapshot(read_rollup(spark, table)) == expected

    # restarting the SAME checkpoint re-delivers nothing new: no change.
    # (A FRESH checkpoint on an existing rollup is additive by contract —
    # aggregate states carry no row identity to dedup on, so one
    # checkpoint lineage owns a rollup table; the txn stamp protects
    # within-lineage replays, which is the crash window that exists.)
    _drain(spark, data_dir, table, ckpt)
    assert _snapshot(read_rollup(spark, table)) == expected


def test_streamed_distinct_sketch_matches_batch(spark, tmp_path):
    """The sketch column rides the incremental maintenance unchanged:
    streamed rollup estimates == batch rollup estimates over the same
    rows (micro-batched ingest, txn-stamped merge)."""
    from mobilitydatalakebenchmark_spark.operators.rollup import (
        approx_distinct,
        merge_rollup,
    )
    from mobilitydatalakebenchmark_spark.streaming.rollup_stream import (
        stream_rollup,
    )

    data_dir = str(tmp_path / "in")
    rows = _rows(0, 40, "a") + _rows(3, 40, "b") + _rows(700, 30, "c")
    spark.createDataFrame(rows, SCHEMA).repartition(3).write.parquet(data_dir)
    table = str(tmp_path / "roll")

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    q = stream_rollup(
        stream, table, str(tmp_path / "ck"), "ts", "value",
        keys=("k",), distinct_col="k",
    )
    if not q.awaitTermination(120):
        q.processAllAvailable()
        q.stop()

    batch = build_rollup(
        spark.createDataFrame(rows, SCHEMA), "ts", "value",
        keys=("k",), bucket="hour", distinct_col="k",
    )
    got = {
        (r["bucket_ts"], r["k"]): r["approx_distinct"]
        for r in approx_distinct(
            merge_rollup(read_rollup(spark, table), keys=("k",))
        ).collect()
    }
    want = {
        (r["bucket_ts"], r["k"]): r["approx_distinct"]
        for r in approx_distinct(
            merge_rollup(batch, keys=("k",))
        ).collect()
    }
    assert got == want and got


def test_streamed_quantile_sketch_matches_batch(spark, tmp_path):
    """KLL quantile states ride the incremental maintenance too:
    streamed p50/p95 == batch p50/p95 bucket-for-bucket."""
    from mobilitydatalakebenchmark_spark.operators.rollup import (
        approx_quantiles,
        merge_rollup,
    )
    from mobilitydatalakebenchmark_spark.streaming.rollup_stream import (
        stream_rollup,
    )

    data_dir = str(tmp_path / "in")
    rows = _rows(0, 50, "a") + _rows(5, 50, "b") + _rows(680, 35, "c")
    spark.createDataFrame(rows, SCHEMA).repartition(4).write.parquet(data_dir)
    table = str(tmp_path / "roll")

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    q = stream_rollup(
        stream, table, str(tmp_path / "ck"), "ts", "value",
        keys=("k",), quantiles=True,
    )
    if not q.awaitTermination(120):
        q.processAllAvailable()
        q.stop()

    batch = build_rollup(
        spark.createDataFrame(rows, SCHEMA), "ts", "value",
        keys=("k",), bucket="hour", quantiles=True,
    )

    def est(df):
        return {
            (r["bucket_ts"], r["k"]): (r["p50"], r["p95"])
            for r in approx_quantiles(
                merge_rollup(df, keys=("k",))
            ).collect()
        }

    got = est(read_rollup(spark, table))
    want = est(batch)
    assert got == want and got
