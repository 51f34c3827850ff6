"""Incremental materialized-join maintenance: the view must equal a
from-scratch recompute after every interleaving of appends."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # r13: heavy suite, excluded from the default fast tier (run with -m "" or -m slow)

from pyspark.sql import functions as F

from mobilitydatalakebenchmark_spark.operators.ivm import MaterializedJoin

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def lineitem(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_partkey", "l_quantity"
    )
    df.cache().count()
    return df


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_equals_recompute(spark, orders, lineitem, tmp_path):
    mj = MaterializedJoin(str(tmp_path / "mj"), on="o_orderkey")
    o1 = orders.filter(F.col("o_orderkey") % 3 == 0)
    o2 = orders.filter(F.col("o_orderkey") % 3 == 1)
    o3 = orders.filter(F.col("o_orderkey") % 3 == 2)
    l1 = lineitem.filter(F.col("l_partkey") % 2 == 0)
    l2 = lineitem.filter(F.col("l_partkey") % 2 == 1)

    mj.build(o1, l1)
    assert _rows(mj.view(spark)) == _rows(mj.recompute(spark))

    mj.append(left_delta=o2)  # left-only batch
    assert _rows(mj.view(spark)) == _rows(mj.recompute(spark))

    mj.append(right_delta=l2)  # right-only batch
    assert _rows(mj.view(spark)) == _rows(mj.recompute(spark))

    mj.append(left_delta=o3)  # late left rows joining the grown right
    assert _rows(mj.view(spark)) == _rows(mj.recompute(spark))

    # final content is the full join of everything
    full = orders.join(lineitem, "o_orderkey")
    assert _rows(mj.view(spark)) == _rows(full)


def test_simultaneous_two_sided_batch(spark, orders, lineitem, tmp_path):
    """One append carrying both sides must include the ΔL ⋈ ΔR cross
    term exactly once."""
    mj = MaterializedJoin(str(tmp_path / "mj2"), on="o_orderkey")
    o1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    o2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    l1 = lineitem.filter(F.col("l_quantity") <= 25)
    l2 = lineitem.filter(F.col("l_quantity") > 25)
    mj.build(o1, l1)
    mj.append(left_delta=o2, right_delta=l2)
    assert _rows(mj.view(spark)) == _rows(orders.join(lineitem, "o_orderkey"))


def test_view_prunes_key_buckets(spark, orders, lineitem, tmp_path):
    """The bucket partitioning is the point of the layout: a key-equality
    read of the view must scan a pruned file subset (partition filters
    present in the plan)."""
    mj = MaterializedJoin(str(tmp_path / "mj3"), on="o_orderkey")
    mj.build(orders, lineitem)
    some_key = orders.first()["o_orderkey"]
    q = spark.read.parquet(str(tmp_path / "mj3" / "view.parquet")).filter(
        (F.col("_key_bucket") == F.pmod(F.xxhash64(F.lit(some_key).cast("long")), 32))
        & (F.col("o_orderkey") == some_key)
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert q.count() > 0


def test_streamed_left_inserts_keep_view_current(spark, orders, lineitem, tmp_path):
    """Stream the second half of orders into a view built on the first:
    final view == full batch join, and a full replay through a fresh
    checkpoint changes nothing (idempotent append)."""
    from mobilitydatalakebenchmark_spark.streaming.ivm_stream import (
        stream_to_materialized_join,
    )

    o1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    o2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    mj = MaterializedJoin(str(tmp_path / "mjs"), on="o_orderkey")
    mj.build(o1, lineitem)

    landing = str(tmp_path / "landing")
    o2.repartition(2).write.parquet(landing)

    def run(ckpt):
        stream = (
            spark.readStream.schema(o2.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        stream_to_materialized_join(
            stream, mj, str(tmp_path / ckpt), row_id_col="o_orderkey"
        ).awaitTermination(120)

    run("ckpt1")
    want = _rows(orders.join(lineitem, "o_orderkey"))
    assert _rows(mj.view(spark)) == want

    run("ckpt2")  # full re-delivery from scratch
    assert _rows(mj.view(spark)) == want


def test_same_checkpoint_replay_changes_nothing(spark, orders, lineitem, tmp_path):
    """A crash after the sink returned but before Spark committed the
    epoch: the restart replays the last epoch on the same checkpoint, and
    the view, the left base and their part files stay as they were."""
    from mobilitydatalakebenchmark_spark.operators.maintenance import count_data_files
    from mobilitydatalakebenchmark_spark.streaming.ivm_stream import (
        stream_to_materialized_join,
    )

    from .test_run_identity import drop_last_commit

    o1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    o2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    mj = MaterializedJoin(str(tmp_path / "mjr"), on="o_orderkey")
    mj.build(o1, lineitem)
    landing = str(tmp_path / "landing")
    o2.repartition(2).write.parquet(landing)
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(o2.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        q = stream_to_materialized_join(stream, mj, ckpt, row_id_col="o_orderkey")
        q.awaitTermination(120)
        assert q.exception() is None

    drain()
    want = _rows(orders.join(lineitem, "o_orderkey"))
    assert _rows(mj.view(spark)) == want
    files_before = count_data_files(mj.path)
    assert drop_last_commit(ckpt) == 1
    drain()
    assert _rows(mj.view(spark)) == want
    assert spark.read.parquet(f"{mj.path}/left.parquet").count() == orders.count()
    assert count_data_files(mj.path) == files_before


def test_crash_between_view_and_base_write_converges(
    spark, orders, lineitem, tmp_path
):
    """Replay after the append's crash window: a previous attempt wrote
    the VIEW delta but died before appending the left base. The replayed
    epoch must complete the base append without double-inserting view
    rows (two-sided dedup)."""
    from mobilitydatalakebenchmark_spark.streaming.ivm_stream import (
        stream_to_materialized_join,
    )

    o1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    o2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    mj = MaterializedJoin(str(tmp_path / "mjc"), on="o_orderkey")
    mj.build(o1, lineitem)

    # crashed attempt: view delta written, base append lost
    delta = o2.join(mj._read(spark, "right"), "o_orderkey").localCheckpoint()
    mj._write_view(delta)

    landing = str(tmp_path / "landing")
    o2.coalesce(1).write.parquet(landing)
    stream = spark.readStream.schema(o2.schema).parquet(landing)
    stream_to_materialized_join(
        stream, mj, str(tmp_path / "ckpt"), row_id_col="o_orderkey"
    ).awaitTermination(120)

    want = _rows(orders.join(lineitem, "o_orderkey"))
    assert _rows(mj.view(spark)) == want
    # unmatched left rows must have reached the base too
    assert (
        spark.read.parquet(str(tmp_path / "mjc" / "left.parquet")).count()
        == orders.count()
    )


def test_crash_between_base_and_view_write_converges(
    spark, orders, lineitem, tmp_path
):
    """The opposite partial state (base rows present, view delta lost)
    must also converge: the view-side dedup sees nothing for the batch
    and re-derives its join rows."""
    from mobilitydatalakebenchmark_spark.streaming.ivm_stream import (
        stream_to_materialized_join,
    )

    o1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    o2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    mj = MaterializedJoin(str(tmp_path / "mjb"), on="o_orderkey")
    mj.build(o1, lineitem)

    # crashed attempt: base appended, view delta lost
    mj._append_base(o2, "left")

    landing = str(tmp_path / "landing")
    o2.coalesce(1).write.parquet(landing)
    stream = spark.readStream.schema(o2.schema).parquet(landing)
    stream_to_materialized_join(
        stream, mj, str(tmp_path / "ckpt"), row_id_col="o_orderkey"
    ).awaitTermination(120)

    want = _rows(orders.join(lineitem, "o_orderkey"))
    assert _rows(mj.view(spark)) == want
    assert _rows(mj.recompute(spark)) == want


def test_deletes_interleaved_with_appends_equal_recompute(
    spark, orders, lineitem, tmp_path
):
    """The round-7 tombstone layer: ivm view == recompute under an
    interleaving of inserts and deletes on both sides."""
    o = orders.withColumn("o_rid", F.col("o_orderkey"))
    li = lineitem.withColumn(
        "l_rid",
        F.xxhash64("o_orderkey", "l_partkey", "l_quantity"),
    ).dropDuplicates(["l_rid"])
    mj = MaterializedJoin(
        str(tmp_path / "mjd"), on="o_orderkey",
        left_row_id="o_rid", right_row_id="l_rid",
    )
    o1 = o.filter(F.col("o_orderkey") % 3 == 0)
    o2 = o.filter(F.col("o_orderkey") % 3 == 1)
    o3 = o.filter(F.col("o_orderkey") % 3 == 2)
    l1 = li.filter(F.col("l_partkey") % 2 == 0)
    l2 = li.filter(F.col("l_partkey") % 2 == 1)

    mj.build(o1, l1)
    mj.append(left_delta=o2)
    # delete a slice of the left rows inserted so far
    mj.delete(o1.filter(F.col("o_orderkey") % 5 == 0).select("o_rid"), "left")
    assert _rows(mj.view(spark)) == _rows(mj.recompute(spark))

    # right-side delete, then more inserts on both sides
    mj.delete(l1.filter(F.col("l_quantity") > 40).select("l_rid"), "right")
    assert _rows(mj.view(spark)) == _rows(mj.recompute(spark))
    mj.append(left_delta=o3, right_delta=l2)
    assert _rows(mj.view(spark)) == _rows(mj.recompute(spark))

    # new inserts joining keys whose earlier rows died must only match
    # LIVE rows — cross-check against an independent computation
    live_o = (
        o2.unionByName(o3)
        .unionByName(o1.filter(F.col("o_orderkey") % 5 != 0))
    )
    live_l = l2.unionByName(l1.filter(F.col("l_quantity") <= 40))
    assert _rows(mj.view(spark)) == _rows(live_o.join(live_l, "o_orderkey"))

    # compact folds the masks; results unchanged, tombstones gone
    mj.compact(spark)
    assert _rows(mj.view(spark)) == _rows(live_o.join(live_l, "o_orderkey"))
    import os
    assert not os.path.exists(str(tmp_path / "mjd" / "left_tombstones.parquet"))


def test_apply_cdc_latest_wins_updates_and_deletes(spark, tmp_path):
    """CDC maintenance: updates replace a key's row (delete old id +
    insert new id), tombstone ops retire the key, latest-wins within a
    batch by (seq, change id)."""
    left = spark.createDataFrame(
        [(1, 100, "a", 0, False), (2, 200, "b", 1, False), (3, 300, "c", 2, False)],
        "k long, rid long, payload string, seq long, del boolean",
    )
    right = spark.createDataFrame(
        [(1, "r1"), (2, "r2"), (3, "r3"), (4, "r4")], "k long, rv string"
    )
    mj = MaterializedJoin(str(tmp_path / "cdc"), on="k", left_row_id="rid")
    mj.build(left, right)

    changes = spark.createDataFrame(
        [
            (1, 101, "a2", 10, False),   # update key 1
            (2, 201, "bX", 11, True),    # delete key 2
            (4, 401, "d", 12, False),    # insert new key 4
            (4, 402, "d2", 13, False),   # ...then update it IN-BATCH
        ],
        "k long, rid long, payload string, seq long, del boolean",
    )
    mj.apply_cdc(changes, seq_cols=("seq", "rid"), delete_col="del")

    got = {
        (r.k, r.payload, r.rv)
        for r in mj.view(spark).select("k", "payload", "rv").collect()
    }
    assert got == {(1, "a2", "r1"), (3, "c", "r3"), (4, "d2", "r4")}
    assert _rows(mj.view(spark)) == _rows(mj.recompute(spark))
