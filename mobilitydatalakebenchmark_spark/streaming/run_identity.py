"""The one streaming sink: start-up, replay identity and the
txn-stamped partition merge shared by every foreachBatch maintainer.

``start_sink`` attaches a maintainer to a stream and drains it
(``availableNow``). Each micro-batch is handed to the maintainer's
``apply(batch, txn)`` with ``txn = (run_id, epoch_id)``; what makes a
replayed epoch a no-op is the maintainer's choice of one of two
defenses:

- row-id anti-joins (flat, ANN, shards, IVM): each batch is stripped of
  keys the store already holds, executor-side;
- txn stamps (rollup, frontier, islands via ``merge_partitions``;
  versioned and count-min via their own commits): rows written by an
  epoch carry its ``(run, epoch)``, and a stamped epoch is not merged
  again. Aggregate states have no row ids, so the stamp carries the
  dedup information the data cannot.

The run id is Spark's streaming query id, which Spark persists in
``<checkpoint>/metadata`` when the query is first created. A resumed
checkpoint and a replayed epoch keep it; a recreated checkpoint gets a
new one, so its fresh epochs are never mistaken for replays.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.maintenance import exists

# the (run, epoch) stamp every merge_partitions row carries
_STAMP = T.StructType(
    [
        T.StructField("_txn_run", T.StringType()),
        T.StructField("_txn_epoch", T.LongType()),
    ]
)
STAMP_COLS = tuple(_STAMP.fieldNames())

Txn = tuple[str, int]


def start_sink(
    stream: DataFrame,
    checkpoint: str,
    apply: Callable[[DataFrame, Txn], None],
) -> StreamingQuery:
    """Attach ``apply(batch, (run_id, epoch_id))`` to ``stream`` as a
    checkpointed ``foreachBatch`` sink and start it (availableNow: drain
    what exists, then stop). There is no empty-batch check here: an
    ``apply`` that would write something for an empty batch checks
    itself."""

    def flush(batch: DataFrame, epoch_id: int) -> None:
        run_id = batch.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
        if run_id is None:
            # the property reaches this thread only in PySpark's default
            # pinned-thread mode; without it txn stamps never match
            raise RuntimeError("streaming query id not visible: PYSPARK_PIN_THREAD=false")
        apply(batch, (run_id, int(epoch_id)))

    return (
        stream.writeStream.foreachBatch(flush)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stamped_schema(rows: T.StructType, bucket_col: str) -> T.StructType:
    """Read schema of a ``merge_partitions`` table: the rows' columns,
    the txn stamp, then the partition column (which reads back last)."""
    data = [f for f in rows.fields if f.name != bucket_col]
    return T.StructType(data + _STAMP.fields + [rows[bucket_col]])


def merge_partitions(
    rows: DataFrame,
    table_path: str,
    bucket_col: str,
    combine: Callable[[DataFrame], DataFrame],
    txn: Txn | None,
) -> None:
    """Merge ``rows`` into the ``bucket_col``-partitioned table at
    ``table_path``, rewriting only the partitions the rows touch.

    The touched partitions are read back with a declared schema (a stamp
    column missing from old files reads as null), unioned with ``rows``
    and collapsed by ``combine``, which returns the merged rows including
    ``bucket_col``. The result is stamped with ``txn`` and written with
    dynamic partition overwrite, so untouched partitions keep their
    files. A bucket whose stored stamp already equals ``txn`` merged
    this epoch before (the crash window between the overwrite and the
    checkpoint's offset commit) and is skipped. Cost per batch is
    O(batch + touched partitions), independent of table history.

    Without ``txn`` the merge is idempotent per bucket only if the rows
    are complete for their buckets (fine for batch backfills)."""
    spark = rows.sparkSession
    # distinct buckets are bounded by the data's time span or the bucket
    # count, never by row count, so this collect is safe on a full
    # backlog replay; the literal isin buys static partition pruning
    touched = [r[0] for r in rows.select(bucket_col).distinct().collect()]
    if not touched:
        return
    merged = rows
    if exists(spark, table_path):
        existing = (
            spark.read.schema(stamped_schema(rows.schema, bucket_col))
            .parquet(table_path)
            .filter(F.col(bucket_col).isin(touched))
        )
        if txn is not None:
            done = [
                r[0]
                for r in existing.filter(
                    (F.col("_txn_run") == txn[0]) & (F.col("_txn_epoch") == txn[1])
                )
                .select(bucket_col)
                .distinct()
                .collect()
            ]
            if len(done) == len(touched):
                return  # replayed epoch: every bucket already merged it
            if done:
                merged = merged.filter(~F.col(bucket_col).isin(done))
                existing = existing.filter(~F.col(bucket_col).isin(done))
        merged = merged.unionByName(existing.drop(*STAMP_COLS))
    run_id, epoch = txn if txn is not None else (None, None)
    (
        combine(merged)
        .withColumns(
            {
                "_txn_run": F.lit(run_id).cast("string"),
                "_txn_epoch": F.lit(epoch).cast("long"),
            }
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(bucket_col)
        .parquet(table_path)
    )
