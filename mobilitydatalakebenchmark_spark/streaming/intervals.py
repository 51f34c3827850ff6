"""Incremental interval-island maintenance under Structured Streaming.

The batch gate ``interval_coalesce`` pins the semantics (operators/
timeseries.coalesce_intervals); this sink keeps the coalesced-islands
table current as interval rows arrive, out of order, across micro-batches
and restarts. Interval merge is ASSOCIATIVE — an island is itself an
interval carrying its member count — so the maintained table needs no
raw-row history: per batch, re-coalescing (stored islands for the touched
keys) ∪ (batch rows, weight 1) with ``weight_col="n_rows"`` yields exactly
the islands a from-scratch batch run would produce.

Keys hash into ``n_buckets`` partitions, and each batch re-coalesces
its touched buckets through ``run_identity.merge_partitions`` (touched
partitions only, txn-stamped replay protection) — cost O(batch +
touched-bucket islands), independent of history. The stored table has
no ``island`` column: ordinals are per-merge artifacts, so
``read_islands`` derives them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .run_identity import STAMP_COLS, Txn, merge_partitions, start_sink
from ..operators.timeseries import coalesce_intervals

_BUCKET = "kbucket"


def upsert_islands_batch(
    batch: DataFrame,
    table_path: str,
    key_col: str,
    start_col: str = "start_us",
    end_col: str = "end_us",
    n_buckets: int = 16,
    txn: tuple[str, int] | None = None,
) -> None:
    """Merge one micro-batch of raw [start, end) rows into the stored
    islands table. See the module docstring for the idempotence and
    partition-pruning contract."""

    def bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn(_BUCKET, F.pmod(F.hash(key_col), F.lit(n_buckets)))

    rows = bucketed(
        batch.select(
            F.col(key_col),
            F.col(start_col),
            F.col(end_col),
            F.lit(1).cast("long").alias("n_rows"),
        )
    )
    merge_partitions(
        rows,
        table_path,
        _BUCKET,
        lambda intervals: bucketed(
            coalesce_intervals(
                intervals, key_col, start_col, end_col, weight_col="n_rows"
            ).drop("island")
        ),
        txn,
    )


def stream_islands(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    key_col: str,
    start_col: str = "start_us",
    end_col: str = "end_us",
    n_buckets: int = 16,
):
    """Attach the island-maintenance sink to a streaming DataFrame and
    start it (``run_identity.start_sink``)."""

    def _sink(batch: DataFrame, txn: Txn) -> None:
        upsert_islands_batch(
            batch,
            table_path,
            key_col,
            start_col,
            end_col,
            n_buckets=n_buckets,
            txn=txn,
        )

    return start_sink(stream, checkpoint, _sink)


def read_islands(
    spark, table_path: str, key_col: str, start_col: str = "start_us"
) -> DataFrame:
    """The queryable islands table (helper columns dropped). ``island``
    numbers are per-merge artifacts and not stable across maintenance —
    recompute the per-key ordinal at read time instead."""
    from pyspark.sql import Window

    df = spark.read.parquet(table_path).drop(_BUCKET, *STAMP_COLS)
    w = Window.partitionBy(key_col).orderBy(start_col)
    return df.withColumn("island", F.row_number().over(w))
