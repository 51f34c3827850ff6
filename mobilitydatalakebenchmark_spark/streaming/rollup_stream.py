"""Incremental continuous-aggregate maintenance under Structured
Streaming: keep an `operators/rollup.py` table current as micro-batches
arrive, rewriting only the time-bucket partitions a batch touches.

Each micro-batch collapses to its own partial states (`build_rollup` —
one narrow shuffle over the batch, not the history), then
``run_identity.merge_partitions`` reads back only the touched bucket
partitions (late data reopens just its own bucket), merges old + new
states exactly (`merge_rollup` — sums of sums, min of mins) and rewrites
those partitions alone. Cost per batch is O(batch + touched-bucket
states), independent of table history length. With Delta the
read-merge-rewrite would collapse into `MERGE INTO`; the package does not
depend on Delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .run_identity import STAMP_COLS, Txn, merge_partitions, start_sink
from ..operators.rollup import build_rollup, merge_rollup

# partition column: a filesystem-safe string form of the bucket timestamp
_BUCKET_KEY = "bucket_key"


def _with_bucket_key(rollup: DataFrame) -> DataFrame:
    return rollup.withColumn(
        _BUCKET_KEY, F.date_format("bucket_ts", "yyyy-MM-dd_HH")
    )


def upsert_rollup_batch(
    batch: DataFrame,
    table_path: str,
    ts_col: str,
    val_col: str,
    keys: tuple[str, ...] = (),
    bucket: str = "hour",
    txn: tuple[str, int] | None = None,
    distinct_col: str | None = None,
    quantiles: bool = False,
) -> None:
    """Merge one micro-batch into the stored rollup table.

    ``txn = (run_id, epoch_id)`` makes the merge IDEMPOTENT per epoch —
    the Delta ``txnAppId/txnVersion`` pattern on plain parquet, see
    ``run_identity.merge_partitions``: a replayed epoch merges each
    touched bucket exactly once, where an unstamped re-merge would
    double-count every sum."""
    partial = _with_bucket_key(
        build_rollup(
            batch, ts_col, val_col, keys=keys, bucket=bucket,
            distinct_col=distinct_col, quantiles=quantiles,
        )
    )
    merge_partitions(
        partial,
        table_path,
        _BUCKET_KEY,
        lambda states: _with_bucket_key(merge_rollup(states, keys=keys).drop("vavg")),
        txn,
    )


def stream_rollup(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    ts_col: str,
    val_col: str,
    keys: tuple[str, ...] = (),
    bucket: str = "hour",
    distinct_col: str | None = None,
    quantiles: bool = False,
):
    """Attach the incremental-rollup sink to a streaming DataFrame and
    start it (``run_identity.start_sink``). Each epoch merges under its
    (checkpoint, epoch) transaction stamp."""

    def _sink(batch: DataFrame, txn: Txn) -> None:
        upsert_rollup_batch(
            batch,
            table_path,
            ts_col,
            val_col,
            keys=keys,
            bucket=bucket,
            txn=txn,
            distinct_col=distinct_col,
            quantiles=quantiles,
        )

    return start_sink(stream, checkpoint, _sink)


def read_rollup(spark, table_path: str) -> DataFrame:
    """The queryable rollup (drops the partition-key and txn-stamp
    helper columns)."""
    return spark.read.parquet(table_path).drop(_BUCKET_KEY, *STAMP_COLS)
