"""Incremental Pareto-frontier maintenance under Structured Streaming.

Frontier merge is associative and history-free (operators/skyline.py:
``frontier(frontier(A) ∪ B) == frontier(A ∪ B)``), so the maintained
state is just the current frontier — typically orders of magnitude
smaller than the stream. Group keys hash into ``n_buckets`` partition
buckets, and each batch re-sweeps (stored frontier ∪ batch) for the
buckets it touches through ``run_identity.merge_partitions`` (touched
partitions only, txn-stamped replay protection).

Caveat the batch operator doesn't have: ``n_dups`` counts every arrived
duplicate of a surviving frontier POINT, but a point dominated later is
gone along with its count — the frontier is a filter, not an aggregate,
so per-point multiplicities are exact only for points still on the
frontier (the useful invariant; tests pin it against the batch run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .run_identity import STAMP_COLS, Txn, merge_partitions, start_sink
from ..operators.skyline import pareto_frontier

_BUCKET = "kbucket"


def upsert_frontier_batch(
    batch: DataFrame,
    table_path: str,
    by: str,
    cost_col: str,
    gain_col: str,
    id_col: str,
    n_buckets: int = 16,
    txn: tuple[str, int] | None = None,
) -> None:
    """Merge one micro-batch into the stored per-group frontier table."""

    def bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn(_BUCKET, F.pmod(F.hash(by), F.lit(n_buckets)))

    # columns in pareto_frontier's output order, so the stored table
    # reads back with the same layout it is merged from
    rows = bucketed(
        batch.select(
            by,
            cost_col,
            gain_col,
            F.lit(1).cast("long").alias("n_dups"),
            F.col(id_col),
        )
    )
    merge_partitions(
        rows,
        table_path,
        _BUCKET,
        lambda points: bucketed(
            pareto_frontier(
                points, by, cost_col, gain_col, id_col=id_col, dups_col="n_dups"
            )
        ),
        txn,
    )


def stream_frontier(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    by: str,
    cost_col: str,
    gain_col: str,
    id_col: str,
    n_buckets: int = 16,
):
    """Attach the frontier-maintenance sink and start it
    (``run_identity.start_sink``)."""

    def _sink(batch: DataFrame, txn: Txn) -> None:
        upsert_frontier_batch(
            batch,
            table_path,
            by,
            cost_col,
            gain_col,
            id_col,
            n_buckets=n_buckets,
            txn=txn,
        )

    return start_sink(stream, checkpoint, _sink)


def read_frontier(spark, table_path: str) -> DataFrame:
    """The queryable frontier (helper columns dropped)."""
    return spark.read.parquet(table_path).drop(_BUCKET, *STAMP_COLS)
