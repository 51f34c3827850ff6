"""Incremental Count-Min maintenance under Structured Streaming.

CMS cells merge by addition (operators/countmin.countmin_merge:
shard-then-combine == one-shot build), so the maintained state is just
the d*w cell table — constant-size regardless of stream length, the
ideal streaming summary. Each micro-batch: build the batch's own cells
(one bounded-width shuffle over the batch), add them to the stored
table, rewrite. The merged table is d*w rows (192 at the default 3x64),
so materializing it driver-side before the overwrite is bounded by the
SKETCH size, never the data — the same "collect only literals" budget
as the islands maintainer's bucket keys.

Idempotence is the txn stamp of ``run_identity.py``: every stored row
carries the (run, epoch) stamp of the merge that wrote it, and a
replayed epoch whose stamp already matches is a no-op.

Crash safety is ``maintenance.replace_dir``: each merge writes the
WHOLE merged table to the pending sibling of ``table_path`` and swaps it
in, so a crash anywhere before the swap leaves the previous sketch fully
intact. An in-place ``mode("overwrite")`` would delete ALL previously
merged epochs at job start, and replay only redelivers the last epoch,
so the state would be unrecoverable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .run_identity import Txn, start_sink
from ..operators.countmin import countmin_build
from ..operators.maintenance import exists, recover_dir, replace_dir
from ..schemas import COUNTMIN_SCHEMA


def _committed_cells(spark: SparkSession, table_path: str) -> DataFrame | None:
    """The committed cell table with its txn stamps, or None if no merge
    has ever committed."""
    recover_dir(spark, table_path)
    if not exists(spark, table_path):
        return None
    return spark.read.schema(COUNTMIN_SCHEMA).parquet(table_path)


def upsert_countmin_batch(
    batch: DataFrame,
    table_path: str,
    key_col: str,
    d: int = 3,
    w: int = 64,
    txn: tuple[str, int] | None = None,
) -> None:
    """Add one micro-batch's counts into the stored cell table."""
    from ..session import local_df

    spark = batch.sparkSession
    if batch.isEmpty():
        return
    new_cells = countmin_build(batch, key_col, d=d, w=w)
    merged = {}
    existing = _committed_cells(spark, table_path)
    if existing is not None:
        stored = existing.collect()  # d*w rows — sketch-sized, bounded
        if txn is not None and any(
            r["_txn_run"] == txn[0] and r["_txn_epoch"] == txn[1] for r in stored
        ):
            return  # replayed epoch: this merge is in the table
        for r in stored:
            merged[(r["r"], r["b"])] = r["cell"]
    for r in new_cells.collect():  # batch's cells — also <= d*w rows
        k = (r["r"], r["b"])
        merged[k] = merged.get(k, 0) + r["cell"]
    run_id, epoch = txn if txn is not None else (None, None)
    rows = [
        (int(r), int(b), int(c), run_id, epoch)
        for (r, b), c in sorted(merged.items())
    ]
    cells = local_df(spark, rows, COUNTMIN_SCHEMA.simpleString()).coalesce(1)
    replace_dir(spark, table_path, cells.write.mode("overwrite").parquet)


def stream_countmin(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    key_col: str,
    d: int = 3,
    w: int = 64,
):
    """Attach the CMS-maintenance sink and start it (availableNow)."""

    def _sink(batch: DataFrame, txn: Txn) -> None:
        upsert_countmin_batch(batch, table_path, key_col, d=d, w=w, txn=txn)

    return start_sink(stream, checkpoint, _sink)


def read_countmin(spark, table_path: str) -> DataFrame:
    """The queryable cell table (txn stamps dropped) — feed straight
    into operators/countmin.countmin_estimates. A merge cut short before
    its swap is invisible."""
    cells = _committed_cells(spark, table_path)
    if cells is None:
        raise FileNotFoundError(f"no committed count-min table under {table_path}")
    return cells.select("r", "b", "cell")
