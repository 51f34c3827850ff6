"""Streaming maintenance of a materialized equi-join: fact rows arrive
on a stream, the persisted view stays current per micro-batch.

Each epoch applies ``MaterializedJoin.append_idempotent`` — the delta
rule keeps per-batch cost proportional to the arrivals times the match
rate, never the view size. Replay protection is TWO-SIDED: the view and
the left base are each deduped independently against the batch by row
id (executor-side anti-joins), so a crash at ANY point of a previous
attempt — including between the view write and the base write —
converges on replay instead of double-inserting join rows or dropping
base rows. A checkpoint-scoped epoch high-water mark is the fast path.
``row_id_col`` must uniquely identify left rows across the stream's
lifetime (an event id, not the join key — join keys repeat).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .run_identity import checkpoint_run_id, last_epoch, record_epoch

from ..operators.ivm import MaterializedJoin


def stream_to_materialized_join(
    left_stream: DataFrame,
    mj: MaterializedJoin,
    checkpoint: str,
    row_id_col: str,
) -> StreamingQuery:
    """Stream left-side inserts into ``mj`` (built beforehand; the right
    side is the static/slowly-changing base). Streamed view == batch
    appends of the same batches, across restarts (pinned by test)."""

    state_path = f"{mj.path}/stream_state.parquet"
    run_id = checkpoint_run_id(checkpoint)  # nonce-mixed: a recreated
    # checkpoint gets a NEW identity, so epoch-0 restarts cannot
    # collide with a previous run's replay stamps
    run_path = f"{state_path}/run_id={run_id}"

    def flush(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        if epoch_id <= last_epoch(spark, run_path):
            return  # same-run replay: already fully applied
        # two-sided idempotent apply: the view and the left base are each
        # deduped independently against the batch (executor-side
        # anti-joins — no driver id lists), so a crash between the view
        # write and the base write of a previous attempt converges on
        # replay instead of double-inserting join rows
        mj.append_idempotent(batch, row_id_col)
        record_epoch(spark, run_path, epoch_id)

    return (
        left_stream.writeStream.foreachBatch(flush)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
