"""Streaming maintenance of a materialized equi-join: fact rows arrive
on a stream, the persisted view stays current per micro-batch.

Each epoch applies ``MaterializedJoin.append_idempotent`` — the delta
rule keeps per-batch cost proportional to the arrivals times the match
rate, never the view size. Replay protection is TWO-SIDED: the view and
the left base are each deduped independently against the batch by row
id (executor-side anti-joins), so a crash at ANY point of a previous
attempt — including between the view write and the base write —
converges on replay instead of double-inserting join rows or dropping
base rows. ``row_id_col`` must uniquely identify left rows across the
stream's lifetime (an event id, not the join key — join keys repeat).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .run_identity import Txn, start_sink

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

    def flush(batch: DataFrame, txn: Txn) -> None:
        mj.append_idempotent(batch, row_id_col)

    return start_sink(left_stream, checkpoint, flush)
