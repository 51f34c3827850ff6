"""Streaming training-shard export — the terminal pipeline stage under
Structured Streaming: arriving documents are appended to each source's
open shard against the persisted manifest, so a trainer can stream a
growing corpus without ever repacking it.

Each micro-batch goes through ``operators/shards.append_shards``: packed
in deterministic md5(id) order after the source's persisted fill level,
appended via dynamic-partition write (only the touched shard directories
change), manifest rows re-derived for touched shards only — cost per
batch is O(batch + touched shards), independent of corpus size, exactly
the ``rollup_stream`` posture.

Replay protection (the sink contract is in ``run_identity.py``): each
batch is stripped, via an executor-side anti-join, of doc ids the store
already holds. When a replayed batch turns out partially-or-fully
written, the manifest rows for the shards holding it are re-derived
from the data first (``repair_manifest``) — healing the crash window
between a data append and its manifest rewrite, which would otherwise
leave fill levels understated and place later docs at overlapping
offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .run_identity import Txn, start_sink

from ..operators.maintenance import exists
from ..operators.shards import append_shards, repair_manifest


def stream_to_shards(
    docs_stream: DataFrame,
    path: str,
    checkpoint: str,
    shard_tokens: int = 4096,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Stream documents into the shard store at ``path``. Streaming
    batches B1..Bn lands the same layout as calling ``append_shards``
    with the same batches in order (pinned by test), and the persisted
    manifest always matches the written data (``verify_shards``)."""

    def _existing_ids(spark) -> "DataFrame | None":
        data = f"{path}/data.parquet"
        return spark.read.parquet(data).select(id_col) if exists(spark, data) else None

    def flush(batch: DataFrame, txn: Txn) -> None:
        spark = batch.sparkSession
        existing = _existing_ids(spark)
        if existing is None:
            # an empty first batch would write a store with no part files
            if batch.isEmpty():
                return
            fresh, n_batch, n_fresh = batch, 1, 1  # empty store: all fresh
        else:
            # executor-side anti-join — never a driver id list (an
            # availableNow replay after a crash delivers the whole
            # backlog as one batch, the one case idempotence exists for)
            fresh = batch.join(existing, id_col, "left_anti").persist()
            n_batch = batch.count()
            n_fresh = fresh.count()
        try:
            if n_fresh < n_batch:
                # part (or all) of this batch is already in the data but
                # its manifest rewrite may have been lost to a crash:
                # re-derive manifest rows for the shards holding the
                # batch's ids from the written data BEFORE placing
                # anything, so fill levels are read from a repaired
                # manifest and offsets can never overlap
                repair_manifest(
                    spark,
                    path,
                    ids=batch.select(id_col),
                    source_col=source_col,
                    id_col=id_col,
                )
            if n_fresh > 0:
                append_shards(
                    fresh,
                    path,
                    shard_tokens=shard_tokens,
                    source_col=source_col,
                    id_col=id_col,
                    text_col=text_col,
                )
        finally:
            if existing is not None:
                fresh.unpersist()

    return start_sink(docs_stream, checkpoint, flush)
