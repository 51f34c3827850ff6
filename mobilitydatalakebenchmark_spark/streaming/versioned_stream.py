"""Streaming commits into the versioned store: each micro-batch becomes
one atomically-visible version, giving readers a consistent snapshot
between epochs and readable history across them — the plain-parquet
analogue of a Delta streaming sink.

Replay protection is the TRANSACTION STAMP (see ``run_identity.py``):
``commit(txn=(run, epoch))`` skips a transaction any commit entry
already records, checked on the driver with no Spark job. That closes
the crash window between the data write and the entry's publish (the
data-dir overwrite reclaims the crashed attempt's orphan). An epoch
costs two jobs: the emptiness probe and the data write. One checkpoint
lineage owns a store: attaching a fresh checkpoint appends its batches
as new versions by contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .run_identity import Txn, start_sink
from ..operators.versioned_store import VersionedParquetStore


def stream_to_versioned_store(
    stream: DataFrame,
    store: VersionedParquetStore,
    checkpoint: str,
    mode: str = "append",
) -> StreamingQuery:
    def flush(batch: DataFrame, txn: Txn) -> None:
        if not batch.isEmpty():  # an empty batch would commit an empty version
            store.commit(batch, mode=mode, txn=txn)

    return start_sink(stream, checkpoint, flush)
