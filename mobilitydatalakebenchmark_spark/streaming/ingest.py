"""Streaming ingest — the reference's polling/buffered writers, Spark-native.

Reference semantics being reproduced:
- S2 (``get_data.py:11-29``): one snapshot every 20 s appended to storage —
  here a file-source stream over the snapshot directory (each new JSON file
  is a micro-batch input; in production the same code runs on a Kafka or
  rate source because everything downstream is a DataFrame transform).
- W5 (``mobility_db_batch.py:67-73``): buffer N snapshots, flush per batch —
  micro-batch boundaries ARE the buffer; ``foreachBatch`` gets the batch as
  a DataFrame and appends through the same batch pipelines (exactly-once
  per epoch on replayable sources + idempotent sinks).
- W2 (``apache_parquet.py:27``): bucket-change state reset — implicit:
  every batch appends through ``FlatParquetStore.write``, whose hour-bucket
  partitioning lands rows in their bucket regardless of batch alignment;
  no mutable accumulator state exists to reset.

Scale posture: checkpointed progress, per-batch append, partition columns
carried through — the same topology runs against object storage with a
thousand executors. Watermarked windowed aggregation is included as the
late-data extension (absent from the reference, SURVEY §2.6 note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .run_identity import Txn, start_sink

from ..operators.flat_store import FlatParquetStore, explode_features
from ..sources.geojson import snapshot_documents


def read_snapshot_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 64
) -> DataFrame:
    """Streaming S1: the snapshot directory as a file-source stream,
    read exactly as the batch reader reads it."""
    return snapshot_documents(
        spark.readStream, path, maxFilesPerTrigger=str(max_files_per_trigger)
    )


def stream_to_flat_store(
    documents: DataFrame, table_path: str, checkpoint: str
) -> StreamingQuery:
    """W5: micro-batch append into the flat parquet store. Each epoch is
    the reference's 'buffer flush' — a ``FlatParquetStore`` append.

    Idempotent under replay: a snapshot's timestamp is its identity
    (`base_store.py:12-14` — one document per timestamp), so each batch
    is stripped of timestamps the store already holds before appending.
    A crash between the append and the offset commit, or a fresh
    checkpoint re-delivering old snapshot files, cannot double-insert a
    snapshot's rows. A fully replayed or empty batch appends no part
    file, so the flush needs no emptiness probe."""

    store = FlatParquetStore(table_path)

    def flush(batch: DataFrame, txn: Txn) -> None:
        # executor-side anti-join, never a driver timestamp list — a
        # replayed availableNow backlog is the whole history
        store.write(store.novel(batch, "timestamp"), mode="append")

    return start_sink(documents, checkpoint, flush)


def windowed_vehicle_counts(documents: DataFrame) -> DataFrame:
    """Watermarked tumbling window over the stream: vehicles per lineId
    per 5-minute window, tolerating 1 minute of late data. (The late-data
    extension beyond reference parity.)"""
    flat = explode_features(documents).withColumn("ts", F.to_timestamp("timestamp"))
    return (
        flat.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "5 minutes").alias("win"), "lineId")
        .agg(
            F.approx_count_distinct("uuid").alias("n_vehicles"),
            F.count("*").alias("n_observations"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "lineId",
            "n_vehicles",
            "n_observations",
        )
    )


def enrich_stream(documents: DataFrame, route_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: join each streamed observation with a
    static route dimension on lineId. Spark plans the static side as a
    broadcast against every micro-batch (no state, no watermark needed) —
    the standard pattern for attaching slowly-changing reference data to a
    live feed. The dim is re-resolved per batch, so replacing the parquet
    under it picks up new attributes without restarting the query."""
    flat = explode_features(documents).select(
        "uuid", "timestamp", "lineId", "direction", "coordinates_0", "coordinates_1"
    )
    return flat.join(F.broadcast(route_dim), "lineId", "left")


def stream_to_ann_index(
    embeddings_stream: DataFrame,
    store,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Streaming incremental ANN indexing: each micro-batch of new
    embeddings is appended through the store's frozen artifact — the
    arrival path for a living index. Works with ANY store exposing
    ``append(batch, id_col=, vec_col=)`` and a ``path`` attribute:
    `PQIndexStore` (encode against the frozen codebook) and
    `IVFIndexStore` (assign to the frozen centroids, dynamic-partition
    append into only the touched lists). Per-batch cost is proportional
    to the batch, never the corpus; the trained artifact never changes,
    so the index stays probe-consistent with a batch build+append at
    every batch boundary (exactly as in stream_to_flat_store). The store
    must already be built (the codebook/centroids are the training
    artifact; retraining is a batch decision, not a streaming one).

    Replay protection — the append is IDEMPOTENT, not merely
    epoch-counted: every batch is stripped of ids the store already
    holds (a left-anti join against the store's id table, entirely
    executor-side) before appending. This is what makes at-least-once
    delivery effectively once under EVERY replay shape: a crash between
    the codes append and the offset commit, a fresh checkpoint replaying
    the same source, or an upstream that re-delivers rows across epochs.
    A duplicate id can never double-append code/list rows (which would
    silently double ADC/cosine scores). Cost: one scan of the store's id
    column per micro-batch — the price of idempotence without a
    transactional sink; a per-table commit log recording each batch's
    keys would skip a replay before any scan."""

    def flush(batch: DataFrame, txn: Txn) -> None:
        # idempotent append: drop ids the store already holds, via a
        # pure executor-side anti-join — nothing returns to the driver.
        # (A collect()+isin variant is bounded only in steady state: an
        # availableNow replay after a crash-mid-append delivers the WHOLE
        # backlog as one batch — the very case idempotence exists for —
        # and an unbounded isin list breaks plan compilation.) The store
        # id scan stays the big side; the persist pins the anti-join
        # result so the isEmpty probe and the append don't run it twice.
        fresh = batch.join(
            store.indexed_ids(batch.sparkSession).withColumnRenamed("vec_id", id_col),
            id_col,
            "left_anti",
        ).persist()
        try:
            if not fresh.isEmpty():
                store.append(fresh, id_col=id_col, vec_col=vec_col)
        finally:
            fresh.unpersist()

    return start_sink(embeddings_stream, checkpoint, flush)
