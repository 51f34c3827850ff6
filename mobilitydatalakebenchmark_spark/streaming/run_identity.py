"""The one streaming sink: start-up, replay identity and the
txn-stamped partition merge shared by every foreachBatch maintainer.

``start_sink`` attaches a maintainer to a stream and drains it
(``availableNow``). Each micro-batch is handed to the maintainer's
``apply(batch, txn)`` with ``txn = (run_id, epoch_id)``; what makes a
replayed epoch a no-op is the maintainer's choice:

- row-id anti-joins (flat, ANN, shards, IVM): each batch is stripped of
  keys the store already holds, executor-side;
- an epoch high-water mark per run (``marks=``, ANN, shards, IVM): an
  epoch at or below the run's mark skips before touching the store;
- txn stamps (rollup, frontier, islands via ``merge_partitions``;
  versioned and count-min via their own commits): rows written by an
  epoch carry its ``(run, epoch)``, and a stamped epoch is not merged
  again. Aggregate states have no row ids, so the stamp carries the
  dedup information the data cannot.

``run_id = md5(checkpoint path)`` alone is NOT enough: if the
checkpoint dir is deleted but the maintained table/state kept, the new
stream restarts at epoch 0 under the OLD run_id, and the replay guard
then treats the genuinely-new batches as replays and silently drops
them. Mixing in a nonce file created inside the checkpoint dir on
first start makes a recreated checkpoint a NEW identity (fresh epochs
apply), while a resumed checkpoint — the real replay case — keeps its
nonce and stays idempotent.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.maintenance import exists
from ..session import local_df

_NONCE_FILE = "_run_nonce"
_EPOCH_SCHEMA = "last_epoch long"
# the (run, epoch) stamp every merge_partitions row carries
_STAMP = T.StructType(
    [
        T.StructField("_txn_run", T.StringType()),
        T.StructField("_txn_epoch", T.LongType()),
    ]
)
STAMP_COLS = tuple(_STAMP.fieldNames())

Txn = tuple[str, int]


def last_epoch(spark: SparkSession, run_path: str) -> int:
    """The epoch high-water mark recorded under ``run_path``; -1 before
    the run's first recorded epoch."""
    if not exists(spark, run_path):
        return -1
    row = (
        spark.read.schema(_EPOCH_SCHEMA)
        .parquet(run_path)
        .agg(F.max("last_epoch").alias("e"))
        .first()
    )
    return -1 if row is None or row["e"] is None else int(row["e"])


def record_epoch(spark: SparkSession, run_path: str, epoch_id: int) -> None:
    """Overwrite the run's high-water mark with ``epoch_id``."""
    local_df(spark, [(int(epoch_id),)], _EPOCH_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(run_path)


def checkpoint_run_id(checkpoint: str) -> str:
    """16-hex run id stable for the LIFETIME of the checkpoint dir.

    Nonce installation is genuinely atomic: the candidate is written to
    a tmp file and hard-linked into place (``os.link`` fails with
    ``FileExistsError`` if another attacher won, and links only
    fully-written content — an exists-check-then-replace has a TOCTOU
    window where two concurrent first attachers each install different
    nonces and stamp different run_ids for the same checkpoint).
    ``file:`` URIs are parsed with urllib (``file://host/path`` has an
    authority, which naive prefix-stripping would fold into the path as
    a ``/host`` directory — a remote authority falls back to path-only
    identity like any other non-local URI)."""
    local = checkpoint
    remote_authority = False
    if local.startswith("file:"):
        from urllib.parse import unquote, urlparse

        parsed = urlparse(local)
        if parsed.netloc in ("", "localhost"):
            local = unquote(parsed.path)
        else:
            remote_authority = True
    try:
        if remote_authority:
            raise OSError("file: URI with remote authority")
        os.makedirs(local, exist_ok=True)
        nonce_path = os.path.join(local, _NONCE_FILE)
        tmp = nonce_path + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            fh.write(uuid.uuid4().hex)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, nonce_path)  # first creator wins, atomically
        except FileExistsError:
            pass  # read the winner's (or an earlier start's) nonce below
        finally:
            os.remove(tmp)
        with open(nonce_path) as fh:
            nonce = fh.read().strip()
    except OSError:
        # non-local checkpoint URI (hdfs://, s3a://): the dir cannot be
        # recreated out from under us by local tooling nearly as easily,
        # and Spark itself owns its lifecycle — fall back to path-only
        nonce = ""
    return hashlib.md5(f"{checkpoint}\n{nonce}".encode()).hexdigest()[:16]


def start_sink(
    stream: DataFrame,
    checkpoint: str,
    apply: Callable[[DataFrame, Txn], None],
    marks: str | None = None,
) -> StreamingQuery:
    """Attach ``apply(batch, (run_id, epoch_id))`` to ``stream`` as a
    checkpointed ``foreachBatch`` sink and start it (availableNow: drain
    what exists, then stop). There is no empty-batch check here: an
    ``apply`` that would write something for an empty batch checks
    itself.

    ``marks`` (a store path) turns on the epoch high-water mark: an
    epoch at or below the run's recorded mark is skipped without calling
    ``apply``, and each applied epoch is recorded after ``apply``
    returns."""
    run_id = checkpoint_run_id(checkpoint)
    run_path = f"{marks}/run_id={run_id}" if marks else None

    def flush(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if run_path is not None and epoch_id <= last_epoch(spark, run_path):
            return  # same-run replay: already fully applied
        apply(batch, (run_id, int(epoch_id)))
        if run_path is not None:
            record_epoch(spark, run_path, epoch_id)

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
