"""Per-checkpoint-creation run identity for replay-idempotent sinks.

Every foreachBatch maintainer here stamps its writes with
``(run_id, epoch_id)`` (or keys an epoch high-water mark under
``run_id=``) so that a same-run replay of an epoch is a no-op.
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

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.maintenance import exists
from ..session import local_df

_NONCE_FILE = "_run_nonce"
_EPOCH_SCHEMA = "last_epoch long"


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
        if not os.path.exists(nonce_path):
            tmp = nonce_path + f".{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as fh:
                fh.write(uuid.uuid4().hex)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, nonce_path)  # first creator wins, atomically
            except FileExistsError:
                pass  # read the winner's nonce below
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
