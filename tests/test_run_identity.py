"""Sink run identity: the ``txn`` handed to ``apply`` carries Spark's
streaming query id, stable for a checkpoint's lifetime (resume and
replay keep it) and fresh when the checkpoint is recreated."""

from __future__ import annotations

import json
import os
import shutil

from mobilitydatalakebenchmark_spark.streaming.run_identity import start_sink


def drop_last_commit(checkpoint: str) -> int:
    """Delete the checkpoint's last commit, the state a crash leaves
    between the sink returning and Spark committing the epoch, so the
    next start replays that epoch. Returns the epoch."""
    commits = os.path.join(checkpoint, "commits")
    last = max(int(name) for name in os.listdir(commits) if name.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    return last


def _landing(spark, path: str, values) -> None:
    # one file per value, so each file is one epoch
    for v in values:
        spark.createDataFrame([(v,)], "v long").coalesce(1).write.mode(
            "append"
        ).parquet(path)


def _drain(spark, landing: str, checkpoint: str) -> list:
    """Start the sink over ``landing`` and return the txns ``apply`` saw."""
    txns = []
    stream = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    q = start_sink(stream, checkpoint, lambda batch, txn: txns.append(txn))
    q.awaitTermination(120)
    assert q.exception() is None
    with open(os.path.join(checkpoint, "metadata")) as fh:
        assert {run for run, _ in txns} == {json.load(fh)["id"], q.id}
    return txns


def test_stable_within_checkpoint_lifetime(spark, tmp_path):
    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    _landing(spark, landing, [1, 2])
    first = _drain(spark, landing, ckpt)
    assert [epoch for _, epoch in first] == [0, 1]
    assert len({run for run, _ in first}) == 1
    # resumed checkpoint: the new file is the next epoch of the same run
    _landing(spark, landing, [3])
    assert _drain(spark, landing, ckpt) == [(first[0][0], 2)]


def test_replayed_epoch_keeps_its_txn(spark, tmp_path):
    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    _landing(spark, landing, [1, 2])
    first = _drain(spark, landing, ckpt)
    assert drop_last_commit(ckpt) == 1
    assert _drain(spark, landing, ckpt) == [first[-1]]


def test_recreated_checkpoint_gets_new_identity(spark, tmp_path):
    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    _landing(spark, landing, [1])
    (run, epoch), = _drain(spark, landing, ckpt)
    shutil.rmtree(ckpt)
    (run2, epoch2), = _drain(spark, landing, ckpt)
    assert (epoch, epoch2) == (0, 0)
    assert run2 != run
