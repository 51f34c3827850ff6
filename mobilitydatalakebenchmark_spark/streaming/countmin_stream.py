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

Crash safety follows the versioned-store manifest discipline: each
merge writes the WHOLE merged table to a FRESH ``cells-<n>/`` dir under
``table_path`` and then swaps a one-line ``LATEST`` pointer file via
write-to-tmp + ``os.replace`` (atomic on POSIX). A crash anywhere
before the pointer swap leaves the previous sketch fully intact — an
in-place ``mode("overwrite")`` to a single dir would delete ALL
previously merged epochs at job start, and replay only redelivers the
last epoch, so the state would be unrecoverable. Superseded dirs are
pruned after the swap (current + previous kept), so the store holds at
most 2 sketch-sized dirs.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame

from .run_identity import Txn, start_sink
from ..operators.countmin import countmin_build

_POINTER = "LATEST"
_CELLS_DIR = re.compile(r"cells-(\d+)")


def _latest_cells_dir(table_path: str) -> str | None:
    """The committed cell dir per the pointer file, or None if no merge
    has ever committed."""
    ptr = os.path.join(table_path, _POINTER)
    if not os.path.isfile(ptr):
        return None
    with open(ptr) as fh:
        name = fh.read().strip()
    full = os.path.join(table_path, name)
    return full if name and os.path.isdir(full) else None


def _commit_cells_dir(table_path: str, name: str) -> None:
    """Point LATEST at ``name`` atomically, then prune dirs older than
    the one just superseded (crash between swap and prune only leaves an
    extra bounded-size dir, never a torn table)."""
    import uuid

    ptr = os.path.join(table_path, _POINTER)
    tmp = ptr + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        fh.write(name)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, ptr)
    seq = int(name.rsplit("-", 1)[1])
    for entry in os.listdir(table_path):
        m = _CELLS_DIR.fullmatch(entry)
        if m and int(m.group(1)) < seq - 1:  # keep current + predecessor
            shutil.rmtree(os.path.join(table_path, entry), ignore_errors=True)


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
    os.makedirs(table_path, exist_ok=True)
    current = _latest_cells_dir(table_path)
    seq = 0
    if current is not None:
        seq = int(os.path.basename(current).rsplit("-", 1)[1]) + 1
        existing = spark.read.parquet(current)
        if txn is not None:
            already = (
                existing.filter(
                    (existing["_txn_run"] == txn[0])
                    & (existing["_txn_epoch"] == txn[1])
                ).count()
                > 0
            )
            if already:  # replayed epoch: this merge is in the table
                return
        for r in existing.collect():  # d*w rows — sketch-sized, bounded
            merged[(r["r"], r["b"])] = r["cell"]
    for r in new_cells.collect():  # batch's cells — also <= d*w rows
        k = (r["r"], r["b"])
        merged[k] = merged.get(k, 0) + r["cell"]
    run_id, epoch = txn if txn is not None else (None, None)
    rows = [
        (int(r), int(b), int(c), run_id, epoch)
        for (r, b), c in sorted(merged.items())
    ]
    name = f"cells-{seq}"
    target = os.path.join(table_path, name)
    # clear an orphan from a crash before the pointer swap — LATEST never
    # referenced it (a failure to clear surfaces in the write below)
    shutil.rmtree(target, ignore_errors=True)
    local_df(
        spark,
        rows,
        "r int, b long, cell long, _txn_run string, _txn_epoch long",
    ).coalesce(1).write.mode("error").parquet(target)
    _commit_cells_dir(table_path, name)


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
    into operators/countmin.countmin_estimates. Reads ONLY the dir the
    LATEST pointer commits; in-flight and orphaned merge dirs are
    invisible."""
    current = _latest_cells_dir(table_path)
    if current is None:
        raise FileNotFoundError(f"no committed count-min table under {table_path}")
    return spark.read.parquet(current).select("r", "b", "cell")
