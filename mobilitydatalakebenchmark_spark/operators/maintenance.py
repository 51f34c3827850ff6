"""Table maintenance — the operational side of a 100 TB lake.

A 20 s snapshot cadence writes ~4.3k files/day/partition-column into the
flat store; small-file proliferation is the classic lake failure mode.

- ``compact_partitions``: rewrite a partitioned table so each partition
  holds ~target-sized files (read -> coalesce per partition -> swap
  through ``replace_dir``). Stats-preserving: same rows, same
  partition column, fewer files.
- ``expire_partitions``: retention — drop hour-bucket partitions older
  than a cutoff without touching surviving data (directory-level delete;
  no rewrite).
- ``replace_dir`` / ``recover_dir``: the one crash-safe commit of a
  whole directory, for every store that rewrites itself; every read of
  a store table (``store.Store``) recovers first, and every writer that
  does not swap (``flat_store.write_bucketed``, ``expire_partitions``)
  runs ``recover_for_write`` first.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..schemas import TS_BUCKET_COL
from ..sources.size import dir_size


def _hadoop_fs(spark: SparkSession):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    return jvm, jvm.org.apache.hadoop.fs.FileSystem.get(conf)


def exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists: the one "nothing stored yet" check. Reads
    declare their schema, so an existing directory with no part files
    reads as an empty frame and only a missing path needs telling apart."""
    jvm, fs = _hadoop_fs(spark)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(path))


_PENDING, _REPLACED = "__pending", "__replaced"


def _check(ok: bool, what: str) -> None:
    # Hadoop reports a failed rename or delete by returning False
    if not ok:
        raise OSError(f"{what} failed")


def recover_dir(spark: SparkSession, dst: str) -> None:
    """Finish a ``replace_dir`` swap of ``dst`` that a crash cut short;
    readers of swapped directories call this first (one ``exists`` call
    on a clean store). An aside means the swap had begun, so pending was
    complete: rename it in if ``dst`` is missing, then delete the aside.
    A pending dir with no aside is an uncommitted write; the next write
    overwrites it."""
    jvm, fs = _hadoop_fs(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    live, aside = Path(dst), Path(dst + _REPLACED)
    if not fs.exists(aside):
        return
    if not fs.exists(live):
        _check(fs.rename(Path(dst + _PENDING), live), f"rename into {dst}")
    _check(fs.delete(aside, True), f"delete {dst + _REPLACED}")


def recover_for_write(spark: SparkSession, dst: str) -> None:
    """A writer's first step on ``dst``: ``recover_dir``, then delete a
    pending dir no swap took up. Writers of a directory are single (see
    ``replace_dir``), so to a writer that dir is a rewrite that crashed
    before its swap; readers leave it, as it may be one in progress."""
    recover_dir(spark, dst)
    jvm, fs = _hadoop_fs(spark)
    pending = jvm.org.apache.hadoop.fs.Path(dst + _PENDING)
    if fs.exists(pending):
        _check(fs.delete(pending, True), f"delete {dst + _PENDING}")


def replace_dir(spark: SparkSession, dst: str, write: Callable[[str], None]) -> None:
    """Rewrite directory ``dst`` as one crash-safe commit (Hadoop FS API).

    ``write(pending)`` overwrites the sibling ``dst__pending`` (e.g.
    ``df.write.mode("overwrite").parquet``) and may read ``dst``. Then
    ``dst`` is renamed aside to ``dst__replaced``, pending renamed in and
    the aside deleted; a crash at any step leaves the old or the new
    contents for ``recover_dir``. Recovery runs first: a Hadoop rename
    onto an existing directory moves the source inside it. Single writer
    per directory, since writers share the one pending name."""
    recover_dir(spark, dst)
    pending = dst + _PENDING
    write(pending)
    jvm, fs = _hadoop_fs(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    live, aside = Path(dst), Path(dst + _REPLACED)
    replaced = fs.exists(live)
    if replaced:
        _check(fs.rename(live, aside), f"rename {dst} aside")
    _check(fs.rename(Path(pending), live), f"rename into {dst}")
    if replaced:
        _check(fs.delete(aside, True), f"delete {dst + _REPLACED}")


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder: tuple[str, str, tuple[float, float], tuple[float, float]] | None = None,
) -> dict:
    """Rewrite `path` with ~target_file_bytes files per hour-bucket
    partition.

    Per-partition output file count = ceil(partition_bytes / target); the
    rewrite repartitions by (bucket, uniform salt) so each output
    task writes one file of its own partition. The rewrite lands in a
    pending sibling directory and is swapped in by ``replace_dir``.

    ``zorder=(x_col, y_col, x_range, y_range)`` additionally clusters
    every rewritten file by the 2-D Morton key (the Delta
    ``OPTIMIZE ... ZORDER BY`` maintenance job): partitionBy keeps
    handling time, the within-file sort tightens each row group's
    per-column min/max envelope so later bbox filters skip row groups —
    compaction is exactly when that sort is free, since the data is
    being rewritten anyway."""
    recover_dir(spark, path)
    total_bytes = dir_size(path)
    df = spark.read.parquet(path)
    n_parts = max(df.select(TS_BUCKET_COL).distinct().count(), 1)
    per_partition = max(total_bytes // n_parts, 1)
    files_per_partition = max(1, math.ceil(per_partition / target_file_bytes))

    before_files = count_data_files(path)
    if zorder is not None:
        # OPTIMIZE ... ZORDER BY semantics: RANGE-partition on the Morton
        # key (a salt would scatter each z-block uniformly over the
        # bucket's files, leaving every FILE spanning the whole bbox),
        # so each output file covers one contiguous z block and its
        # file/row-group min-max envelope is tight enough to skip
        from ..functions.zorder import zorder_key

        x_col, y_col, x_range, y_range = zorder
        zk = zorder_key(F.col(x_col), F.col(y_col), x_range, y_range)
        out = (
            df.withColumn("_z", zk)
            .repartitionByRange(
                n_parts * files_per_partition, F.col(TS_BUCKET_COL), F.col("_z")
            )
            .sortWithinPartitions(TS_BUCKET_COL, "_z")
            .drop("_z")
        )
    else:
        out = df.repartition(
            n_parts * files_per_partition,
            F.col(TS_BUCKET_COL),
            F.pmod(
                F.spark_partition_id() + F.monotonically_increasing_id(),
                files_per_partition,
            ),
        )
    replace_dir(
        spark, path, out.write.mode("overwrite").partitionBy(TS_BUCKET_COL).parquet
    )
    return {
        "files_before": before_files,
        "files_after": count_data_files(path),
        "partitions": n_parts,
    }


def count_data_files(path: str) -> int:
    """Parquet part files under ``path`` (0 when it is missing)."""
    import os

    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def expire_partitions(spark: SparkSession, path: str, cutoff_bucket: str) -> list[str]:
    """Delete hour-bucket partitions with bucket < cutoff_bucket (ISO
    prefixes compare lexicographically). Directory-level: surviving
    partitions untouched. Returns the deleted partition values; raises
    ``OSError`` when a delete fails. Lists and deletes through the Hadoop
    FS."""
    recover_for_write(spark, path)
    deleted = []
    jvm, fs = _hadoop_fs(spark)
    prefix = f"{TS_BUCKET_COL}="
    for status in fs.listStatus(jvm.org.apache.hadoop.fs.Path(path)):
        name = status.getPath().getName()
        if name.startswith(prefix) and name[len(prefix):] < cutoff_bucket:
            _check(fs.delete(status.getPath(), True), f"delete {path}/{name}")
            deleted.append(name[len(prefix):])
    return sorted(deleted)
