"""Normalized ("velocity") pipeline — the 3-table star strategy, Spark-native.

Reference: ``stores/apache_parquet_velocity.py`` (main/l1/l2 with in-memory
first-seen dedup and integer surrogate ids), ``stores/postgresql_velocity.py``
(hash-consed dims, IN-list existence probe, insert-only-missing).

Spark-first deviations (documented, SURVEY.md §2.9 / §7):

- l1 (vehicle dim) is keyed by an md5 hash-cons key (P14) instead of a
  mutable integer counter (`apache_parquet_velocity.py:38-40`): hash keys
  are deterministic and allocation-free, so the dim build parallelizes
  with no shared state — the only strategy that survives 1000 executors.
- first-seen semantics (`:81-85`) become a window rank over (uuid, ts)
  (A9/F5) — same result, no in-memory hash table.
- "insert only missing dims" (`postgresql_velocity.py:104-113`) is the
  left-anti novelty join (F4/J8) against the stored dim.

Scale posture: main is tiny (1 row/snapshot); l1 is bounded by the fleet
size (broadcastable); both are written as one part file per write. l2 is
the fact table, written by ``write_bucketed``.
Point reads prune l2 to one partition, broadcast-join l1, and re-nest
against the main hit, which alone decides whether the snapshot exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.codecs import ts_bucket
from ..schemas import (
    TS_BUCKET_COL,
    VELOCITY_L1_SCHEMA,
    VELOCITY_L2_SCHEMA,
    VELOCITY_MAIN_SCHEMA,
)
from .flat_store import at_snapshot, explode_features, renest_documents, write_bucketed
from .store import Store


def _l1_key() -> F.Column:
    """Dim key = FULL md5 of the uuid alone. uuid-only matters: l2 rows must
    reference the same dim row even when a vehicle's mutable attributes
    (direction at a terminus, color) drift between snapshots — first-seen
    attribute values win, exactly the reference's in-memory-hash-table
    semantics (apache_parquet_velocity.py:81-85). Untruncated: a truncated
    hash birthday-collides at fleet scale and a collision would silently
    cross-wire two vehicles' observations."""
    return F.md5(F.col("uuid"))


def build_velocity_tables(
    documents: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """documents -> (main, l1, l2).

    main: (timestamp, ts_bucket)            one row per snapshot (incl. empty)
    l1:   (l1_id, uuid, vid, color, direction, lineId)   first-seen per uuid
    l2:   (timestamp, l1_id, distance, pointId, distanceFromPoint,
           coordinates_0, coordinates_1), bucketed on write
    """
    flat = explode_features(documents)

    main = documents.select(
        "timestamp", ts_bucket(F.col("timestamp")).alias(TS_BUCKET_COL)
    )

    # A9: first occurrence of each uuid wins the dim row
    w = Window.partitionBy("uuid").orderBy("timestamp")
    l1 = (
        flat.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            _l1_key().alias("l1_id"),
            "uuid",
            F.col("id").alias("vid"),
            "color",
            "direction",
            "lineId",
        )
    )

    l2 = flat.select(
        "timestamp",
        _l1_key().alias("l1_id"),
        "distance",
        "pointId",
        "distanceFromPoint",
        "coordinates_0",
        "coordinates_1",
    )
    return main, l1, l2


class VelocityParquetStore(Store):
    """3-table normalized store with incremental append semantics."""

    schemas = {
        "main": VELOCITY_MAIN_SCHEMA,
        "l1": VELOCITY_L1_SCHEMA,
        "l2": VELOCITY_L2_SCHEMA,
    }

    def write(self, documents: DataFrame, mode: str = "overwrite") -> None:
        main, l1, l2 = build_velocity_tables(documents)
        if mode == "append":
            # J7/J8/F4: only novel dim rows are appended (existence probe
            # as left-anti join against the stored dim)
            l1 = self.novel(l1, "l1_id", "l1")
        # main and l1 are small by construction (see the scale posture):
        # one part file per write
        main.coalesce(1).write.mode(mode).parquet(self._p("main"))
        l1.coalesce(1).write.mode(mode).parquet(self._p("l1"))
        write_bucketed(l2, self._p("l2"), mode, entity="l1_id")

    def tables(self, spark: SparkSession) -> tuple[DataFrame, DataFrame, DataFrame]:
        return tuple(self._read(spark, table) for table in ("main", "l1", "l2"))

    def get_document(self, spark: SparkSession, timestamp: str) -> DataFrame:
        """J6: l2 ⨝ l1 reconstruction, re-nested against main
        (reference ``apache_parquet_velocity.py:222-249``): an empty
        snapshot is in main with no l2 rows and reads as ``features == []``;
        a timestamp main does not hold reads as no row."""
        main, l1, l2 = self.tables(spark)
        obs = (
            at_snapshot(l2, timestamp)
            .join(F.broadcast(l1), "l1_id")
            .withColumn("id", F.col("vid"))
        )
        return renest_documents(obs, snapshots=main.filter(F.col("timestamp") == timestamp))
