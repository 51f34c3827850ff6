"""Temporal (MobilityDB-semantics) pipeline — per-entity instant sequences.

Reference: ``stores/mobility_db.py`` (tgeompoint/tfloat/tint/ttext columns,
per-instant append, as-of reads via ``getValue(atTimestamp(...))``) and
``stores/mobility_db_batch.py`` (buffer 500 snapshots, group by uuid, emit
sequences + tsrange validity window).

Spark model (SURVEY.md §1.4): a temporal column is
``array<struct<ts, value>>`` sorted by ts; the tsrange is a (start, end)
struct (A5); as-of extraction (W3) filters the array; containment (F6) is
an ``exists`` over instants. Append (W4/J9) is recompute-per-batch — union
the new flat rows and re-aggregate (Delta MERGE would do keyed upserts; no
Delta jars in this image, so the pure recompute path is canonical and the
MERGE path is stubbed in streaming/ingest.py).

Scale posture: one shuffle on uuid builds every sequence (groupBy +
sort_array(collect_list)); per-entity arrays are bounded by the batch
window (the reference flushes every 500 snapshots — at 20 s cadence that
is ~2.8 h of instants per vehicle, thousands of elements, comfortably
in-memory per row). Reads prune on the timerange struct before touching
arrays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codecs import decode_direction
from ..schemas import TEMPORAL_SCHEMA
from .flat_store import explode_features, feature_collection
from .maintenance import recover_dir, replace_dir

_MEASURES = {
    # temporal column -> (source column, value cast)
    "distance": ("distance", "double"),
    "distanceFromPoint": ("distanceFromPoint", "int"),
    "id": ("id", "bigint"),
    "pointId": ("pointId", "int"),
}


def _instants(value_col: str, cast: str) -> Column:
    return F.sort_array(
        F.collect_list(
            F.struct(F.col("ts").alias("ts"), F.col(value_col).cast(cast).alias("value"))
        )
    )


def build_temporal(documents: DataFrame) -> DataFrame:
    """documents -> one row per uuid with instant sequences (A1/W6),
    tsrange bounds (A5) and first-seen static attributes (A9)."""
    flat = explode_features(documents).withColumn("ts", F.to_timestamp("timestamp"))
    seq_aggs = [
        _instants(src, cast).alias(name) for name, (src, cast) in _MEASURES.items()
    ]
    positions = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("ts").alias("ts"),
                F.col("coordinates_0").cast("double").alias("lon"),
                F.col("coordinates_1").cast("double").alias("lat"),
            )
        )
    ).alias("positions")
    return flat.groupBy("uuid").agg(
        F.struct(
            F.min("ts").alias("start"), F.max("ts").alias("end")
        ).alias("timerange"),
        positions,
        *seq_aggs,
        # static attributes: first by event time (min_by = first-seen, A9)
        F.min_by("color", "ts").alias("color"),
        decode_direction(F.min_by("direction", "ts")).alias("direction"),
        F.min_by("lineId", "ts").alias("lineId"),
    )


def at_timestamp(seq: Column, ts: Column) -> Column:
    """W3: value of a temporal column at an exact instant (MobilityDB
    ``getValue(atTimestamp(tcol, ts))``, mobility_db.py:104-109).
    NULL when no instant matches."""
    hits = F.filter(seq, lambda x: x["ts"] == ts)
    return F.when(F.size(hits) > 0, hits[0]["value"])


def contains_instant(seq: Column, ts: Column) -> Column:
    """F6: temporal containment (``tcol @> TIMESTAMP ts``, mobility_db.py:111)."""
    return F.exists(seq, lambda x: x["ts"] == ts)


def as_of(seq: Column, ts: Column) -> Column:
    """Generalized as-of: last value at-or-before ts (the capability the
    reference approximates with exact-instant lookups). Arrays are
    ts-sorted, so the last element of the filtered prefix is the answer."""
    prefix = F.filter(seq, lambda x: x["ts"] <= ts)
    return F.when(F.size(prefix) > 0, F.element_at(prefix, -1)["value"])


class TemporalStore:
    """Per-entity sequence store with batch-append (recompute) semantics."""

    def __init__(self, path: str):
        self.path = path

    def write(self, documents: DataFrame, mode: str = "overwrite") -> None:
        build_temporal(documents).write.mode(mode).parquet(self.path)

    def scan(self, spark: SparkSession) -> DataFrame:
        recover_dir(spark, self.path)
        return spark.read.schema(TEMPORAL_SCHEMA).parquet(self.path)

    def append_batch(self, spark: SparkSession, documents: DataFrame) -> None:
        """W4/J9: instant append, pure-recompute flavor — merge stored
        sequences with the new batch by re-aggregating the union of
        instants. (Reference mutates rows via ``appendinstant``;
        recompute is the deterministic distributed equivalent.)"""
        stored = self.scan(spark)
        new = build_temporal(documents)
        both = stored.unionByName(new)
        merged = both.groupBy("uuid").agg(
            F.struct(
                F.min("timerange.start").alias("start"),
                F.max("timerange.end").alias("end"),
            ).alias("timerange"),
            F.sort_array(F.flatten(F.collect_list("positions"))).alias("positions"),
            *[
                F.sort_array(F.flatten(F.collect_list(name))).alias(name)
                for name in _MEASURES
            ],
            F.min_by("color", "timerange.start").alias("color"),
            F.min_by("direction", "timerange.start").alias("direction"),
            F.min_by("lineId", "timerange.start").alias("lineId"),
        )
        # Self-overwrite: write aside, then swap (persist() is NOT a
        # reliability barrier — an evicted cached partition would
        # recompute against files an in-place overwrite already deleted)
        replace_dir(spark, self.path, merged.write.mode("overwrite").parquet)

    def total_size(self) -> int:
        from ..sources.size import dir_size

        return dir_size(self.path)

    def get_document(self, spark: SparkSession, timestamp: str) -> DataFrame:
        """Reconstruct the snapshot at an instant: timerange prune ->
        containment filter -> per-measure as-of extraction -> re-nest."""
        ts = F.lit(timestamp).cast("timestamp")
        df = self.scan(spark)
        hit = df.filter(
            (F.col("timerange.start") <= ts)
            & (F.col("timerange.end") >= ts)
            & contains_instant(F.col("positions"), ts)
        )
        pos = F.filter(F.col("positions"), lambda x: x["ts"] == ts)[0]
        feature = F.struct(
            F.lit("Feature").alias("type"),
            F.col("uuid").alias("id"),
            F.struct(
                F.lit("Point").alias("type"),
                F.array(pos["lon"], pos["lat"]).alias("coordinates"),
            ).alias("geometry"),
            F.struct(
                F.col("uuid").alias("uuid"),
                at_timestamp(F.col("id"), ts).alias("id"),
                F.col("color").alias("color"),
                F.col("direction").alias("direction"),
                at_timestamp(F.col("distance"), ts).alias("distance"),
                at_timestamp(F.col("distanceFromPoint"), ts).alias("distanceFromPoint"),
                F.col("lineId").alias("lineId"),
                at_timestamp(F.col("pointId"), ts).alias("pointId"),
            ).alias("properties"),
        )
        # groupBy a constant (not a global agg): zero input rows -> zero
        # output rows, matching the other stores' "document absent"
        # signal instead of fabricating an empty FeatureCollection.
        return (
            hit.select(feature.alias("f"))
            .groupBy(F.lit(timestamp).alias("timestamp"))
            .agg(F.sort_array(F.collect_list("f")).alias("_features"))
            .select("timestamp", feature_collection(F.col("_features")))
        )
