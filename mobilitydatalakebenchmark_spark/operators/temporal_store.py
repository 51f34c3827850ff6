"""Temporal (MobilityDB-semantics) pipeline — per-entity instant sequences.

Reference: ``stores/mobility_db.py`` (tgeompoint/tfloat/tint/ttext columns,
per-instant append, as-of reads via ``getValue(atTimestamp(...))``) and
``stores/mobility_db_batch.py`` (buffer 500 snapshots, group by uuid, emit
sequences + tsrange validity window).

Spark model (SURVEY.md §1.4): a temporal column is
``array<struct<ts, value>>`` sorted by ts; the tsrange is a (start, end)
struct (A5); as-of extraction (W3) filters the array; containment (F6) is
an ``exists`` over instants. Every flat row is a one-instant partial
sequence, and one per-uuid merge turns partial or stored sequences into
stored ones, so a write merges the batch's partials and an append (W4/J9)
merges the stored rows with them — recompute-per-batch, O(history)
(a Delta MERGE would do keyed upserts; the package does not depend on
Delta, so the recompute path is the one path).

Scale posture: one shuffle on uuid builds every sequence (groupBy +
sort_array(flatten(collect_list))); per-entity arrays are bounded by the
batch window (the reference flushes every 500 snapshots — at 20 s cadence
that is ~2.8 h of instants per vehicle, thousands of elements, comfortably
in-memory per row). Reads prune on the timerange struct before touching
arrays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codecs import decode_direction, encode_direction
from ..schemas import TEMPORAL_SCHEMA
from .flat_store import explode_features, renest_documents
from .maintenance import exists, recover_dir, replace_dir
from .store import Store

_MEASURES = {
    # temporal column -> (source column, value cast)
    "distance": ("distance", "double"),
    "distanceFromPoint": ("distanceFromPoint", "int"),
    "id": ("id", "bigint"),
    "pointId": ("pointId", "int"),
}


def _partials(documents: DataFrame) -> DataFrame:
    """Each flat row as a one-instant partial sequence row: the temporal
    schema, with every sequence holding the row's single instant."""
    ts = F.to_timestamp("timestamp").alias("ts")
    flat = explode_features(documents)
    return flat.select(
        "uuid",
        F.struct(ts.alias("start"), ts.alias("end")).alias("timerange"),
        F.array(
            F.struct(
                ts,
                F.col("coordinates_0").cast("double").alias("lon"),
                F.col("coordinates_1").cast("double").alias("lat"),
            )
        ).alias("positions"),
        *[
            F.array(F.struct(ts, F.col(src).cast(cast).alias("value"))).alias(name)
            for name, (src, cast) in _MEASURES.items()
        ],
        "color",
        decode_direction(F.col("direction")).alias("direction"),
        "lineId",
    )


def _merge(sequences: DataFrame) -> DataFrame:
    """The one per-uuid aggregate: partial or stored sequence rows -> one
    stored row per uuid (A1/W6). Timerange is min/max (A5); sequences are
    the sorted union of instants; static attributes are first-seen by
    event time (min_by = first-seen, A9). ``array_distinct`` makes a
    replayed instant a no-op: each sequence keeps an instant equal to one
    it already holds once. So re-appending a batch changes nothing, a
    feature repeated verbatim in one snapshot collapses to one instant, and
    a uuid repeated in one snapshot with differing values keeps one instant
    in each sequence where the values agree (its ``id``, say)."""
    return sequences.groupBy("uuid").agg(
        F.struct(
            F.min("timerange.start").alias("start"),
            F.max("timerange.end").alias("end"),
        ).alias("timerange"),
        *[
            F.array_distinct(F.sort_array(F.flatten(F.collect_list(name)))).alias(name)
            for name in ("positions", *_MEASURES)
        ],
        *[
            F.min_by(name, "timerange.start").alias(name)
            for name in ("color", "direction", "lineId")
        ],
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


class TemporalStore(Store):
    """Per-entity sequence store with batch-append (recompute) semantics."""

    schemas = {"": TEMPORAL_SCHEMA}

    def write(self, documents: DataFrame, mode: str = "overwrite") -> None:
        """Write the documents' sequences. ``mode="append"`` is W4/J9's
        instant append, pure-recompute flavor: the stored rows and the
        batch's partial sequences go through the one ``_merge``
        aggregate, so each uuid keeps one row. (Reference mutates rows
        via ``appendinstant``; recompute is the deterministic distributed
        equivalent.) Replaying a batch changes nothing: its instants are
        already held. Appending to a missing store is a plain write."""
        spark = documents.sparkSession
        partials = _partials(documents)
        if mode == "append":
            recover_dir(spark, self.path)
            if exists(spark, self.path):
                merged = _merge(self.scan(spark).unionByName(partials))
                # Self-overwrite: write aside, then swap (persist() is NOT
                # a reliability barrier — an evicted cached partition
                # would recompute against files an in-place overwrite
                # already deleted)
                replace_dir(spark, self.path, merged.write.mode("overwrite").parquet)
                return
        _merge(partials).write.mode(mode).parquet(self.path)

    def scan(self, spark: SparkSession) -> DataFrame:
        return self._read(spark)

    def append_batch(self, spark: SparkSession, documents: DataFrame) -> None:
        """``write(documents, mode="append")``, under the name perfbench calls."""
        self.write(documents, mode="append")

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
        # the instant's values under the flat column names, so the one
        # re-nest builds the feature (direction is stored decoded)
        flat = hit.select(
            F.lit(timestamp).alias("timestamp"),
            "uuid",
            "color",
            encode_direction(F.col("direction")).alias("direction"),
            "lineId",
            pos["lon"].alias("coordinates_0"),
            pos["lat"].alias("coordinates_1"),
            *[at_timestamp(F.col(name), ts).alias(name) for name in _MEASURES],
        )
        return renest_documents(flat)
