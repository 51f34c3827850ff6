"""Canonical schemas (SURVEY.md §1, FIXTURES.md §A).

The reference's data model is a stream of timestamped GeoJSON
FeatureCollection snapshots (reference: ``stores/base_store.py:4-22``,
``get_data.py:26-27``). Feature shape per ``stores/apache_parquet.py:28-59``
and ``stores/postgresql_python_conv.py:11-31``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# A.1 Raw GeoJSON document (nested). One row per snapshot.
# ---------------------------------------------------------------------------

PROPERTIES_SCHEMA = T.StructType(
    [
        T.StructField("uuid", T.StringType()),  # vehicle id (UUID as string)
        T.StructField("id", T.LongType()),
        T.StructField("color", T.StringType()),  # char(7) "#RRGGBB"
        T.StructField("direction", T.IntegerType()),  # in {1, 2}
        T.StructField("distance", T.DoubleType()),  # float32-safe values
        T.StructField("distanceFromPoint", T.IntegerType()),  # uint16 range
        T.StructField("lineId", T.StringType()),  # char(2)
        T.StructField("pointId", T.IntegerType()),
    ]
)

GEOMETRY_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),  # "Point"
        T.StructField("coordinates", T.ArrayType(T.DoubleType())),  # [lon, lat]
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),  # "Feature"
        T.StructField("id", T.StringType()),  # equals properties.uuid
        T.StructField("geometry", GEOMETRY_SCHEMA),
        T.StructField("properties", PROPERTIES_SCHEMA),
    ]
)

FEATURE_COLLECTION_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),  # "FeatureCollection"
        T.StructField("features", T.ArrayType(FEATURE_SCHEMA)),
    ]
)

# Document stream row: snapshot key + nested payload
# (key = ISO-8601 timestamp string, reference ``benchmark.py:38-39``).
DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.StringType(), False),
        T.StructField("data", FEATURE_COLLECTION_SCHEMA, False),
    ]
)

# ---------------------------------------------------------------------------
# A.2 Flat observation table — canonical engine schema.
# Per ``apache_parquet.py:45-59`` plus pointId (SURVEY.md §2.9 note 2:
# the reference's flat store drops pointId by accident; we keep it).
# ---------------------------------------------------------------------------

FLAT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.StringType(), False),  # snapshot key
        T.StructField("uuid", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("color", T.StringType()),
        T.StructField("direction", T.BooleanType()),  # stored direction-1
        T.StructField("distance", T.FloatType()),
        # uint16 in the reference (apache_parquet.py:53); Spark has no
        # unsigned types and 65535 overflows signed short -> IntegerType
        # (parquet bit-packs small ints, so disk cost is unchanged).
        T.StructField("distanceFromPoint", T.IntegerType()),
        T.StructField("lineId", T.StringType()),
        T.StructField("pointId", T.ShortType()),
        T.StructField("coordinates_0", T.FloatType()),  # lon
        T.StructField("coordinates_1", T.FloatType()),  # lat
    ]
)

# Partition column added on write: ts_bucket = substring(timestamp, 1, 13)
# (hour bucket, ``apache_parquet.py:17,27,107``).
TS_BUCKET_COL = "ts_bucket"
TS_BUCKET_LEN = 13  # "YYYY-MM-DDTHH"


def _partitioned(schema: T.StructType) -> T.StructType:
    """Read schema of a table written with ``partitionBy(ts_bucket)``: the
    partition column is declared as a string and reads back last."""
    return T.StructType(schema.fields + [T.StructField(TS_BUCKET_COL, T.StringType())])


def _flat_fields(*names: str) -> list[T.StructField]:
    return [FLAT_SCHEMA[name] for name in names]


_OBSERVATION_FIELDS = (
    "distance", "pointId", "distanceFromPoint", "coordinates_0", "coordinates_1"
)

# The flat store and the streaming ingester's table.
FLAT_STORE_SCHEMA = _partitioned(FLAT_SCHEMA)

# ---------------------------------------------------------------------------
# A.3 Normalized (velocity) star — 3 tables
# per ``apache_parquet_velocity.py:13-37`` / ``postgresql_velocity.py:19-39``.
# main: one row per snapshot; l1: one row per distinct vehicle (first-seen),
# keyed by md5(uuid); l2: one row per observation referencing l1.
# ---------------------------------------------------------------------------

VELOCITY_MAIN_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.StringType(), False),
        T.StructField(TS_BUCKET_COL, T.StringType()),
    ]
)

VELOCITY_L1_SCHEMA = T.StructType(
    [
        T.StructField("l1_id", T.StringType()),  # md5(uuid)
        T.StructField("uuid", T.StringType()),
        T.StructField("vid", T.LongType()),  # properties.id
        *_flat_fields("color", "direction", "lineId"),
    ]
)

VELOCITY_L2_SCHEMA = _partitioned(
    T.StructType(
        [
            FLAT_SCHEMA["timestamp"],
            T.StructField("l1_id", T.StringType()),
            *_flat_fields(*_OBSERVATION_FIELDS),
        ]
    )
)

# Two-level snowflake (``postgresql_velocity_2levels.py``): bus <- vehicle
# <- obs, keyed by md5 hashes.
VELOCITY2_BUS_SCHEMA = T.StructType(
    [
        T.StructField("bus_id", T.StringType()),
        *_flat_fields("color", "direction", "lineId"),
    ]
)

VELOCITY2_VEHICLE_SCHEMA = T.StructType(
    [
        T.StructField("vehicle_id", T.StringType()),
        T.StructField("uuid", T.StringType()),
        T.StructField("vid", T.LongType()),
        T.StructField("bus_id", T.StringType()),
    ]
)

VELOCITY2_OBS_SCHEMA = _partitioned(
    T.StructType(
        [
            FLAT_SCHEMA["timestamp"],
            T.StructField("vehicle_id", T.StringType()),
            *_flat_fields(*_OBSERVATION_FIELDS),
        ]
    )
)

# ---------------------------------------------------------------------------
# A.3b Encoded stores: the flat table with its coordinates replaced.
# ---------------------------------------------------------------------------

_FLAT_NO_COORDS = [f for f in FLAT_SCHEMA.fields if not f.name.startswith("coordinates_")]


def cantor_schema(packed: bool) -> T.StructType:
    """Cantor store: (lon, lat) paired into one integer, packed to 15
    little-endian bytes or kept as the decimal pair."""
    paired = T.BinaryType() if packed else T.DecimalType(38, 0)
    return _partitioned(
        T.StructType(_FLAT_NO_COORDS + [T.StructField("coords_paired", paired)])
    )


# Velocity-split store: per-document zone map + fixed-point offsets.
VELOCITY_SPLIT_DOC_SCHEMA = T.StructType(
    [
        FLAT_SCHEMA["timestamp"],
        T.StructField("min_lon", T.DoubleType()),
        T.StructField("min_lat", T.DoubleType()),
    ]
)

VELOCITY_SPLIT_OBS_SCHEMA = _partitioned(
    T.StructType(
        _FLAT_NO_COORDS
        + [T.StructField("lon_fp", T.LongType()), T.StructField("lat_fp", T.LongType())]
    )
)

# ---------------------------------------------------------------------------
# A.4 Temporal (MobilityDB-style) per-entity sequences.
# Temporal types tgeompoint/tfloat/tint/ttext (``mobility_db.py:44-56``)
# become array<struct<ts, value>> columns sorted by ts.
# ---------------------------------------------------------------------------


def instant_type(value_type: T.DataType) -> T.ArrayType:
    """array<struct<ts: timestamp, value: ...>> — the engine's temporal type."""
    return T.ArrayType(
        T.StructType(
            [
                T.StructField("ts", T.TimestampType(), False),
                T.StructField("value", value_type),
            ]
        )
    )


TEMPORAL_SCHEMA = T.StructType(
    [
        T.StructField("uuid", T.StringType(), False),
        T.StructField(
            "timerange",
            T.StructType(
                [
                    T.StructField("start", T.TimestampType()),
                    T.StructField("end", T.TimestampType()),
                ]
            ),
        ),
        T.StructField(
            "positions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("ts", T.TimestampType(), False),
                        T.StructField("lon", T.DoubleType()),
                        T.StructField("lat", T.DoubleType()),
                    ]
                )
            ),
        ),
        T.StructField("distance", instant_type(T.DoubleType())),
        T.StructField("distanceFromPoint", instant_type(T.IntegerType())),
        T.StructField("id", instant_type(T.LongType())),
        T.StructField("pointId", instant_type(T.IntegerType())),
        T.StructField("color", T.StringType()),
        T.StructField("direction", T.IntegerType()),
        T.StructField("lineId", T.StringType()),
    ]
)

# A.5 Streaming Count-Min table (streaming/countmin_stream.py): d*w cells
# stamped with the (run, epoch) of the merge that wrote them.

COUNTMIN_SCHEMA = T.StructType(
    [
        T.StructField("r", T.IntegerType()),
        T.StructField("b", T.LongType()),
        T.StructField("cell", T.LongType()),
        T.StructField("_txn_run", T.StringType()),
        T.StructField("_txn_epoch", T.LongType()),
    ]
)
