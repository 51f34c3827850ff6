"""Encoded storage pipelines — the coordinate-compression strategies.

Reference stores reproduced:
- ApacheParquetCantorStore (``stores/apache_parquet_cantor.py``): flat table
  with (lon, lat) replaced by one pairing-function integer, packed to
  15-byte little-endian binary (P12+P13). Decode on read.
- PostgreSQLVelocitySplitStore (``stores/postgresql_velocity_split.py``):
  per-document zone map (min lon/lat, A4) + fixed-point delta-encoded
  coordinates against the zone minimum (P11), restored on read
  (``:176-179``).

Both are pure column-expression transforms over the flat observation table;
compression comes from storing small/structured integers that parquet
encodes tightly (delta/bit-packing), exactly the physical effect the
reference was measuring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codecs import (
    decode_fixed_point,
    elegant_pair,
    elegant_unpair,
    encode_fixed_point,
    pack_le_bytes,
    unpack_le_bytes,
)
from ..schemas import (
    VELOCITY_SPLIT_DOC_SCHEMA,
    VELOCITY_SPLIT_OBS_SCHEMA,
    cantor_schema,
)
from .flat_store import at_snapshot, explode_features, renest_documents, write_bucketed
from .store import Store


class CantorParquetStore(Store):
    """Flat store with paired+packed coordinates (P12/P13).

    ``packed=True`` stores the 15-byte binary exactly like the reference's
    ``pyarrow.binary(15)`` column; ``packed=False`` keeps the Decimal(38,0)
    pair (pure-expression path, no pandas_udf in the write). Positive
    coordinates only (offset=0), matching the reference's domain."""

    def __init__(self, path: str, packed: bool = True):
        super().__init__(path)
        self.packed = packed
        self.schemas = {"": cantor_schema(packed)}

    def write(self, documents: DataFrame, mode: str = "overwrite") -> None:
        flat = explode_features(documents)
        pair = elegant_pair(
            F.col("coordinates_0").cast("double"),
            F.col("coordinates_1").cast("double"),
            offset=0,
        )
        coord_col = pack_le_bytes(pair) if self.packed else pair
        encoded = flat.withColumn("coords_paired", coord_col).drop(
            "coordinates_0", "coordinates_1"
        )
        write_bucketed(encoded, self.path, mode, entity="uuid")

    def scan_decoded(self, spark: SparkSession) -> DataFrame:
        df = self._read(spark)
        z = (
            unpack_le_bytes(F.col("coords_paired"))
            if self.packed
            else F.col("coords_paired")
        )
        lon, lat = elegant_unpair(z, offset=0)
        return df.withColumns(
            {
                "coordinates_0": lon.cast("float"),
                "coordinates_1": lat.cast("float"),
            }
        ).drop("coords_paired")

    def get_document(self, spark: SparkSession, timestamp: str) -> DataFrame:
        return renest_documents(at_snapshot(self.scan_decoded(spark), timestamp))


class VelocitySplitParquetStore(Store):
    """Zone-mapped fixed-point store (A4 + P11).

    doc table: (timestamp, min_lon, min_lat) — the per-document zone map;
    obs table: coordinates as long offsets from the zone minimum."""

    schemas = {"doc": VELOCITY_SPLIT_DOC_SCHEMA, "obs": VELOCITY_SPLIT_OBS_SCHEMA}

    def write(self, documents: DataFrame, mode: str = "overwrite") -> None:
        """The zone map is computed per document row, over its own
        features: no aggregate across rows, so the ``doc`` write is one
        narrow job and ``obs`` carries each document's minima onto its
        rows with no join. ``doc`` holds one row per non-empty snapshot
        and gets one part file per write."""

        def lowest(axis: int) -> F.Column:
            # the minimum of the coordinate as explode_features stores it
            return F.array_min(
                F.transform(
                    "data.features",
                    lambda f: f["geometry"]["coordinates"][axis]
                    .cast("float")
                    .cast("double"),
                )
            )

        zoned = documents.withColumns({"min_lon": lowest(0), "min_lat": lowest(1)})
        zoned.filter(F.size("data.features") > 0).select(
            "timestamp", "min_lon", "min_lat"
        ).coalesce(1).write.mode(mode).parquet(self._p("doc"))
        obs = (
            explode_features(zoned, "min_lon", "min_lat")
            .withColumns(
                {
                    "lon_fp": encode_fixed_point(
                        F.col("coordinates_0").cast("double"), F.col("min_lon")
                    ),
                    "lat_fp": encode_fixed_point(
                        F.col("coordinates_1").cast("double"), F.col("min_lat")
                    ),
                }
            )
            .drop("coordinates_0", "coordinates_1", "min_lon", "min_lat")
        )
        write_bucketed(obs, self._p("obs"), mode, entity="uuid")

    def get_document(self, spark: SparkSession, timestamp: str) -> DataFrame:
        zone = self._read(spark, "doc").filter(F.col("timestamp") == timestamp)
        obs = at_snapshot(self._read(spark, "obs"), timestamp)
        flat = (
            obs.join(F.broadcast(zone), "timestamp")
            .withColumns(
                {
                    "coordinates_0": decode_fixed_point(
                        F.col("lon_fp"), F.col("min_lon")
                    ).cast("float"),
                    "coordinates_1": decode_fixed_point(
                        F.col("lat_fp"), F.col("min_lat")
                    ).cast("float"),
                }
            )
            .drop("lon_fp", "lat_fp", "min_lon", "min_lat")
        )
        return renest_documents(flat)
