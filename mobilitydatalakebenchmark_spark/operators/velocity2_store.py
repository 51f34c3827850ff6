"""Two-level normalized pipeline — the snowflake strategy.

Reference: ``stores/postgresql_velocity_2levels.py`` (item + subitem
hash-consed dims, ``:77-85``; read path chains two dim joins ``:155-196``)
and ``stores/postgresql_velocity_split.py`` (the 'bus' dim ``:78-89``).

Levels here:
- bus dim:     one row per (color, direction, lineId) — the static route
               identity shared by many vehicles;
- vehicle dim: one row per uuid, referencing its bus (first-seen, A9);
- obs fact:    one row per observation, referencing the vehicle.

Reconstruction = obs ⋈ vehicle ⋈ bus (J4: chained broadcast joins).
Keys are full md5 hashes (deterministic, parallel, collision-safe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import (
    VELOCITY2_BUS_SCHEMA,
    VELOCITY2_OBS_SCHEMA,
    VELOCITY2_VEHICLE_SCHEMA,
)
from .flat_store import at_snapshot, explode_features, renest_documents, write_bucketed
from .maintenance import exists

_SCHEMAS = {
    "bus": VELOCITY2_BUS_SCHEMA,
    "vehicle": VELOCITY2_VEHICLE_SCHEMA,
    "obs": VELOCITY2_OBS_SCHEMA,
}


def build_velocity2_tables(
    documents: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    flat = explode_features(documents)
    bus_key = F.md5(
        F.concat_ws("|", F.col("color"), F.col("direction").cast("string"), F.col("lineId"))
    )
    veh_key = F.md5(F.col("uuid"))

    # first-seen vehicle row wins (A9); its bus assignment freezes there too
    w = Window.partitionBy("uuid").orderBy("timestamp")
    vehicle = (
        flat.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            veh_key.alias("vehicle_id"),
            "uuid",
            F.col("id").alias("vid"),
            bus_key.alias("bus_id"),
        )
    )
    bus = (
        flat.select(bus_key.alias("bus_id"), "color", "direction", "lineId")
        .dropDuplicates(["bus_id"])
    )
    obs = flat.select(
        "timestamp",
        veh_key.alias("vehicle_id"),
        "distance",
        "pointId",
        "distanceFromPoint",
        "coordinates_0",
        "coordinates_1",
    )
    return bus, vehicle, obs


class Velocity2ParquetStore:
    """Two-level snowflake store (bus ⟵ vehicle ⟵ obs)."""

    def __init__(self, path: str):
        self.path = path

    def _p(self, table: str) -> str:
        return f"{self.path}/{table}"

    def _read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.schema(_SCHEMAS[table]).parquet(self._p(table))

    def write(self, documents: DataFrame, mode: str = "overwrite") -> None:
        bus, vehicle, obs = build_velocity2_tables(documents)
        spark = documents.sparkSession
        for name, df_new, key in (("bus", bus, "bus_id"), ("vehicle", vehicle, "vehicle_id")):
            if mode == "append" and exists(spark, self._p(name)):
                # J7/J8: novelty anti-join per dim level
                stored = self._read(spark, name).select(key)
                df_new = df_new.join(stored, key, "left_anti")
            # both dims are bounded by the fleet: one part file per write
            df_new.coalesce(1).write.mode(mode).parquet(self._p(name))
        write_bucketed(obs, self._p("obs"), mode, entity="vehicle_id")

    def get_document(self, spark: SparkSession, timestamp: str) -> DataFrame:
        flat = (
            at_snapshot(self._read(spark, "obs"), timestamp)
            .join(F.broadcast(self._read(spark, "vehicle")), "vehicle_id")
            .join(F.broadcast(self._read(spark, "bus")), "bus_id")
            .withColumn("id", F.col("vid"))
        )
        return renest_documents(flat)

    def total_size(self) -> int:
        from ..sources.size import dir_size

        return dir_size(self.path)
