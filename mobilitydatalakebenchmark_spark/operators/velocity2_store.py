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
from .store import Store


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


class Velocity2ParquetStore(Store):
    """Two-level snowflake store (bus ⟵ vehicle ⟵ obs)."""

    schemas = {
        "bus": VELOCITY2_BUS_SCHEMA,
        "vehicle": VELOCITY2_VEHICLE_SCHEMA,
        "obs": VELOCITY2_OBS_SCHEMA,
    }

    def write(self, documents: DataFrame, mode: str = "overwrite") -> None:
        bus, vehicle, obs = build_velocity2_tables(documents)
        for name, df_new, key in (("bus", bus, "bus_id"), ("vehicle", vehicle, "vehicle_id")):
            if mode == "append":
                # J7/J8: novelty anti-join per dim level
                df_new = self.novel(df_new, key, name)
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
