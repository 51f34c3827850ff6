"""The fixed query set of the ``lake_scan`` workload, each with the DuckDB
query its result is checked against.

Operator queries run over a scan of the flat store; their DuckDB twins
read the same parquet files. The mobility ``plans`` gates run over the
generated events table and are checked against their registry oracle.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mobilitydatalakebenchmark_spark.operators import mobility_metrics, trajectory
from mobilitydatalakebenchmark_spark.operators.flat_store import FlatParquetStore
from mobilitydatalakebenchmark_spark.schemas import TS_BUCKET_COL

GATES = (
    "trajectory_trip_segments",
    "trajectory_stop_detection",
    "co_location_contacts",
    "od_matrix_trips",
    "mobility_radius_of_gyration",
    "w3_asof_lookup",
    "a1_entity_sequences",
    "w1_tumbling_hour",
)

# Thresholds sized to the generated stream: 20 s cadence, each vehicle
# seen in 75-100 % of snapshots, positions uniform in a ~14 km box (so a
# step is a few hundred m/s). Every query returns rows.
TRIP_GAP_S = 40
STOP_SPEED_MPS = 250.0
STOP_MIN_S = 40
SIMPLIFY_TOL_DEG = 0.02
CELL_DEG = 0.02
OD_CELL_DEG = 0.05

_HAV = (
    "2 * 6371008.8 * asin(sqrt(sin(radians(lat - plat) / 2) ^ 2"
    " + cos(radians(plat)) * cos(radians(lat)) * sin(radians(lon - plon) / 2) ^ 2))"
)
_STEPPED = """stepped AS (
  SELECT uuid, ts, lat, lon, lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
         epoch_us(ts) // 1000000 - lag(epoch_us(ts) // 1000000) OVER w AS dt_s
  FROM fixes WINDOW w AS (PARTITION BY uuid ORDER BY ts)
)"""


@dataclass
class Query:
    name: str  # span name: layer.module.function
    build: Callable[[], DataFrame]
    oracle: str | None  # DuckDB SQL; None for simplify_tracks (checked by invariant)


def _fixes(flat: FlatParquetStore) -> DataFrame:
    return flat.scan().select(
        "uuid",
        F.to_timestamp("timestamp").alias("ts"),
        F.col("coordinates_0").cast("double").alias("lon"),
        F.col("coordinates_1").cast("double").alias("lat"),
    )


def operator_queries(
    flat: FlatParquetStore, range_uuid: str, range_lo: str, range_hi: str
) -> list[Query]:
    def trips():
        return trajectory.trip_segments(
            _fixes(flat), gap_s=TRIP_GAP_S, lon_col="lon", lat_col="lat"
        )

    def stops():
        return trajectory.detect_stops(
            _fixes(flat),
            speed_thresh_mps=STOP_SPEED_MPS,
            min_duration_s=STOP_MIN_S,
            lon_col="lon",
            lat_col="lat",
        )

    def simplify():
        return trajectory.simplify_tracks(
            _fixes(flat), tolerance_deg=SIMPLIFY_TOL_DEG, lon_col="lon", lat_col="lat"
        )

    def od():
        return trajectory.od_matrix(
            _fixes(flat), gap_s=TRIP_GAP_S, cell_lat_deg=OD_CELL_DEG, cell_lon_deg=OD_CELL_DEG
        )

    def gyration():
        return mobility_metrics.radius_of_gyration(_fixes(flat))

    def entropy():
        visits = mobility_metrics.cell_visits(_fixes(flat), CELL_DEG, CELL_DEG)
        return mobility_metrics.location_entropy(visits)

    def track():
        return (
            flat.scan()
            .filter(
                (F.col("uuid") == range_uuid)
                & F.col(TS_BUCKET_COL).between(range_lo[:13], range_hi[:13])
                & F.col("timestamp").between(range_lo, range_hi)
            )
            .select("timestamp", "coordinates_0", "coordinates_1", "distance")
            .orderBy("timestamp")
        )

    def windowed():
        obs = flat.scan().withColumn("ts", F.to_timestamp("timestamp"))
        return (
            obs.groupBy(F.window("ts", "10 minutes").alias("w"), "lineId")
            .agg(
                F.count("*").alias("n_obs"),
                F.countDistinct("uuid").alias("n_vehicles"),
                F.round(F.avg("distance"), 2).alias("avg_distance"),
            )
            .select(F.col("w.start").alias("window_start"), "lineId", "n_obs",
                    "n_vehicles", "avg_distance")
        )

    return [
        Query("operators.trajectory.trip_segments", trips, f"""
WITH {_STEPPED}, flagged AS (
  SELECT uuid, ts, dt_s,
         CASE WHEN dt_s IS NULL OR dt_s > {TRIP_GAP_S} THEN 1 ELSE 0 END AS new_trip,
         CAST(round(round({_HAV}, 2) * 100) AS BIGINT) AS step_cm
  FROM stepped
), trips AS (
  SELECT *, sum(new_trip) OVER (PARTITION BY uuid ORDER BY ts ROWS UNBOUNDED PRECEDING)
            AS trip_id
  FROM flagged
)
SELECT uuid, trip_id, min(ts) AS trip_start, max(ts) AS trip_end, count(*) AS n_fixes,
       round(coalesce(sum(CASE WHEN new_trip = 0 THEN step_cm END), 0) / 100.0, 2)
           AS total_m,
       round((coalesce(sum(CASE WHEN new_trip = 0 THEN step_cm END), 0) / 100.0)
             / nullif(CAST(sum(CASE WHEN new_trip = 0 THEN dt_s END) AS DOUBLE), 0), 4)
           AS mean_speed_mps
FROM trips GROUP BY uuid, trip_id"""),
        Query("operators.trajectory.detect_stops", stops, f"""
WITH {_STEPPED}, speeds AS (
  SELECT uuid, ts, lat, lon,
         round({_HAV} / nullif(CAST(dt_s AS DOUBLE), 0), 4) AS speed_mps
  FROM stepped
), runs AS (
  SELECT *, (speed_mps IS NOT NULL AND speed_mps < {STOP_SPEED_MPS}) AS is_slow,
         row_number() OVER (PARTITION BY uuid ORDER BY ts)
         - row_number() OVER (PARTITION BY uuid,
               (speed_mps IS NOT NULL AND speed_mps < {STOP_SPEED_MPS}) ORDER BY ts)
           AS run_key
  FROM speeds
)
SELECT uuid, min(ts) AS stop_start, max(ts) AS stop_end, count(*) AS n_fixes,
       round(avg(lon), 6) AS stop_lon, round(avg(lat), 6) AS stop_lat
FROM runs WHERE is_slow GROUP BY uuid, run_key
HAVING epoch_us(max(ts)) // 1000000 - epoch_us(min(ts)) // 1000000 >= {STOP_MIN_S}"""),
        Query("operators.trajectory.simplify_tracks", simplify, None),
        Query("operators.trajectory.od_matrix", od, f"""
WITH stepped AS (
  SELECT uuid, ts, lat, lon,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) // 1000000 - lag(epoch_us(ts) // 1000000) OVER w
                   > {TRIP_GAP_S}
              THEN 1 ELSE 0 END AS new_trip
  FROM fixes WINDOW w AS (PARTITION BY uuid ORDER BY ts)
), trips AS (
  SELECT *, sum(new_trip) OVER (PARTITION BY uuid ORDER BY ts ROWS UNBOUNDED PRECEDING)
            AS trip_id
  FROM stepped
), ends AS (
  SELECT uuid, trip_id, arg_min(lat, ts) AS o_lat, arg_min(lon, ts) AS o_lon,
         arg_max(lat, ts) AS d_lat, arg_max(lon, ts) AS d_lon
  FROM trips GROUP BY uuid, trip_id
)
SELECT CAST(floor(o_lat / {OD_CELL_DEG}) AS BIGINT) AS o_cx,
       CAST(floor(o_lon / {OD_CELL_DEG}) AS BIGINT) AS o_cy,
       CAST(floor(d_lat / {OD_CELL_DEG}) AS BIGINT) AS d_cx,
       CAST(floor(d_lon / {OD_CELL_DEG}) AS BIGINT) AS d_cy,
       count(*) AS n_trips
FROM ends GROUP BY ALL"""),
        Query("operators.mobility_metrics.radius_of_gyration", gyration, """
WITH cent AS (SELECT uuid, avg(lat) AS clat, avg(lon) AS clon FROM fixes GROUP BY uuid)
SELECT f.uuid, count(*) AS n_obs,
       round(sqrt(avg(pow(2 * 6371008.8 * asin(sqrt(
           sin(radians(c.clat - f.lat) / 2) ^ 2
           + cos(radians(f.lat)) * cos(radians(c.clat))
             * sin(radians(c.clon - f.lon) / 2) ^ 2)), 2))), 2) AS rg_m
FROM fixes f JOIN cent c USING (uuid) GROUP BY f.uuid"""),
        Query("operators.mobility_metrics.location_entropy", entropy, f"""
WITH visits AS (
  SELECT uuid, CAST(floor(lat / {CELL_DEG}) AS BIGINT) AS cx,
         CAST(floor(lon / {CELL_DEG}) AS BIGINT) AS cy, count(*) AS n
  FROM fixes GROUP BY ALL
), per AS (
  SELECT uuid, sum(n) AS total, sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS s
  FROM visits GROUP BY uuid
)
SELECT uuid, CAST(total AS BIGINT) AS n_obs,
       round(ln(CAST(total AS DOUBLE)) - s / total, 4) AS entropy_nats
FROM per"""),
        Query("operators.flat_store.range_scan", track, f"""
SELECT "timestamp", coordinates_0, coordinates_1, distance FROM flat
WHERE uuid = '{range_uuid}' AND "timestamp" BETWEEN '{range_lo}' AND '{range_hi}'"""),
        Query("operators.flat_store.window_aggregate", windowed, """
SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS window_start, lineId, count(*) AS n_obs,
       count(DISTINCT uuid) AS n_vehicles, round(avg(distance), 2) AS avg_distance
FROM fixes GROUP BY ALL"""),
    ]


def gate_queries(registry, sf_dir: str, spark) -> list[Query]:
    return [
        Query(f"plans.{name}", lambda q=registry[name]: q.spark(spark, sf_dir),
              registry[name].oracle)
        for name in GATES
    ]


def duckdb_views(con, flat_path: str, events_path: str) -> None:
    con.execute(
        "CREATE VIEW flat AS SELECT * FROM read_parquet("
        f"'{flat_path}/**/*.parquet', hive_partitioning = true)"
    )
    con.execute(
        'CREATE VIEW fixes AS SELECT uuid, CAST("timestamp" AS TIMESTAMP) AS ts, '
        "CAST(coordinates_0 AS DOUBLE) AS lon, CAST(coordinates_1 AS DOUBLE) AS lat, "
        "lineId, distance FROM flat"
    )
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")


def simplify_problems(con, rows: list) -> list[str]:
    """Douglas-Peucker keeps both endpoints of every track and only drops
    points: check that against the input tracks."""
    want = {
        uuid: (lo, hi, n)
        for uuid, lo, hi, n in con.execute(
            "SELECT uuid, min(ts), max(ts), count(*) FROM fixes GROUP BY uuid"
        ).fetchall()
    }
    kept: dict[str, set] = {}
    for r in rows:
        kept.setdefault(r["uuid"], set()).add(r["ts"])
    if set(kept) != set(want):
        return [f"simplify_tracks: {len(set(kept) ^ set(want))} tracks differ"]
    for uuid, (lo, hi, n) in want.items():
        if lo not in kept[uuid] or hi not in kept[uuid] or len(kept[uuid]) > n:
            return [f"simplify_tracks: track {uuid} lost an endpoint or grew"]
    return []
