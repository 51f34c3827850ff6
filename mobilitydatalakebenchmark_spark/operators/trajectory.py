"""Trajectory analytics over flat vehicle observations (beyond-reference
depth for the mobility domain: the reference stores and reconstructs
tracks — `stores/mobility_db_batch.py:85-99` groups per-vehicle sequences —
but never analyzes them).

Input shape: one row per (vehicle, instant) with scalar lon/lat — the
canonical flat observation table (schemas.FLAT_SCHEMA). Every operator is
a per-vehicle window or aggregation: the only shuffle is keyed by the
vehicle id, so the work distributes evenly across any number of executors
(vehicle count >> executor count at fleet scale; per-vehicle history is
bounded), and all math is built-in column expressions — JVM-side,
codegen-friendly, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.codecs import epoch_s, epoch_us

EARTH_RADIUS_M = 6371008.8


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (haversine; standard public
    formula). Pure trig expressions — whole-stage codegen keeps this in
    the scan stage."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return 2 * EARTH_RADIUS_M * F.asin(F.sqrt(a))


def step_metrics(
    df: DataFrame,
    id_col: str = "uuid",
    ts_col: str = "ts",
    lon_col: str = "coordinates_0",
    lat_col: str = "coordinates_1",
) -> DataFrame:
    """Per-observation step metrics vs the previous fix of the same
    vehicle: elapsed seconds, great-circle meters, speed m/s. First fix of
    a vehicle has NULL steps. One shuffle (window keyed by vehicle)."""
    w = Window.partitionBy(id_col).orderBy(ts_col)
    prev_lat = F.lag(F.col(lat_col)).over(w)
    prev_lon = F.lag(F.col(lon_col)).over(w)
    dt_s = epoch_s(ts_col) - F.lag(epoch_s(ts_col)).over(w)
    dist = haversine_m(prev_lat, prev_lon, F.col(lat_col), F.col(lon_col))
    return df.withColumns(
        {
            "dt_s": dt_s,
            "step_m": F.round(dist, 2),
            "speed_mps": F.round(dist / F.nullif(dt_s.cast("double"), F.lit(0.0)), 4),
        }
    )


def trip_segments(
    df: DataFrame,
    gap_s: int = 300,
    id_col: str = "uuid",
    ts_col: str = "ts",
    lon_col: str = "coordinates_0",
    lat_col: str = "coordinates_1",
) -> DataFrame:
    """Segment each vehicle's track into trips at gaps > `gap_s` (the
    sessionization pattern applied to movement data), then summarize each
    trip: bounds, fix count, total distance, mean speed."""
    stepped = step_metrics(df, id_col, ts_col, lon_col, lat_col)
    w = Window.partitionBy(id_col).orderBy(ts_col)
    new_trip = F.when(
        F.col("dt_s").isNull() | (F.col("dt_s") > gap_s), 1
    ).otherwise(0)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trips = stepped.withColumn("trip_id", F.sum(new_trip).over(w_cum))
    # a trip's first step_m/dt_s belongs to the PREVIOUS trip's gap — zero
    # them out within the new trip so sums only count intra-trip motion.
    # Distance is summed as INTEGER CENTIMETERS (step_m is already rounded
    # to 2 decimals, so round(step_m*100) is lossless): integer sums are
    # aggregation-order-invariant, so the derived quotient
    # mean_speed_mps = (cm/100)/dt is bit-identical regardless of
    # partitioning or partial-agg order. (The r6 driver red row on this
    # gate was NOT a float flip — it was the oracle twin's un-cast
    # window sum(new_trip) widening to DuckDB HUGEINT against a
    # type-sensitive driver hash, fixed in r8 — but order-invariant
    # integer sums remain the right construction: a float sum's ~1e-13
    # relative order noise genuinely can flip a round(·, 4) cell.)
    in_trip_cm = F.when(
        new_trip == 0, F.round(F.col("step_m") * 100).cast("long")
    ).otherwise(F.lit(None).cast("long"))
    in_trip_dt = F.when(new_trip == 0, F.col("dt_s")).otherwise(F.lit(None))
    cm = F.coalesce(F.sum(in_trip_cm), F.lit(0).cast("long"))
    return trips.groupBy(id_col, "trip_id").agg(
        F.min(ts_col).alias("trip_start"),
        F.max(ts_col).alias("trip_end"),
        F.count("*").alias("n_fixes"),
        F.round(cm / 100.0, 2).alias("total_m"),
        F.round(
            (cm / 100.0) / F.nullif(F.sum(in_trip_dt).cast("double"), F.lit(0.0)),
            4,
        ).alias("mean_speed_mps"),
    )


def detect_stops(
    df: DataFrame,
    speed_thresh_mps: float = 0.5,
    min_duration_s: int = 60,
    id_col: str = "uuid",
    ts_col: str = "ts",
    lon_col: str = "coordinates_0",
    lat_col: str = "coordinates_1",
) -> DataFrame:
    """Stop intervals: maximal runs of consecutive slow fixes lasting at
    least `min_duration_s`. Run grouping via the rank-difference trick
    (two windows over the same vehicle partition — one shuffle)."""
    stepped = step_metrics(df, id_col, ts_col, lon_col, lat_col)
    is_slow = (F.col("speed_mps") < speed_thresh_mps) & F.col("speed_mps").isNotNull()
    w = Window.partitionBy(id_col).orderBy(ts_col)
    w_slow = Window.partitionBy(id_col, is_slow).orderBy(ts_col)
    runs = stepped.withColumns(
        {
            "is_slow": is_slow,
            "run_key": F.row_number().over(w) - F.row_number().over(w_slow),
        }
    )
    return (
        runs.filter(F.col("is_slow"))
        .groupBy(id_col, "run_key")
        .agg(
            F.min(ts_col).alias("stop_start"),
            F.max(ts_col).alias("stop_end"),
            F.count("*").alias("n_fixes"),
            F.round(F.avg(lon_col), 6).alias("stop_lon"),
            F.round(F.avg(lat_col), 6).alias("stop_lat"),
        )
        .filter(
            epoch_s("stop_end") - epoch_s("stop_start") >= min_duration_s
        )
        .drop("run_key")
    )


def simplify_tracks(
    df: DataFrame,
    tolerance_deg: float = 1e-4,
    id_col: str = "uuid",
    ts_col: str = "ts",
    lon_col: str = "coordinates_0",
    lat_col: str = "coordinates_1",
) -> DataFrame:
    """Douglas-Peucker polyline simplification per vehicle track: drop
    fixes whose perpendicular deviation from the segment between kept
    neighbors is below `tolerance_deg` (planar degrees — fine at city
    scale). Endpoints always survive.

    This is the one trajectory operator that is genuinely NOT a window
    expression (recursive split on the max-deviation point), so it runs
    as an applyInPandas grouped-map kernel: Arrow-batched numpy per
    vehicle, state never crosses vehicles, shuffle keyed by vehicle —
    the sanctioned slow path (SURVEY §2.8), used only where declarative
    operators cannot express the semantics."""
    import numpy as np
    import pandas as pd

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def _dp_mask(xs: "np.ndarray", ys: "np.ndarray", tol: float) -> "np.ndarray":
        n = len(xs)
        keep = np.zeros(n, dtype=bool)
        keep[0] = keep[n - 1] = True
        stack = [(0, n - 1)]
        while stack:
            a, b = stack.pop()
            if b - a < 2:
                continue
            dx, dy = xs[b] - xs[a], ys[b] - ys[a]
            seg_len = np.hypot(dx, dy)
            px, py = xs[a + 1 : b], ys[a + 1 : b]
            if seg_len == 0.0:
                dist = np.hypot(px - xs[a], py - ys[a])
            else:
                dist = np.abs(dx * (ys[a] - py) - dy * (xs[a] - px)) / seg_len
            i = int(np.argmax(dist))
            if dist[i] > tol:
                m = a + 1 + i
                keep[m] = True
                stack.append((a, m))
                stack.append((m, b))
        return keep

    def _simplify(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        if len(pdf) <= 2:
            return pdf
        mask = _dp_mask(
            pdf[lon_col].to_numpy(dtype="f8"),
            pdf[lat_col].to_numpy(dtype="f8"),
            tolerance_deg,
        )
        return pdf[mask]

    return df.groupBy(id_col).applyInPandas(_simplify, schema=out_schema)


def proximity_pairs(
    df: DataFrame,
    radius_m: float,
    id_col: str = "uuid",
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_lat_deg: float | None = None,
    cell_lon_deg: float | None = None,
) -> DataFrame:
    """All point pairs within ``radius_m`` meters (great-circle), via a
    grid-bucketed self-join: assign each point its (lat, lon) grid cell,
    explode one side to the 3x3 neighbor cells, equi-join on the cell key,
    then verify the exact haversine distance. Output: one row per unordered
    pair (id_a < id_b) with `dist_m`.

    Scale: the naive pair scan is O(n²); this is linear in points + true
    pairs — the shuffle key is the grid cell, so co-located points land in
    the same partition and everything else never meets. Each pair is
    emitted exactly once (the probe side lives in exactly one cell, the
    exploded side covers it once). Skewed cells (dense urban cores) are
    AQE-split like any skewed join key.

    Cell sizes must be at least the largest degree-span of ``radius_m``
    anywhere in the data; the defaults derive from the worst case at
    |lat| <= 80 deg (meters per lon degree shrinks with cos(lat)).
    """
    if cell_lat_deg is None:
        cell_lat_deg = radius_m / 110574.0 * 1.1
    if cell_lon_deg is None:
        import math

        cell_lon_deg = radius_m / (111320.0 * math.cos(math.radians(80.0))) * 1.1

    cx = F.floor(F.col(lat_col) / cell_lat_deg).cast("long")
    cy = F.floor(F.col(lon_col) / cell_lon_deg).cast("long")
    pts = df.select(
        F.col(id_col), F.col(lat_col), F.col(lon_col), cx.alias("_cx"), cy.alias("_cy")
    )
    neighbors = F.array(
        *[
            F.struct(
                (F.col("_cx") + dx).alias("cx"), (F.col("_cy") + dy).alias("cy")
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    a = pts.select(
        F.col(id_col).alias("id_a"),
        F.col(lat_col).alias("lat_a"),
        F.col(lon_col).alias("lon_a"),
        F.explode(neighbors).alias("_cell"),
    ).select("id_a", "lat_a", "lon_a", "_cell.cx", "_cell.cy")
    b = pts.select(
        F.col(id_col).alias("id_b"),
        F.col(lat_col).alias("lat_b"),
        F.col(lon_col).alias("lon_b"),
        F.col("_cx").alias("cx"),
        F.col("_cy").alias("cy"),
    )
    dist = haversine_m(
        F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
    )
    return (
        a.join(b, ["cx", "cy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist_m", F.round(dist, 2))
        .filter(F.col("dist_m") <= radius_m)
        .select("id_a", "id_b", "dist_m")
    )


def co_location_pairs(
    df: DataFrame,
    radius_m: float,
    window_s: int,
    id_col: str = "uuid",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_lat_deg: float | None = None,
    cell_lon_deg: float | None = None,
) -> DataFrame:
    """Spatiotemporal co-location: entity pairs that were within
    ``radius_m`` meters AND ``window_s`` seconds of each other, aggregated
    per pair (contact count + closest approach). The contact-tracing /
    encounter-mining primitive over observation histories.

    Same grid trick as `proximity_pairs` with time as a third bucket axis:
    one side explodes to its 3x3x3 neighbor (lat-cell, lon-cell,
    time-bucket) keys, the other keeps its single key, so the join is an
    equi-join on the composite bucket — linear in observations + true
    contacts. A probe observation owns exactly one bucket, so each
    observation pair meets exactly once; exact distance and |dt| are
    verified post-join. Time buckets are integer-divided epoch micros
    (exact, no float drift)."""
    if cell_lat_deg is None:
        cell_lat_deg = radius_m / 110574.0 * 1.1
    if cell_lon_deg is None:
        import math

        cell_lon_deg = radius_m / (111320.0 * math.cos(math.radians(80.0))) * 1.1

    tus = epoch_us(ts_col)
    pts = df.select(
        F.col(id_col),
        F.col(lat_col),
        F.col(lon_col),
        tus.alias("_tus"),
        F.floor(F.col(lat_col) / cell_lat_deg).cast("long").alias("_cx"),
        F.floor(F.col(lon_col) / cell_lon_deg).cast("long").alias("_cy"),
        # integer division (SQL `div`) — exact at epoch-micro magnitudes,
        # where a double-divide-then-floor can land on the wrong bucket
        F.expr(
            f"unix_micros(cast({ts_col} as timestamp)) div {window_s * 1_000_000}"
        ).alias("_tb"),
    )
    # the 27 neighbour keys as one SQL expression: one call to build, where
    # a Column per field costs a JVM round trip each
    neighbors = ", ".join(
        f"named_struct('cx', _cx + {dx}, 'cy', _cy + {dy}, 'tb', _tb + {dt})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        for dt in (-1, 0, 1)
    )
    a = pts.select(
        F.col(id_col).alias("id_a"),
        F.col(lat_col).alias("lat_a"),
        F.col(lon_col).alias("lon_a"),
        F.col("_tus").alias("tus_a"),
        F.expr(f"inline(array({neighbors}))"),
    )
    b = pts.select(
        F.col(id_col).alias("id_b"),
        F.col(lat_col).alias("lat_b"),
        F.col(lon_col).alias("lon_b"),
        F.col("_tus").alias("tus_b"),
        F.col("_cx").alias("cx"),
        F.col("_cy").alias("cy"),
        F.col("_tb").alias("tb"),
    )
    dist = F.round(
        haversine_m(F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")), 2
    )
    contacts = a.join(b, ["cx", "cy", "tb"]).filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("tus_a") - F.col("tus_b")) <= F.lit(window_s * 1_000_000))
        & (dist <= radius_m)
    )
    return contacts.groupBy("id_a", "id_b").agg(
        F.count("*").alias("n_contacts"),
        F.min(dist).alias("min_dist_m"),
    )


def od_matrix(
    df: DataFrame,
    gap_s: int = 300,
    cell_lat_deg: float = 1.0,
    cell_lon_deg: float = 1.0,
    id_col: str = "uuid",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Origin-destination matrix: segment tracks into trips at gaps >
    ``gap_s`` (the same sessionization as `trip_segments`), take each
    trip's first and last fix, bucket both into a lat/lon grid and count
    trips per (origin cell, destination cell) — the flow-aggregation
    primitive behind OD demand studies.

    Shuffle shape: one entity-keyed window pass to number trips, then the
    per-trip endpoints are struct-min/max aggregates (combinable — no
    second sort), and the final count groups by the 4-part cell key whose
    cardinality is bounded by the grid, not the data. ``tiebreak_cols``
    break equal-timestamp fixes deterministically."""
    order_cols = [ts_col, *tiebreak_cols]
    w = Window.partitionBy(id_col).orderBy(*order_cols)
    dt_s = epoch_s(ts_col) - F.lag(epoch_s(ts_col)).over(w)
    new_trip = F.when(dt_s.isNull() | (dt_s > gap_s), 1).otherwise(0)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    endpoint = F.struct(
        *[F.col(c) for c in order_cols], F.col(lat_col), F.col(lon_col)
    )
    trips = (
        df.withColumn("_trip", F.sum(new_trip).over(w_cum))
        .groupBy(id_col, "_trip")
        .agg(F.min(endpoint).alias("_o"), F.max(endpoint).alias("_d"))
    )
    cell = lambda c, size: F.floor(c / size).cast("long")  # noqa: E731
    return trips.groupBy(
        cell(F.col(f"_o.{lat_col}"), cell_lat_deg).alias("o_cx"),
        cell(F.col(f"_o.{lon_col}"), cell_lon_deg).alias("o_cy"),
        cell(F.col(f"_d.{lat_col}"), cell_lat_deg).alias("d_cx"),
        cell(F.col(f"_d.{lon_col}"), cell_lon_deg).alias("d_cy"),
    ).agg(F.count("*").alias("n_trips"))
