"""Per-entity mobility metrics (beyond-reference depth: the standard
human/fleet-mobility statistics literature — visit entropy, radius of
gyration, frequent-location detection — over the flat observation table).

Every metric is one or two entity-keyed aggregations: the shuffle key is
the entity id (uniformly distributed at fleet scale), all math is built-in
column expressions, and intermediate cardinality is |entities| x |cells|
at worst — never the raw observation count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .trajectory import haversine_m


def cell_visits(
    df: DataFrame,
    cell_lat_deg: float = 1.0,
    cell_lon_deg: float = 1.0,
    id_col: str = "uuid",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """(entity, cell, n_visits): observations bucketed into a lat/lon grid
    and counted — the shared input of entropy and frequent-location
    detection. One shuffle on (entity, cell)."""
    return df.groupBy(
        F.col(id_col),
        F.floor(F.col(lat_col) / cell_lat_deg).cast("long").alias("cx"),
        F.floor(F.col(lon_col) / cell_lon_deg).cast("long").alias("cy"),
    ).agg(F.count("*").alias("n_visits"))


def location_entropy(
    visits: DataFrame, id_col: str = "uuid"
) -> DataFrame:
    """Shannon entropy (nats) of each entity's cell-visit distribution:
    H = -sum p ln p over its visited cells. 0 = perfectly predictable
    (one cell); ln(k) = uniform over k cells. Input is `cell_visits`
    output; this adds only an entity-keyed re-aggregation of the already
    cell-collapsed rows."""
    per_entity = visits.groupBy(id_col).agg(
        F.sum("n_visits").alias("_total"),
        F.sum(
            F.col("n_visits").cast("double")
            * F.log(F.col("n_visits").cast("double"))
        ).alias("_sum_n_ln_n"),
    )
    # -sum (n/T) ln(n/T) = ln T - (sum n ln n)/T  — one pass, no per-cell
    # division, numerically identical across engines after rounding
    return per_entity.select(
        id_col,
        F.col("_total").alias("n_obs"),
        F.round(
            F.log(F.col("_total").cast("double"))
            - F.col("_sum_n_ln_n") / F.col("_total"),
            4,
        ).alias("entropy_nats"),
    )


def radius_of_gyration(
    df: DataFrame,
    id_col: str = "uuid",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Radius of gyration per entity: sqrt(mean squared great-circle
    distance from the entity's centroid of visited positions) — the
    standard travel-range statistic (Gonzalez et al. 2008 form). Two
    entity-keyed aggregations (centroid, then mean squared distance to
    it), joined back — the centroid side is |entities| rows and
    broadcast-joins onto the observations."""
    cent = df.groupBy(id_col).agg(
        F.avg(F.col(lat_col)).alias("_clat"),
        F.avg(F.col(lon_col)).alias("_clon"),
    )
    d = haversine_m(
        F.col(lat_col), F.col(lon_col), F.col("_clat"), F.col("_clon")
    )
    return (
        df.join(F.broadcast(cent), id_col)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_obs"),
            F.round(F.sqrt(F.avg(d * d)), 2).alias("rg_m"),
        )
    )


def frequent_locations(
    visits: DataFrame, k: int = 2, id_col: str = "uuid"
) -> DataFrame:
    """Top-k visited cells per entity (rank 1 ~ home, rank 2 ~ work in the
    classic interpretation), deterministic tie-break by cell key. Window
    rank over the cell-collapsed table — per-entity group size is the
    entity's visited-cell count, already far smaller than its raw
    observations."""
    w = Window.partitionBy(id_col).orderBy(
        F.desc("n_visits"), F.asc("cx"), F.asc("cy")
    )
    return (
        visits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "rk", "cx", "cy", "n_visits")
    )


def k_anonymous_cells(
    df: DataFrame,
    k: int = 5,
    cell_lat_deg: float = 1.0,
    cell_lon_deg: float = 1.0,
    id_col: str = "uuid",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Location k-anonymity audit: per grid cell, the distinct-entity
    count and a `suppressed` flag for cells observed by fewer than ``k``
    entities — the pre-publication privacy gate for location datasets
    (publishing a cell seen by one user re-identifies them). One shuffle
    keyed by cell; distinct-entity counting is the only expensive part
    and is exact (count_distinct), since under-counting k would leak."""
    return (
        df.select(
            F.floor(F.col(lat_col) / cell_lat_deg).cast("long").alias("cx"),
            F.floor(F.col(lon_col) / cell_lon_deg).cast("long").alias("cy"),
            F.col(id_col),
        )
        .groupBy("cx", "cy")
        .agg(
            F.countDistinct(id_col).alias("n_entities"),
            F.count("*").alias("n_obs"),
        )
        .withColumn("suppressed", F.col("n_entities") < k)
    )


def cell_pyramid(
    visits: DataFrame,
    n_levels: int = 4,
    id_col: str | None = None,
) -> DataFrame:
    """Multi-resolution tile pyramid from the finest-level visit table:
    level 0 is the input grid; each coarser level halves the resolution
    by integer-dividing the cell key (floor(lat/s)//2 == floor(lat/2s),
    so level k's cells are exactly the direct bucketing at 2^k x the base
    cell size). Every level aggregates the PREVIOUS level — |cells_k|
    rows, never the raw observations — the same mergeable-state idea as
    the time rollup applied spatially (the map-tile / dashboard
    pre-aggregation pattern). Output: (level, cx, cy, n_obs)."""
    level = (
        visits.groupBy("cx", "cy")
        .agg(F.sum("n_visits").alias("n_obs"))
        .withColumn("level", F.lit(0))
    )
    out = [level]
    for k in range(1, n_levels):
        level = (
            out[-1]
            .select(
                F.floor(F.col("cx") / 2).cast("long").alias("cx"),
                F.floor(F.col("cy") / 2).cast("long").alias("cy"),
                "n_obs",
            )
            .groupBy("cx", "cy")
            .agg(F.sum("n_obs").alias("n_obs"))
            .withColumn("level", F.lit(k))
        )
        out.append(level)
    result = out[0]
    for lvl in out[1:]:
        result = result.unionByName(lvl)
    return result.select("level", "cx", "cy", "n_obs")


def hotspot_clusters(
    df: DataFrame,
    cell_lat_deg: float = 1.0,
    cell_lon_deg: float = 1.0,
    min_pts: int = 5,
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_iter: int = 10,
) -> DataFrame:
    """Density-based spatial hotspot clustering: grid-bucket the
    observations, keep cells with at least ``min_pts`` points (the
    DBSCAN core-cell idea at grid resolution), and merge 8-adjacent
    dense cells into clusters via connected components. Output: one row
    per dense cell — (cx, cy, n_points, cluster) with ``cluster`` = the
    minimum cell key of the component (deterministic, engine-replayable).

    Scale: the raw scan collapses to |cells| rows in one shuffle; the
    adjacency self-join and the O(log diameter) component rounds touch
    only DENSE cells (bounded by the grid, not the data). The cell key
    packs (cx, cy) as (cx + 2e6) * 4e6 + (cy + 2e6) — exact for any
    grid within +/- 2 million cells per axis, i.e. resolutions down to
    ~1e-4 degrees globally."""
    from .components import connected_components

    cells = (
        df.select(
            F.floor(F.col(lat_col) / cell_lat_deg).cast("long").alias("cx"),
            F.floor(F.col(lon_col) / cell_lon_deg).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("n_points"))
        .filter(F.col("n_points") >= min_pts)
    )
    key = ((F.col("cx") + 2_000_000) * 4_000_000 + F.col("cy") + 2_000_000)
    dense = cells.withColumn("cell_key", key).localCheckpoint(eager=False)
    # 8-neighborhood edges between dense cells: explode one side to its
    # neighbor offsets, equi-join on the neighbor's coordinates. Each
    # unordered pair appears once per direction; components symmetrize
    # anyway.
    neighbors = F.array(
        *[
            F.struct(
                (F.col("cx") + dx).alias("nx"), (F.col("cy") + dy).alias("ny")
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    a = dense.select(
        F.col("cell_key").alias("key_a"), F.explode(neighbors).alias("_n")
    ).select("key_a", F.col("_n.nx").alias("cx"), F.col("_n.ny").alias("cy"))
    edges = (
        a.join(
            dense.select("cx", "cy", F.col("cell_key").alias("key_b")),
            ["cx", "cy"],
        )
        .select("key_a", "key_b")
        # dense-cell edges are grid-bounded (thousands, not billions):
        # collapsing to one partition turns every component-loop round
        # into a local job instead of a 32-task shuffle of near-empty
        # partitions. A planet-scale fine grid would lift this.
        .coalesce(1)
    )
    comp = connected_components(
        edges, src="key_a", dst="key_b", max_iter=max_iter
    )
    return (
        dense.join(comp, dense.cell_key == comp.node, "left")
        .select(
            "cx",
            "cy",
            "n_points",
            # isolated dense cells never appear in edges: own component
            F.coalesce(F.col("component"), F.col("cell_key")).alias(
                "cluster"
            ),
        )
    )


def l_diverse_cells(
    df: DataFrame,
    l: int = 3,
    cell_lat_deg: float = 1.0,
    cell_lon_deg: float = 1.0,
    id_col: str = "uuid",
    sensitive_col: str = "kind",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Location l-diversity audit — k-anonymity's stronger sibling
    (Machanavajjhala et al. 2007): a cell can be k-anonymous yet leak if
    everyone in it shares the same SENSITIVE value (all k visitors of a
    cell at a clinic reveal why they were there). Per grid cell: exact
    distinct-entity count, distinct sensitive-value count, and a
    ``suppressed`` flag for cells with fewer than ``l`` distinct
    sensitive values. Same single cell-keyed shuffle as
    :func:`k_anonymous_cells`; both distinct counts are exact because
    under-counting either weakens the guarantee."""
    return (
        df.select(
            F.floor(F.col(lat_col) / cell_lat_deg).cast("long").alias("cx"),
            F.floor(F.col(lon_col) / cell_lon_deg).cast("long").alias("cy"),
            F.col(id_col),
            F.col(sensitive_col),
        )
        .groupBy("cx", "cy")
        .agg(
            F.countDistinct(id_col).alias("n_entities"),
            F.countDistinct(sensitive_col).alias("n_sensitive"),
            F.count("*").alias("n_obs"),
        )
        .withColumn("suppressed", F.col("n_sensitive") < l)
    )
