"""Advanced analytics gates: CDC merge, histograms, regression, int8
quantization, polygon containment, integer PageRank.

These extend the registry beyond SURVEY.md §2 parity toward the
training-data-pipeline north star: changelog application (ingest
maintenance), distribution profiling (histogram), per-entity trend
screens, embedding compression (int8), spatial containment filters, and
link-graph quality priors (PageRank).

Parity design: every gate avoids cross-engine float drift by construction —
exact integer/decimal arithmetic wherever a sum crosses rows (histogram
totals, regression moments, PageRank), and order-identical list folds for
per-vector math (the ``list_sum`` ↔ ``F.aggregate`` pattern proven by
``vectors.py``). Division happens once, at the end, on identical operands →
bit-identical IEEE doubles on both engines, no rounding needed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.codecs import epoch_us
from . import register
from .relational import t

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

# ---------------------------------------------------------------------------
# CDC latest-wins upsert with tombstones (operators/cdc.py).
# The events table is treated as a changelog of per-user profile upserts;
# an 'error' event tombstones the key. Split at a mid-range cutoff so the
# gate exercises the base-snapshot + changelog merge path, whose result
# must equal the single-pass latest-row query the oracle runs.
# Scale: ONE hash shuffle on the merge key; O(base+changes) per batch.
# ---------------------------------------------------------------------------

_CDC_CUTOFF = "2024-01-15 00:00:00"


@register(
    "cdc_upsert_latest_wins",
    oracle=f"""
SELECT user_id,
       strftime(ts, '{TS_FMT_DUCK}') AS state_ts,
       event_type AS last_event,
       value AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
""",
    doc="J8/J9 set-based form: changelog merge, latest-wins + tombstones "
    "(reference mobility_db.py:69-93 update-else-insert; Delta MERGE "
    "pattern on plain tables via operators/cdc.apply_changes)",
    tags=("cdc", "merge"),
)
def cdc_upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import apply_changes

    ev = t(spark, sf_dir, "events").withColumn(
        "is_del", F.col("event_type") == "error"
    )
    cutoff = F.lit(_CDC_CUTOFF).cast("timestamp")
    # base snapshot: latest state per key before the cutoff (itself built
    # with the merge operator against an empty base — degenerate path)
    before, changes = ev.filter(F.col("ts") < cutoff), ev.filter(F.col("ts") >= cutoff)
    base = apply_changes(
        before.limit(0), before, ["user_id"], ["ts", "event_id"], delete_col=None
    )
    merged = apply_changes(
        base, changes, ["user_id"], ["ts", "event_id"], delete_col="is_del"
    )
    return merged.select(
        "user_id",
        F.date_format("ts", TS_FMT_SPARK).alias("state_ts"),
        F.col("event_type").alias("last_event"),
        F.col("value").alias("last_value"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Equi-width histogram (distribution profiling). Bit-stable: the bin edges
# are IEEE-identical on both engines (min/max + one division), bin index is
# floor of identical doubles, per-bin totals are exact decimal sums.
# Scale: two scans (bounds, then bins) with map-side combine; the bounds
# row broadcasts. At 100 TB use a sampled/sketched bounds pass instead.
# ---------------------------------------------------------------------------

_HIST_BINS = 20


@register(
    "hist_equiwidth_price",
    oracle=f"""
WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
           FROM lineitem),
binned AS (
  -- hi = lo (a single distinct value) pins all mass into bin 0 on both
  -- engines instead of a zero-width division (degenerate sweep, r11)
  SELECT CASE WHEN hi = lo THEN 0
              ELSE least(CAST(floor((l_extendedprice - lo)
                                    / ((hi - lo) / {_HIST_BINS})) AS INT),
                         {_HIST_BINS - 1}) END AS bin,
         lo, hi, l_extendedprice
  FROM lineitem, b
)
SELECT bin,
       lo + bin * ((hi - lo) / {_HIST_BINS}) AS bin_lo,
       count(*) AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM binned GROUP BY bin, lo, hi ORDER BY bin
""",
    doc="equi-width histogram over l_extendedprice (20 bins, max value "
    "clamped into the last bin); distribution-profiling primitive",
    tags=("agg", "profiling"),
)
def hist_equiwidth_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_extendedprice")
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / _HIST_BINS
    binned = li.crossJoin(F.broadcast(bounds)).select(
        # hi = lo -> bin 0 (single distinct value), matching the oracle
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("lo")) / width),
                F.lit(_HIST_BINS - 1),
            )
        )
        .cast("int")
        .alias("bin"),
        "lo",
        "hi",
        "l_extendedprice",
    )
    return (
        binned.groupBy("bin", "lo", "hi")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .select(
            "bin",
            (F.col("lo") + F.col("bin") * width).alias("bin_lo"),
            "n",
            "total",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Per-entity linear trend (closed-form least squares). All five moments are
# exact bigint sums (x = whole-second offset from the entity's first event,
# y = cents); slope/intercept are single IEEE divisions of identical
# integers → bit-identical, no rounding. The per-group screen a training
# pipeline runs to find drifting metrics.
# Scale: one window (min per key) + one groupBy on the same key — AQE
# coalesces to a single shuffle stage pipeline.
# ---------------------------------------------------------------------------


@register(
    "linreg_trend_per_entity",
    oracle="""
WITH pts AS (
  SELECT user_id,
         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
             // 1000000 AS x,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM events
), m AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY user_id
)
SELECT user_id, n,
       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
           AS slope_cents_per_s,
       (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS intercept_cents
FROM m WHERE n >= 2 AND n * sxx - sx * sx <> 0
ORDER BY user_id
""",
    doc="closed-form per-entity least squares (value-vs-time drift screen); "
    "exact integer moments, division last",
    tags=("agg", "regression"),
)
def linreg_trend_per_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    pts = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(cast(ts as timestamp)) "
            "- min(unix_micros(cast(ts as timestamp))) "
            "OVER (PARTITION BY user_id)) div 1000000"
        ).alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("y"),
    )
    m = pts.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    return (
        m.filter((F.col("n") >= 2) & (den != 0))
        .select(
            "user_id",
            "n",
            slope.alias("slope_cents_per_s"),
            (
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("n").cast("double")
            ).alias("intercept_cents"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Per-vector int8 quantization + reconstruction error (embedding
# compression for ANN shipping). scale = max|x|/127; q = clamp(floor(x/s
# + .5)); everything per-row list math in identical fold order (the
# vectors.py list_sum ↔ F.aggregate pattern) → raw doubles hash-match.
# Scale: embarrassingly parallel map; no shuffle at all.
# ---------------------------------------------------------------------------


@register(
    "vec_int8_quantization",
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), s AS (
  SELECT vec_id, vec,
         list_max(list_transform(vec, x -> abs(x))) / 127 AS scale
  FROM v
), ex AS (
  SELECT vec_id, scale, generate_subscripts(vec, 1) AS i, unnest(vec) AS x
  FROM s
), qe AS (
  SELECT vec_id, scale, i, x,
         greatest(-127.0, least(127.0, floor(x / scale + 0.5))) AS q
  FROM ex
), agg AS (
  SELECT vec_id, any_value(scale) AS scale,
         list(q ORDER BY i) AS qv,
         list((x - q * scale) * (x - q * scale) ORDER BY i) AS errs
  FROM qe GROUP BY vec_id
)
SELECT vec_id, scale, list_sum(qv) AS q_sum, list_sum(errs) AS sq_err
FROM agg ORDER BY vec_id
""",
    doc="int8 embedding quantization: per-vector symmetric scale, clamped "
    "round-half-up codes, exact reconstruction SSE (ordered fold)",
    tags=("vector", "compression"),
)
def vec_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings", heavy=True)
    vec = F.transform("embedding", lambda x: x.cast("double"))
    df = e.select("vec_id", vec.alias("vec")).withColumn(
        "scale", F.array_max(F.transform("vec", F.abs)) / 127
    )
    scale = F.col("scale")
    q = F.transform(
        "vec",
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x / scale + 0.5).cast("double")),
        ),
    )
    df = df.withColumn("qv", q)
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, b: a + b)  # noqa: E731
    errs = F.zip_with("vec", "qv", lambda x, qq: (x - qq * scale) * (x - qq * scale))
    return df.select(
        "vec_id",
        "scale",
        fold(F.col("qv")).alias("q_sum"),
        fold(errs).alias("sq_err"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Convex-polygon containment (geofence filter) via unrolled cross-product
# signs — pure comparisons on identical doubles, no trig, no library.
# Scale: predicate fuses into the scan (whole-stage codegen); at 100 TB
# pre-filter with the polygon's bounding box to unlock min/max row-group
# skipping before the exact test.
# ---------------------------------------------------------------------------

_HEX = [(10.0, 80.0), (25.0, 30.0), (55.0, 30.0), (70.0, 80.0), (55.0, 130.0), (25.0, 130.0)]


def _edges() -> list[tuple[float, float, float, float]]:
    n = len(_HEX)
    return [(*_HEX[i], *_HEX[(i + 1) % n]) for i in range(n)]


def _cross_sql(lat: str, lon: str) -> list[str]:
    return [
        f"(({x2} - {x1}) * ({lon} - {y1}) - ({y2} - {y1}) * ({lat} - {x1}))"
        for (x1, y1, x2, y2) in _edges()
    ]


@register(
    "point_in_polygon_convex",
    oracle=f"""
WITH pts AS (
  SELECT event_type, value % 80.0 AS lat, (value * 3.7) % 160.0 AS lon
  FROM events
)
SELECT event_type, count(*) AS n_total,
       CAST(sum(CASE WHEN {" AND ".join(c + " <= 0" for c in _cross_sql("lat", "lon"))}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
FROM pts GROUP BY event_type ORDER BY event_type
""",
    doc="geofence containment: convex hexagon point-in-polygon via "
    "cross-product signs (same pseudo lat/lon as the trajectory gates)",
    tags=("spatial", "filter"),
)
def point_in_polygon_convex(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        (F.col("value") % 80.0).alias("lat"),
        ((F.col("value") * 3.7) % 160.0).alias("lon"),
    )
    inside = None
    for x1, y1, x2, y2 in _edges():
        cross = (F.lit(x2) - F.lit(x1)) * (F.col("lon") - F.lit(y1)) - (
            F.lit(y2) - F.lit(y1)
        ) * (F.col("lat") - F.lit(x1))
        term = cross <= 0
        inside = term if inside is None else (inside & term)
    return (
        pts.groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(inside, 1).otherwise(0)).alias("n_inside"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Integer PageRank over the part↔supplier co-occurrence graph
# (operators/graph.py). Link-graph centrality as a corpus-quality prior;
# exact scaled-integer recurrence so the oracle replays it bit-for-bit.
# ---------------------------------------------------------------------------

_PR_SCALE = 10**12
_PR_BASE = (15 * _PR_SCALE) // 100


def _pr_oracle(iterations: int = 3) -> str:
    parts = [
        f"""
WITH pairs AS (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS pn,
                  's' || CAST(l_suppkey AS VARCHAR) AS sn
  FROM lineitem
), edges AS (
  SELECT pn AS src, sn AS dst FROM pairs
  UNION ALL SELECT sn AS src, pn AS dst FROM pairs
), deg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), nodes AS (SELECT src AS node FROM deg),
r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS pr FROM nodes)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
s{k} AS (
  SELECT e.dst AS node, CAST(sum(r.pr // d.deg) AS BIGINT) AS s
  FROM edges e JOIN deg d ON e.src = d.src JOIN r{k - 1} r ON r.node = e.src
  GROUP BY e.dst
), r{k} AS (
  SELECT n.node,
         CAST({_PR_BASE} + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN s{k} s ON s.node = n.node
)"""
        )
    parts.append(
        f"\nSELECT node, pr FROM r{iterations} ORDER BY pr DESC, node LIMIT 25"
    )
    return "".join(parts)


@register(
    "pagerank_part_supplier",
    oracle=_pr_oracle(3),
    doc="3-iteration PageRank (damping .85) over the symmetrized "
    "part↔supplier graph in exact scaled-integer arithmetic; top-25 hubs",
    tags=("graph", "iterative"),
)
def pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_integer, symmetrize

    li = t(spark, sf_dir, "lineitem")
    edges = symmetrize(
        li.select(
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
    )
    ranks = pagerank_integer(edges, iterations=3, scale=_PR_SCALE)
    return (
        ranks.select("node", F.col("rank").alias("pr"))
        .orderBy(F.desc("pr"), "node")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Time-weighted average (the TimescaleDB `time_weight` hypertable op the
# reference's timescaledb_store.py:53-71 ecosystem implies). Each sample
# holds until the next one (LOCF weighting); weights are exact microsecond
# gaps, values exact cents → bigint moment sums, one division last.
# Scale: a lead() window + groupBy on the same (entity, day) key — the
# window's shuffle is reused by the aggregation.
# ---------------------------------------------------------------------------


@register(
    "time_weighted_avg",
    oracle="""
WITH stepped AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) - epoch_us(ts)
             AS dt_us
  FROM events
), m AS (
  SELECT user_id, day, count(*) AS n,
         CAST(sum(cents * dt_us) AS BIGINT) AS wsum,
         CAST(sum(dt_us) AS BIGINT) AS tsum
  FROM stepped WHERE dt_us IS NOT NULL GROUP BY user_id, day
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       n + 1 AS n_samples,
       CAST(wsum AS DOUBLE) / CAST(tsum AS DOUBLE) / 100 AS twa
FROM m WHERE tsum > 0 ORDER BY user_id, day
""",
    doc="TimescaleDB-style time_weight(LOCF) average per entity-day: exact "
    "µs×cents moments, division last (hypertable op family of S14)",
    tags=("window", "time", "hypertable"),
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    stepped = ev.withColumn("day", day).select(
        "user_id",
        "day",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        (F.lead(epoch_us("ts")).over(w) - epoch_us("ts")).alias("dt_us"),
    )
    m = (
        stepped.filter(F.col("dt_us").isNotNull())
        .groupBy("user_id", "day")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("cents") * F.col("dt_us")).alias("wsum"),
            F.sum("dt_us").alias("tsum"),
        )
    )
    return (
        m.filter(F.col("tsum") > 0)
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("n") + 1).alias("n_samples"),
            (F.col("wsum").cast("double") / F.col("tsum").cast("double") / 100)
            .alias("twa"),
        )
        .orderBy("user_id", "day")
    )


# ---------------------------------------------------------------------------
# Hopping (sliding) windows — native F.window(ts, 2h, 1h), the streaming-
# compatible form. Each row lands in exactly two epoch-aligned windows; the
# oracle unnests the same two starts. Exact decimal totals.
# Scale: Expand (×2 rows) then partial-agg — no extra shuffle beyond the
# final groupBy; in Structured Streaming the identical expression is
# incremental with watermark-bounded state.
# ---------------------------------------------------------------------------


@register(
    "hopping_window_2h_1h",
    oracle=f"""
WITH wins AS (
  SELECT unnest([date_trunc('hour', ts),
                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start,
         event_type, value
  FROM events
)
SELECT strftime(w_start, '{TS_FMT_DUCK}') AS w_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM wins GROUP BY 1, 2 ORDER BY w_start, event_type
""",
    doc="W1 extension: 2h windows hopping by 1h via native F.window — the "
    "expression Structured Streaming runs incrementally",
    tags=("window", "time", "streaming-compatible"),
)
def hopping_window_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("w_start"),
            "event_type",
            "n",
            "total",
        )
        .orderBy("w_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Unpivot / melt (wide→long restructuring; inverse of agg_pivot_manual).
# Spark's native unpivot lowers to Expand — a map-side row multiplier, no
# shuffle, no UDF. Exact decimal totals per measure.
# ---------------------------------------------------------------------------


@register(
    "unpivot_measures",
    oracle="""
WITH long_form AS (
  SELECT l_returnflag, 'l_quantity' AS measure,
         CAST(l_quantity AS DECIMAL(18,2)) AS val FROM lineitem
  UNION ALL SELECT l_returnflag, 'l_extendedprice',
         CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
  UNION ALL SELECT l_returnflag, 'l_discount',
         CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
  UNION ALL SELECT l_returnflag, 'l_tax',
         CAST(l_tax AS DECIMAL(18,2)) FROM lineitem
)
SELECT l_returnflag, measure, count(*) AS n,
       CAST(sum(val) AS DOUBLE) AS total
FROM long_form GROUP BY l_returnflag, measure
ORDER BY l_returnflag, measure
""",
    doc="wide→long unpivot of four lineitem measures (Expand node — the "
    "no-shuffle inverse of the pivot gate) with exact per-measure totals",
    tags=("restructure",),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    wide = li.select(
        "l_returnflag",
        *[
            F.col(c).cast("decimal(18,2)").alias(c)
            for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        ],
    )
    long_form = wide.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return (
        long_form.groupBy("l_returnflag", "measure")
        .agg(F.count("*").alias("n"), F.sum("val").cast("double").alias("total"))
        .orderBy("l_returnflag", "measure")
    )


# ---------------------------------------------------------------------------
# Data-quality suite (operators/quality.py — dbt-test/Deequ pattern). Six
# declarative checks over three tables compiled into one unioned report;
# each check is a scan-aggregate with map-side combine. The oracle
# recomputes every violation count from scratch.
# ---------------------------------------------------------------------------


@register(
    "dq_check_suite",
    oracle="""
WITH raw AS (
  SELECT 'accepted_values(lang)' AS "check",
         count(*) AS n_checked,
         CAST(coalesce(sum(CASE WHEN lang IS NULL
                       OR lang NOT IN ('en','de','fr','es','zh')
                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations
  FROM documents
  UNION ALL
  SELECT 'consistent(n_chars=len)', count(*),
         CAST(coalesce(sum(CASE WHEN NOT coalesce(n_chars = length(text),
                                                  FALSE)
                  THEN 1 ELSE 0 END), 0) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'in_range(l_quantity,1,50)', count(*),
         CAST(coalesce(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                       OR l_quantity > 50 THEN 1 ELSE 0 END), 0) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'not_null(text)', count(*),
         CAST(coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0)
              AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'referential(l_orderkey->o_orderkey)',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'unique(doc_id)', count(*),
         count(*) - count(DISTINCT doc_id)
  FROM documents
)
SELECT "check", n_checked, n_violations, n_violations = 0 AS passed
FROM raw ORDER BY "check"
""",
    # the coalesce(sum(...), 0) wrappers are no-ops on non-empty tables
    # and pin the EMPTY-table convention to the Spark suite's: zero
    # violations checked -> n_violations 0, passed TRUE (bare SQL sum()
    # over empty input is NULL and would cascade into passed=NULL)
    doc="declarative DQ assertions (A7 generalized): not-null, unique, "
    "accepted-values, range, row-consistency, referential integrity — "
    "one unioned report frame via operators/quality.run_suite",
    tags=("quality",),
)
def dq_check_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import quality as q

    docs = t(spark, sf_dir, "documents")
    li = t(spark, sf_dir, "lineitem")
    od = t(spark, sf_dir, "orders")
    return q.run_suite(
        [
            # each table's checks ride ONE scan-aggregate
            q.table_report(
                docs,
                [
                    q.not_null("text"),
                    q.unique(["doc_id"]),
                    q.accepted_values("lang", ["en", "de", "fr", "es", "zh"]),
                    q.expression(
                        "consistent(n_chars=len)",
                        F.col("n_chars") == F.length("text"),
                    ),
                ],
            ),
            q.table_report(li, [q.in_range("l_quantity", 1, 50)]),
            q.check_referential(li, od, "l_orderkey", "o_orderkey"),
        ]
    )


# ---------------------------------------------------------------------------
# Click-path trigram mining (sequence pattern analysis over sessionized
# event streams — the funnel/journey primitive). Same 30-min gap
# sessionization as w5_sessionize; trigrams via two leads inside the
# session. Both window passes share the user_id shuffle. Exact counts.
# ---------------------------------------------------------------------------


@register(
    "path_trigrams_topk",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 30 * 60 * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sess AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM seq
), tri AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM sess
  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
)
SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
FROM tri WHERE e3 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path LIMIT 20
""",
    doc="sessionized click-path trigram mining (top-20 3-step journeys; "
    "w5's gap sessionization + two leads sharing one user_id shuffle)",
    tags=("window", "sequence"),
)
def path_trigrams_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = epoch_us("ts") - F.lag(epoch_us("ts")).over(w_ord)
    new_session = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("new_session", new_session).withColumn(
        "session_id",
        F.sum("new_session").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w_sess = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    tri = sess.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w_sess).alias("e2"),
        F.lead("event_type", 2).over(w_sess).alias("e3"),
    )
    return (
        tri.filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Native session windows — F.session_window(ts, gap), the operator
# Structured Streaming runs with watermark-bounded state. Boundary
# semantics verified empirically: an exactly-30:00 gap MERGES (new session
# only when gap > threshold), matching w5's gap convention, so the oracle
# replays the same strict inequality.
# Scale: one shuffle on (user_id); session merge is a sort within the
# partition — no per-probe state, unbounded keys distribute.
# ---------------------------------------------------------------------------


@register(
    "session_window_native",
    oracle=f"""
WITH seq AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM seq
)
SELECT user_id,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       strftime(max(ts), '{TS_FMT_DUCK}') AS session_last,
       count(*) AS n_events
FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start
""",
    doc="native session_window(30m) sessionization (the streaming-stateful "
    "operator, batch-verified against explicit gap-island SQL)",
    tags=("window", "session", "streaming-compatible"),
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("mn"),
            F.max("ts").alias("mx"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("mn", TS_FMT_SPARK).alias("session_start"),
            F.date_format("mx", TS_FMT_SPARK).alias("session_last"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered pivot algorithm). Graph: lineitem
# part/supp keys folded into one 2003-slot node space (the natural
# part-supplier graph is bipartite, hence triangle-free; the fold makes a
# general sparse graph while keeping construction deterministic). Each
# triangle is counted at its unique lowest-degree pivot; out-neighbor
# arrays are bounded O(sqrt(m)) by the orientation, so hub skew cannot
# blow up the wedge stage.
# ---------------------------------------------------------------------------


@register(
    "graph_triangle_count",
    oracle="""
WITH ids AS (
  SELECT l_partkey % 2003 AS pa, l_suppkey % 2003 AS pb FROM lineitem
  WHERE l_partkey % 2003 <> l_suppkey % 2003
), raw AS (
  SELECT DISTINCT least(pa, pb) AS a, greatest(pa, pb) AS b FROM ids
), deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT a AS node FROM raw UNION ALL SELECT b AS node FROM raw)
  GROUP BY node
), oriented AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND r.a < r.b)
              THEN r.a ELSE r.b END AS u,
         CASE WHEN da.d < db.d OR (da.d = db.d AND r.a < r.b)
              THEN r.b ELSE r.a END AS v
  FROM raw r JOIN deg da ON da.node = r.a JOIN deg db ON db.node = r.b
), wedges AS (
  SELECT e1.v AS v, e2.v AS w
  FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u AND e1.v < e2.v
)
SELECT
  (SELECT CAST(count(*) AS BIGINT)
   FROM wedges w JOIN raw r ON r.a = w.v AND r.b = w.w) AS n_triangles,
  (SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT) FROM deg) AS n_wedges
""",
    doc="exact distributed triangle count (degree-ordered pivots, "
    "sqrt(m)-bounded wedge generation, one closure equi-join) over the "
    "folded lineitem graph",
    tags=("graph", "join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count

    li = t(spark, sf_dir, "lineitem")
    ids = li.select(
        (F.col("l_partkey") % 2003).alias("pa"),
        (F.col("l_suppkey") % 2003).alias("pb"),
    ).filter(F.col("pa") != F.col("pb"))
    edges = ids.select(
        F.least("pa", "pb").alias("a"), F.greatest("pa", "pb").alias("b")
    )
    return triangle_count(edges)


# ---------------------------------------------------------------------------
# Multimodal decode gate (round 6): the one north-star component that was
# pytest-only gets a CORRECTNESS row. The driver fixtures ship no media
# table, so the plan synthesizes REAL payloads deterministically from
# doc_id (operators/multimodal.synthesize_deterministic_media — an actual
# RIFF/WAVE container and an actual binary PPM per doc), decodes them with
# the REAL stdlib codecs (wav_decode / ppm_decode), and emits statistics
# that are closed-form in doc_id — so a SQL oracle that never sees a byte
# recomputes them exactly. Constant-amplitude PCM16 keeps every audio stat
# dyadic-exact (sample values are k/2^15); the solid-color image keeps
# channel means at k/255 (never on a 6-dp rounding boundary: k/255 =
# m/2e6 only for exact tenths). rms==mean==peak and luma_std==0 are the
# codec-integrity booleans.
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode_stats",
    oracle="""
SELECT doc_id,
       CAST(100 + doc_id % 50 AS BIGINT) AS a_n_samples,
       CAST(8000 AS BIGINT) AS a_sample_rate,
       round((100 + doc_id % 50) / 8000.0, 6) AS a_duration_s,
       round(floor(((doc_id % 9) + 1) / 10.0 * 32767) / 32768.0, 6) AS a_level,
       TRUE AS ok_audio,
       CAST(4 + doc_id % 5 AS BIGINT) AS i_width,
       CAST(3 + doc_id % 3 AS BIGINT) AS i_height,
       round(((37 * doc_id) % 256) / 255.0, 6) AS i_mean_r,
       round(((59 * doc_id) % 256) / 255.0, 6) AS i_mean_g,
       round(((83 * doc_id) % 256) / 255.0, 6) AS i_mean_b,
       round(0.2126 * (((37 * doc_id) % 256) / 255.0)
             + 0.7152 * (((59 * doc_id) % 256) / 255.0)
             + 0.0722 * (((83 * doc_id) % 256) / 255.0), 6) AS i_luma,
       TRUE AS ok_image
FROM documents WHERE doc_id < 150 ORDER BY doc_id
""",
    doc="real-codec multimodal decode, value-checked: synthesize WAV/PPM "
    "payloads in-plan from doc_id, decode via mapInPandas with the real "
    "stdlib codecs, emit closed-form stats the oracle recomputes from "
    "doc_id alone plus codec-integrity booleans (rms==mean==peak, "
    "zcr==0, luma_std==0). operators/multimodal.py",
    tags=("multimodal", "kernel"),
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        decode_features,
        stdlib_decode,
        synthesize_deterministic_media,
    )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = synthesize_deterministic_media(d, id_col="doc_id")
    # two consumers (audio branch, image branch) — checkpoint so the
    # synthesize+decode Arrow kernels run once, not once per branch
    feats = decode_features(media, decoder=stdlib_decode).localCheckpoint(
        eager=False
    )
    fa = F.col("features")
    audio = feats.filter(F.col("modality") == "audio").select(
        F.col("media_id").alias("doc_id"),
        F.element_at(fa, 3).cast("long").alias("a_n_samples"),
        F.element_at(fa, 2).cast("long").alias("a_sample_rate"),
        F.round(F.element_at(fa, 4).cast("double"), 6).alias("a_duration_s"),
        F.round(F.element_at(fa, 5).cast("double"), 6).alias("a_level"),
        (
            F.col("decode_ok")
            & (F.element_at(fa, 1) == 1.0)
            & (F.abs(F.element_at(fa, 6) - F.element_at(fa, 5)) <= 1e-12)
            & (F.abs(F.element_at(fa, 7) - F.element_at(fa, 5)) <= 1e-12)
            & (F.element_at(fa, 8) == 0.0)
        ).alias("ok_audio"),
    )
    image = feats.filter(F.col("modality") == "image").select(
        F.col("media_id").alias("doc_id"),
        F.element_at(fa, 1).cast("long").alias("i_width"),
        F.element_at(fa, 2).cast("long").alias("i_height"),
        F.round(F.element_at(fa, 4).cast("double"), 6).alias("i_mean_r"),
        F.round(F.element_at(fa, 5).cast("double"), 6).alias("i_mean_g"),
        F.round(F.element_at(fa, 6).cast("double"), 6).alias("i_mean_b"),
        F.round(F.element_at(fa, 7).cast("double"), 6).alias("i_luma"),
        (
            F.col("decode_ok")
            & (F.element_at(fa, 3) == 255.0)
            & (F.round(F.element_at(fa, 8).cast("double"), 6) == 0.0)
        ).alias("ok_image"),
    )
    return audio.join(image, "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Round-7: the versioned parquet store gets a CORRECTNESS row. The gate
# commits three disjoint order slices as versions 0..2 (append mode),
# then reads the AS-OF snapshot of version 1 and the latest snapshot —
# time travel on manifest-committed plain parquet
# (operators/versioned_store.py, the Delta/Iceberg commit trick). The
# oracle recomputes both snapshots from the same modulo slices. All
# emitted aggregates are exact integers (counts, key bounds, price
# cents) — nothing for summation order to flip.
# Scale: commits write each slice once; snapshots read only manifest-
# listed dirs; the aggregate shuffles |status| groups after map-side
# combine.
# ---------------------------------------------------------------------------


@register(
    "versioned_snapshot_asof",
    oracle="""
WITH v1 AS (
  SELECT 1 AS version, o_orderstatus,
         count(*) AS n_orders,
         min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM orders WHERE o_orderkey % 3 <= 1
  GROUP BY o_orderstatus
), v2 AS (
  SELECT 2 AS version, o_orderstatus,
         count(*) AS n_orders,
         min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM orders
  GROUP BY o_orderstatus
)
SELECT * FROM v1 UNION ALL SELECT * FROM v2
ORDER BY version, o_orderstatus
""",
    doc="snapshot-as-of over the manifest-committed versioned store "
    "(operators/versioned_store.py): three modulo slices of orders "
    "committed as versions 0..2, the version-1 snapshot (slices 0+1) "
    "and the latest (all three) aggregated per status with exact "
    "integer measures; the oracle recomputes both snapshots from the "
    "same slices — commit atomicity + time travel value-checked",
    tags=("store", "versioned", "write"),
)
def versioned_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.versioned_store import VersionedParquetStore

    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_gates",
        f"versioned_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    store = VersionedParquetStore(base)
    # coalesce: each committed slice is MBs at gate scale — without it
    # every version lands as |input partitions| tiny files and the gate
    # pays job overhead, not I/O (at fleet scale slices arrive already
    # reasonably partitioned)
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).coalesce(4)
    for m in range(3):
        store.commit(orders.filter(F.col("o_orderkey") % 3 == m))

    def agg(df: DataFrame, version: int) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        ).select(F.lit(version).alias("version"), "*")

    asof = agg(store.snapshot(spark, version=1), 1)
    latest = agg(store.snapshot(spark), 2)
    return asof.unionByName(latest).orderBy("version", "o_orderstatus")


@register(
    "streaming_versioned_commits",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       -- one version per NON-EMPTY modulo slice: an empty slice writes
       -- no file, fires no micro-batch and commits no version — 3 on
       -- any real corpus, data-derived on degenerate ones (r11)
       (SELECT CAST(count(DISTINCT o_orderkey % 3) AS BIGINT) FROM orders)
         AS n_versions
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    doc="the STREAMING commit path of the versioned store gets its own "
    "driver verdict (streaming/versioned_stream.py — previously "
    "pytest-only): three modulo slices of orders written as three "
    "parquet files stream through stream_to_versioned_store "
    "(maxFilesPerTrigger=1, availableNow), each epoch committing one "
    "atomically-visible version under a (run, epoch) txn stamp; the "
    "gate aggregates the LATEST snapshot (order-independent of epoch "
    "arrival) and pins n_versions=3, so a dropped epoch, a "
    "double-applied replay, or a manifest defect flips a cell; the "
    "oracle recomputes from the raw table. Exact integer cents",
    tags=("streaming", "store", "versioned", "write"),
)
def streaming_versioned_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.versioned_store import VersionedParquetStore
    from ..streaming.versioned_stream import stream_to_versioned_store

    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_gates",
        f"stream_versioned_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    src_dir = os.path.join(base, "src")

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if orders.isEmpty():
        # empty source: no batch fires, the store has no committed
        # version (degenerate sweep, r11)
        return spark.createDataFrame(
            [],
            "o_orderstatus string, n_orders long, min_key long,"
            " max_key long, total_cents long, n_versions long",
        )
    for m in range(3):
        orders.filter(F.col("o_orderkey") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    store = VersionedParquetStore(os.path.join(base, "store"))
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = stream_to_versioned_store(
        stream, store, os.path.join(base, "ckpt")
    )
    q.awaitTermination()

    n_versions = len(store.history())
    return (
        store.snapshot(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("total_cents"),
        )
        .withColumn("n_versions", F.lit(n_versions).cast("long"))
        .orderBy("o_orderstatus")
    )


@register(
    "versioned_compact_rewrite",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       TRUE AS files_reduced,
       (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 4 <= 1)
         AS v1_rows
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    doc="small-file compaction on the versioned store (operators/"
    "versioned_store.compact): four append commits leave four data "
    "dirs each fanned to writer parallelism; compact() rewrites the "
    "latest snapshot into 2 files as a NEW version whose manifest "
    "lists only the compacted dir. The gate aggregates the compacted "
    "snapshot (must equal the raw table — rewrite loses/duplicates "
    "nothing), pins files_reduced via data_files() before/after, and "
    "re-reads the PRE-compaction version-1 snapshot (time travel "
    "intact after compaction; vacuum is the separate reclaim step). "
    "Exact integer cents",
    tags=("store", "versioned", "maintenance", "write"),
)
def versioned_compact_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.versioned_store import VersionedParquetStore

    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_gates",
        f"versioned_compact_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    store = VersionedParquetStore(base)
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # deliberately NOT coalesced: the whole point is many small files
    for m in range(4):
        store.commit(orders.filter(F.col("o_orderkey") % 4 == m))
    files_before = len(store.data_files())
    v1_rows = store.snapshot(spark, version=1).count()
    store.compact(spark, target_files=2)
    files_after = len(store.data_files())
    # time travel must survive compaction: v1 still readable, unchanged
    v1_rows_after = store.snapshot(spark, version=1).count()
    return (
        store.snapshot(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("total_cents"),
        )
        .withColumn(
            "files_reduced",
            F.lit(bool(files_after < files_before and v1_rows == v1_rows_after)),
        )
        .withColumn("v1_rows", F.lit(v1_rows_after).cast("long"))
        .orderBy("o_orderstatus")
    )


@register(
    "versioned_schema_evolution",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT)
         AS n_with_price,
       CAST(sum(CASE WHEN o_orderkey % 2 = 1
                     THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
            AS BIGINT) AS total_cents
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    doc="schema evolution on the versioned store: version 0 commits the "
    "even-key slice WITHOUT the price column, version 1 appends the "
    "odd-key slice WITH it; snapshot(merge_schema=True) unions the "
    "heterogeneous versions — rows from the pre-evolution version read "
    "the new column as NULL (count/sum skip them), exactly the "
    "add-a-column migration every long-lived table goes through; the "
    "oracle recomputes from the raw table with the same modulo split. "
    "Exact integer cents",
    tags=("store", "versioned", "schema", "write"),
)
def versioned_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.versioned_store import VersionedParquetStore

    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_gates",
        f"versioned_evolve_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    store = VersionedParquetStore(base)
    orders = t(spark, sf_dir, "orders")
    store.commit(
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderstatus")
        .coalesce(2)
    )
    store.commit(
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .coalesce(2)
    )
    return (
        store.snapshot(spark, merge_schema=True)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("cents").alias("n_with_price"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "versioned_partition_evolution",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       -- both layout claims require the hive-partitioned v1 slice to be
       -- NON-EMPTY: a partitionBy write of zero rows lays out no
       -- o_orderstatus= subdirs to detect or prune (degenerate twin);
       -- any real corpus has odd keys and the claims read TRUE as before
       (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1) > 0
         AS layout_evolved,
       (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1) > 0
         AS partition_pruned
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    doc="PARTITION EVOLUTION on the versioned store (the Iceberg property "
    "Hive tables lack): version 0 commits the even-key slice "
    "unpartitioned, version 1 commits the odd-key slice hive-partitioned "
    "by o_orderstatus (commit(partition_by=)); snapshot() unions the "
    "per-dir scans by name, so readers see ONE logical table across "
    "layouts, the aggregate must equal the raw table, and the gate pins "
    "BOTH halves of the migration story in-plan: the v1 dir really is "
    "hive-laid-out (o_orderstatus= subdirs on disk) and a status filter "
    "reaches the partitioned branch as a directory-pruning "
    "PartitionFilter while the unpartitioned branch falls back to "
    "row-group pushdown — new data gets the better layout now, old data "
    "keeps serving until compaction rewrites it",
    tags=("store", "versioned", "partition", "write"),
)
def versioned_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.versioned_store import VersionedParquetStore

    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_gates",
        f"versioned_partevo_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    store = VersionedParquetStore(base)
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    store.commit(orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(2))
    store.commit(
        orders.filter(F.col("o_orderkey") % 2 == 1).coalesce(2),
        partition_by=("o_orderstatus",),
    )
    v0_dir = os.path.join(base, "data", "v0")
    v1_dir = os.path.join(base, "data", "v1")
    layout_evolved = any(
        e.startswith("o_orderstatus=") for e in os.listdir(v1_dir)
    ) and not any(
        e.startswith("o_orderstatus=") for e in os.listdir(v0_dir)
    )
    snap = store.snapshot(spark)
    plan = (
        snap.filter(F.col("o_orderstatus") == "O")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pruned = "PartitionFilters: [isnotnull(o_orderstatus" in plan
    return (
        snap.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("total_cents"),
        )
        .withColumn("layout_evolved", F.lit(bool(layout_evolved)))
        .withColumn("partition_pruned", F.lit(bool(pruned)))
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Round-7: the IVM materialized-join layer gets a CORRECTNESS row too.
# Build the join view from initial slices, append a second batch via the
# delta rule, tombstone-delete a modulo slice of the left rows, then
# aggregate the maintained VIEW. The oracle computes the same aggregate
# from the equivalent one-shot join with the deleted slice filtered out
# — so a delta-rule error, a double-applied batch, or a leaky tombstone
# mask each flips a cell. Exact integer measures only.
# Scale: the append touches O(|batch| . match rate) rows; the delete
# appends one id column; the view read is partition-bucket pruned.
# ---------------------------------------------------------------------------


@register(
    "ivm_materialized_join",
    oracle="""
SELECT o.o_orderstatus,
       count(*) AS n_rows,
       count(DISTINCT o.o_orderkey) AS n_orders,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS ext_cents,
       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey % 10 != 7
GROUP BY o.o_orderstatus
ORDER BY o.o_orderstatus
""",
    doc="incremental view maintenance end-to-end (operators/ivm.py): "
    "orders join lineitem built from initial slices, second batches "
    "appended via the delta rule (dL|><|R U L|><|dR U dL|><|dR), the "
    "orderkey%10==7 left slice tombstone-deleted, and the maintained "
    "view aggregated — the oracle recomputes from the one-shot filtered "
    "join, so delta errors, double-applies and leaky masks all flip "
    "cells",
    tags=("ivm", "join", "write"),
)
def ivm_materialized_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.ivm import MaterializedJoin

    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_gates",
        f"ivm_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    # coalesced inputs: gate-scale slices are MBs; uncoalesced they fan
    # the store's base/view writes into hundreds of tiny files
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderkey").alias("o_rid"),
        "o_orderstatus",
        "o_orderkey",
    ).coalesce(4)
    li = t(spark, sf_dir, "lineitem", heavy=True).select(
        F.col("l_orderkey").alias("k"),
        "l_linenumber",
        "l_extendedprice",
        "l_quantity",
    ).coalesce(8)
    mj = MaterializedJoin(base, on="k", left_row_id="o_rid")
    mj.build(o.filter(F.col("k") % 2 == 0), li.filter(F.col("l_linenumber") <= 3))
    mj.append(
        left_delta=o.filter(F.col("k") % 2 == 1),
        right_delta=li.filter(F.col("l_linenumber") > 3),
    )
    mj.delete(o.filter(F.col("k") % 10 == 7).select("o_rid"), "left")
    return (
        mj.view(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "ext_cents"
            ),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Round-7: Theta-sketch segment overlap (operators/segments.py). Exact
# pairwise intersections need a distinct-pairs self-join per question;
# the sketches answer every pair from KB-sized states. The gate runs
# BOTH in one plan: exact pairwise intersection/union from a distinct
# self-join, sketch estimates from the theta algebra, and error-bound
# booleans (|est - exact| <= 5 * rse * |A u B|, rse ~ 1/sqrt(2^12); at
# these cardinalities the sketches are in exact mode and the measured
# error is 0 at all three SFs).
# ---------------------------------------------------------------------------


@register(
    "segment_theta_overlap",
    oracle="""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (
  SELECT event_type, count(*) AS n FROM d GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS seg_a, b.event_type AS seg_b,
         count(*) AS exact_intersection
  FROM d a JOIN d b ON a.user_id = b.user_id
                   AND a.event_type < b.event_type
  GROUP BY seg_a, seg_b
)
SELECT p.seg_a, p.seg_b,
       cast(p.exact_intersection AS BIGINT) AS exact_intersection,
       cast(sa.n + sb.n - p.exact_intersection AS BIGINT) AS exact_union,
       TRUE AS ok_intersection, TRUE AS ok_union
FROM pairs p
JOIN sizes sa ON sa.event_type = p.seg_a
JOIN sizes sb ON sb.event_type = p.seg_b
ORDER BY p.seg_a, p.seg_b
""",
    doc="audience-segment overlap via Theta sketch set algebra "
    "(operators/segments.py, Spark 4 theta_sketch_agg/theta_intersection"
    "/theta_union): per event-type-pair estimated intersection and "
    "union bounded in-plan against the exact distinct self-join "
    "(|est - exact| <= 5 rse |A u B|) — every pairwise audience "
    "question answered from KB states, one fact scan total",
    tags=("agg", "sketch", "segments"),
)
def segment_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.segments import segment_overlap, segment_sketches

    ev = t(spark, sf_dir, "events")
    est = segment_overlap(segment_sketches(ev, "event_type", "user_id"))
    d = ev.select("event_type", "user_id").distinct()
    sizes = d.groupBy("event_type").agg(F.count("*").alias("n"))
    a = d.select(F.col("event_type").alias("seg_a"), "user_id")
    b = d.select(F.col("event_type").alias("seg_b"), "user_id")
    exact = (
        a.join(b, "user_id")
        .filter(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(F.count("*").alias("exact_intersection"))
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("seg_a"),
                                     F.col("n").alias("_na"))),
            "seg_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("seg_b"),
                                     F.col("n").alias("_nb"))),
            "seg_b",
        )
        .select(
            "seg_a",
            "seg_b",
            "exact_intersection",
            (F.col("_na") + F.col("_nb") - F.col("exact_intersection"))
            .alias("exact_union"),
        )
    )
    rse = 1.0 / (2**12) ** 0.5
    return (
        est.join(exact, ["seg_a", "seg_b"])
        .select(
            "seg_a",
            "seg_b",
            "exact_intersection",
            "exact_union",
            (
                F.abs(F.col("est_intersection") - F.col("exact_intersection"))
                <= 5 * rse * F.col("exact_union")
            ).alias("ok_intersection"),
            (
                F.abs(F.col("est_union") - F.col("exact_union"))
                <= 5 * rse * F.col("exact_union")
            ).alias("ok_union"),
        )
        .orderBy("seg_a", "seg_b")
    )


# ---------------------------------------------------------------------------
# Round-7: the functions/ utility layer gets CORRECTNESS rows too.
# Z-order (Morton) keys are pure integer bit algebra — the DuckDB twin
# recomputes the same normalize + 16-term interleave, so any drift in
# the clustering codec flips values. The salted two-phase aggregation
# must be EXACTLY the plain aggregation (algebraic merge) — oracle is
# the direct group-by with integer-cent sums.
# ---------------------------------------------------------------------------

_Z_BITS = 16


def _zorder_oracle() -> str:
    cells = (1 << _Z_BITS) - 1
    def rank(expr, lo, hi):
        return (
            f"CAST(round(least(greatest(({expr} - {lo}) / {hi - lo}, 0.0), "
            f"1.0) * {cells}) AS BIGINT)"
        )
    x = rank("(value % 80.0)", 0.0, 80.0)
    y = rank("((value * 3.7) % 160.0)", 0.0, 160.0)
    terms = " | ".join(
        f"(((xr >> {i}) & 1) << {2 * i}) | (((yr >> {i}) & 1) << {2 * i + 1})"
        for i in range(_Z_BITS)
    )
    return f"""
WITH r AS (
  SELECT event_id, {x} AS xr, {y} AS yr
  FROM events WHERE event_id < 500
)
SELECT event_id, {terms} AS zkey
FROM r ORDER BY event_id
"""


@register(
    "zorder_morton_key",
    oracle=_zorder_oracle(),
    doc="Z-order / Morton clustering key (functions/zorder.py — the "
    "Delta OPTIMIZE ZORDER idea as a pure column expression): fixed-"
    "range rank normalization + 16-bit interleave, value-checked "
    "against a DuckDB twin that recomputes the same bit algebra; "
    "sorting row groups by this key is what makes 2-D bbox filters "
    "prune parquet min/max stats",
    tags=("codec", "spatial", "clustering"),
)
def zorder_morton_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.zorder import zorder_key

    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    key = zorder_key(
        (F.col("value") % 80.0),
        ((F.col("value") * 3.7) % 160.0),
        x_range=(0.0, 80.0),
        y_range=(0.0, 160.0),
        bits=_Z_BITS,
    )
    return ev.select("event_id", key.alias("zkey")).orderBy("event_id")


@register(
    "skew_salted_sum",
    oracle="""
SELECT user_id,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total,
       cast(count(*) AS BIGINT) AS n
FROM events GROUP BY user_id ORDER BY user_id
""",
    doc="skew-safe two-phase aggregation (functions/skew.py): hot keys "
    "spread over 16 hash salts in phase 1, algebraic merge in phase 2 "
    "— must equal the direct group-by EXACTLY (integer-cent sums), "
    "which the oracle computes in one pass; the pattern that keeps a "
    "power-law key distribution from pinning one reducer",
    tags=("agg", "skew"),
)
def skew_salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import salted_sum_count

    ev = t(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return (
        salted_sum_count(ev, ["user_id"], "cents", n_salts=16)
        .select("user_id", "total", "n")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Round-7 continuation: time-series change detection + smoothing
# (operators/timeseries.py). Both gates are EXACT BIGINT end-to-end —
# CUSUM via the clamp-unrolling identity S_t = P_t - min(0, prefix-min P),
# n-scaled so the mean reference needs no division; EWMA via power-of-two
# weights on a 16-lag truncation. Hash-robust under any aggregation order.
# ---------------------------------------------------------------------------


@register(
    "cusum_changepoints",
    oracle="""
WITH x AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), st AS (
  SELECT user_id, ts, event_id, cents,
         count(*) OVER (PARTITION BY user_id) AS n_events,
         sum(cents) OVER (PARTITION BY user_id) AS total
  FROM x
), p AS (
  SELECT user_id, ts, event_id, n_events,
         sum(n_events * cents - total) OVER w AS pref
  FROM st
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT user_id, ts, event_id, n_events,
         pref - least(min(pref) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
           AS s_scaled
  FROM p
)
SELECT user_id,
       CAST(sum(CASE WHEN s_scaled > n_events * 200 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms,
       CAST(max(s_scaled) AS BIGINT) AS max_excursion_scaled,
       any_value(n_events) AS n_events,
       min(CASE WHEN s_scaled > n_events * 200 THEN event_id END) AS first_alarm
FROM s GROUP BY user_id ORDER BY user_id
""",
    doc="CUSUM change-point excursions (operators/timeseries.py — Page's "
    "clamped recursion unrolled to prefix algebra: S_t = P_t - min(0, "
    "prefix-min P), one window sum + one window min sharing a single "
    "per-entity sort; deviations n-scaled to exact BIGINT cents so no "
    "aggregation order can flip a cell; alarms at 2.00 above the mean)",
    tags=("window", "time", "changepoint"),
)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import cusum_alarm_summary

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        cusum_alarm_summary(
            ev, "user_id", ["ts", "event_id"], "cents",
            threshold_cents=200, first_alarm_col="event_id",
        )
        .select("user_id", "n_alarms", "max_excursion_scaled", "n_events", "first_alarm")
        .orderBy("user_id")
    )


@register(
    "ewma_truncated_exact",
    oracle="""
WITH x AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), e AS (
  SELECT user_id, ts, event_id, cents,
         {terms} AS ewma_scaled
  FROM x
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       max(ewma_scaled) AS max_ewma_scaled,
       min(ewma_scaled) AS min_ewma_scaled,
       CAST(sum(ewma_scaled) AS BIGINT) AS sum_ewma_scaled,
       CAST(count(*) AS BIGINT) AS n
FROM e GROUP BY user_id ORDER BY user_id
""".replace(
        "{terms}",
        " + ".join(
            f"coalesce(lag(cents, {j}) OVER w, 0) * {1 << (15 - j)}"
            for j in range(16)
        ),
    ),
    doc="truncated EWMA smoother (operators/timeseries.py — alpha=1/2, "
    "16-lag truncation: y_t*2^16 = sum x_(t-j)*2^(15-j), the bounded-"
    "state streaming form of the recursive smoother; power-of-two "
    "weights keep the scaled series exact BIGINT, 16 coalesced lags "
    "share one per-entity window sort, all whole-stage codegen)",
    tags=("window", "time", "smoothing"),
)
def ewma_truncated_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ewma_scaled

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    sm = ewma_scaled(ev, "user_id", ["ts", "event_id"], "cents", window=16)
    return (
        sm.groupBy("user_id")
        .agg(
            F.max("ewma_scaled").alias("max_ewma_scaled"),
            F.min("ewma_scaled").alias("min_ewma_scaled"),
            F.sum("ewma_scaled").alias("sum_ewma_scaled"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# k-core peel (operators/graph.k_core): the density screen for link-graph
# triage. The GATE pins a 4-round TRUNCATED peel (k=6) — each round is a
# pure relational step, so the oracle unrolls exactly 4 rounds and
# matches BIGINT-for-BIGINT at any SF (the pagerank unrolled-iteration
# pattern; full-convergence peeling is verified against a literal Python
# peel in tests/test_components.py::TestKCore, since rounds-to-converge
# grows with data: 5/9/11 at sf0.001/0.01/0.1).
# ---------------------------------------------------------------------------

_KCORE_K, _KCORE_ROUNDS = 6, 4


def _kcore_oracle() -> str:
    parts = [
        """
WITH e0 AS (
  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
         'p' || CAST(l_partkey AS VARCHAR) AS b
  FROM lineitem
),
arcs0 AS (
  SELECT a AS src, b AS dst FROM e0
  UNION ALL
  SELECT b AS src, a AS dst FROM e0
)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
keep{r} AS (
  SELECT src FROM arcs{r - 1} GROUP BY src HAVING count(*) >= {_KCORE_K}
),
arcs{r} AS (
  SELECT src, dst FROM arcs{r - 1}
  WHERE src IN (SELECT src FROM keep{r}) AND dst IN (SELECT src FROM keep{r})
)"""
        )
    parts.append(
        f""",
final AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
  FROM arcs{_KCORE_ROUNDS} GROUP BY src
)
SELECT substr(node, 1, 1) AS node_type,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(core_degree) AS BIGINT) AS total_degree,
       max(core_degree) AS max_degree
FROM final GROUP BY substr(node, 1, 1) ORDER BY node_type
"""
    )
    return "".join(parts)


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(),
    doc="k-core peel, 4 truncated rounds at k=6 over the order-part "
    "bipartite graph (operators/graph.k_core — per round: one degree "
    "count + two semi-joins, arc set only shrinks, localCheckpoint "
    "truncates lineage; convergence mode pytest-verified vs a literal "
    "Python peel)",
    tags=("graph", "iterative"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import k_core

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    core = k_core(edges, k=_KCORE_K, max_rounds=_KCORE_ROUNDS)
    return (
        core.groupBy(F.substring("node", 1, 1).alias("node_type"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("core_degree").alias("total_degree"),
            F.max("core_degree").alias("max_degree"),
        )
        .orderBy("node_type")
    )


# ---------------------------------------------------------------------------
# Snapshot diff / drift report (operators/diff.py): two synthetic
# "versions" of events (v1 drops event_id%10==0; v2 drops %3==0 and
# bumps value where %7==0) diffed by key with NULL-safe per-column
# comparison. Pure relational — one outer join — so the oracle mirrors
# it exactly; counts are BIGINT.
# ---------------------------------------------------------------------------


@register(
    "snapshot_diff_report",
    oracle="""
WITH v1 AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_id % 10 <> 0
), v2 AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT)
           + CASE WHEN event_id % 7 = 0 THEN 100 ELSE 0 END AS cents
  FROM events WHERE event_id % 3 <> 0
), j AS (
  SELECT coalesce(v1.event_id, v2.event_id) AS event_id,
         CASE WHEN v1.event_id IS NULL THEN 'added'
              WHEN v2.event_id IS NULL THEN 'removed'
              WHEN v1.event_type IS DISTINCT FROM v2.event_type
                   OR v1.cents IS DISTINCT FROM v2.cents THEN 'changed'
              ELSE 'unchanged' END AS status,
         (v1.event_id IS NOT NULL AND v2.event_id IS NOT NULL
          AND v1.event_type IS DISTINCT FROM v2.event_type) AS ct,
         (v1.event_id IS NOT NULL AND v2.event_id IS NOT NULL
          AND v1.cents IS DISTINCT FROM v2.cents) AS cc
  FROM v1 FULL OUTER JOIN v2 ON v1.event_id = v2.event_id
)
SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN ct THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed_event_type,
       CAST(sum(CASE WHEN cc THEN 1 ELSE 0 END) AS BIGINT) AS n_changed_cents
FROM j GROUP BY status ORDER BY status
""",
    doc="snapshot diff / drift report (operators/diff.py — keyed full "
    "outer join, NULL-safe per-column comparison, no hashing: the "
    "verdict says WHICH columns moved; one shuffle on the key, pure "
    "codegen comparisons — the audit step between two corpus builds, "
    "complementing the versioned store's time travel)",
    tags=("diff", "versioning", "quality"),
)
def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.diff import diff_summary, snapshot_diff

    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    v1 = ev.filter(F.col("event_id") % 10 != 0)
    v2 = ev.filter(F.col("event_id") % 3 != 0).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("event_id") % 7 == 0, F.lit(100)).otherwise(F.lit(0)),
    )
    d = snapshot_diff(v1, v2, ["event_id"], ["event_type", "cents"])
    return (
        diff_summary(d)
        .select("status", "n_rows", "n_changed_event_type", "n_changed_cents")
        .orderBy("status")
    )


@register(
    "gdpr_retract_rollup",
    oracle="""
WITH survivors AS (
  SELECT date_trunc('hour', ts) AS bucket_ts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE user_id % 7 <> 0
)
SELECT bucket_ts,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS total,
       min(cents) AS vmin,
       max(cents) AS vmax
FROM survivors GROUP BY bucket_ts ORDER BY bucket_ts
""",
    doc="right-to-be-forgotten rollup retraction (operators/forget.py — "
    "n/total subtract algebraically from the erasure batch's own "
    "partials, min/max rescan ONLY attained-extreme buckets, emptied "
    "buckets drop; the oracle rebuilds from the surviving rows, so the "
    "gate proves incremental == rebuild at every SF)",
    tags=("rollup", "privacy", "maintenance"),
)
def gdpr_retract_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.forget import retract_from_rollup
    from ..operators.rollup import build_rollup

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    forget = (
        ev.select("user_id").distinct().filter(F.col("user_id") % 7 == 0)
    )
    rollup = build_rollup(ev, "ts", "cents", bucket="hour")
    return (
        retract_from_rollup(
            rollup, ev, forget, "user_id", "ts", "cents", bucket="hour"
        )
        .select("bucket_ts", "n", "total", "vmin", "vmax")
        .orderBy("bucket_ts")
    )


# ---------------------------------------------------------------------------
# Label propagation communities (operators/graph.label_propagation): the
# density-aware community screen beyond connected components. Bounded
# rounds are the honest semantics (sync LPA can oscillate on bipartite
# structure — this graph IS bipartite), and a fixed unroll is exactly
# what the oracle replays. All integer/string algebra.
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    parts = [
        """
WITH e0 AS (
  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
         'p' || CAST(l_partkey AS VARCHAR) AS b
  FROM lineitem
),
arcs AS (
  SELECT a AS src, b AS dst FROM e0
  UNION ALL
  SELECT b AS src, a AS dst FROM e0
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM arcs)"""
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f""",
c{r} AS (
  SELECT a.src AS node, l.label, CAST(count(*) AS BIGINT) AS c
  FROM arcs a JOIN l{r - 1} l ON l.node = a.dst
  GROUP BY a.src, l.label
),
l{r} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM c{r}
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
SELECT label AS community, CAST(count(*) AS BIGINT) AS size
FROM l{_LPA_ROUNDS} GROUP BY label
ORDER BY size DESC, community LIMIT 20
"""
    )
    return "".join(parts)


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    doc="label-propagation communities, 3 synchronous rounds over the "
    "order-part bipartite graph (operators/graph.label_propagation — "
    "per round one arcs-labels equi-join + per-node argmax window, "
    "localCheckpoint caps lineage; top-20 communities by size; the "
    "density-aware complement to connected components for near-dup "
    "cluster triage)",
    tags=("graph", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    labels = label_propagation(edges, rounds=_LPA_ROUNDS)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), "community")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Runtime bloom-filter join pruning, oracle-checked (functions/
# runtime_filters.py): the gate runs the star join WITH the rewrite
# forced on (size gates lowered — locally the tables are tiny; at scale
# the defaults fire on their own), materializes under that conf, then
# restores it. `bloom_injected` pins that the plan actually contained
# the bloom_filter_agg while producing EXACTLY the oracle's rows — the
# optimization's semantic transparency as a CORRECTNESS row.
# ---------------------------------------------------------------------------


@register(
    "bloom_pruned_star_join",
    oracle="""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       TRUE AS bloom_injected
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 400000
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
""",
    doc="runtime bloom-filter join pruning (functions/runtime_filters."
    "enable_runtime_bloom_filters): selective orders side builds a "
    "bloom_filter_agg, the lineitem scan probes might_contain BEFORE "
    "the shuffle; the gate materializes under the rewrite, asserts the "
    "plan carried it (bloom_injected), and must equal the plain join — "
    "the pre-shuffle row-discard story for star joins too big to "
    "broadcast",
    tags=("join", "optimizer", "pruning"),
)
def bloom_pruned_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.runtime_filters import (
        enable_runtime_bloom_filters,
        restore_conf,
    )

    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    prev = enable_runtime_bloom_filters(
        spark, creation_side_threshold="100MB", application_side_threshold="1KB"
    )
    try:
        li = t(spark, sf_dir, "lineitem")
        od = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
        joined = (
            li.join(od, li["l_orderkey"] == od["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                ).alias("revenue_cents"),
            )
        )
        injected = "bloom_filter_agg" in (
            joined._jdf.queryExecution().executedPlan().toString()
        )
        # materialize UNDER the rewrite conf; the returned frame is the
        # checkpointed result, immune to the conf restore below
        out = joined.withColumn(
            "bloom_injected", F.lit(bool(injected))
        ).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        restore_conf(spark, prev)
    return out.orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Bucketed co-located join (SURVEY's "pre-shuffle the join key into the
# STORAGE layout" scale story, promoted to a value-checked gate): both
# sides saved bucketBy(8, custkey), so the sort-merge join consumes the
# bucketed scans DIRECTLY — zero Exchange in the join plan — and the
# in-plan boolean pins that, with broadcast disabled so a small dim
# cannot fake the proof. At fleet scale this is the one-time write-side
# investment that removes the per-query shuffle of the big fact table.
# ---------------------------------------------------------------------------


@register(
    "bucketed_join_colocated",
    oracle="""
SELECT c.c_nationkey AS nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       TRUE AS colocated_join
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
ORDER BY nationkey
""",
    doc="co-located join via bucketed storage (S14's segment-by taken to "
    "its Spark-native conclusion): orders and customer written "
    "bucketBy(8, custkey) as external tables, broadcast disabled, and "
    "the join plan asserted Exchange-free in-plan (colocated_join) — "
    "the bucketed scans ARE the shuffle, paid once at write time; the "
    "aggregate must equal the plain-join oracle. The pattern that "
    "turns every recurring fact-dim join at 100 TB from a per-query "
    "shuffle into a layout decision",
    tags=("join", "bucketing", "store", "write"),
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_gates",
        f"bucketed_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    t_o, t_c = f"bkt_orders_{tag}", f"bkt_customer_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {t_o}")
    spark.sql(f"DROP TABLE IF EXISTS {t_c}")

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    (
        orders.write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", os.path.join(base, "orders"))
        .saveAsTable(t_o)
    )
    (
        cust.write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", os.path.join(base, "customer"))
        .saveAsTable(t_c)
    )

    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table(t_o)
        c = spark.table(t_c)
        joined = o.join(c, o["o_custkey"] == c["c_custkey"])
        # the proof: the JOIN plan itself carries no Exchange — each
        # side's bucketed scan already satisfies the SMJ's distribution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        colocated = "Exchange" not in plan
        out = (
            joined.groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("o_custkey").alias("n_customers"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("revenue_cents"),
            )
            .select(
                F.col("c_nationkey").alias("nationkey"),
                "n_orders",
                "n_customers",
                "revenue_cents",
                F.lit(bool(colocated)).alias("colocated_join"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
    return out.orderBy("nationkey")


# ---------------------------------------------------------------------------
# Count-Min point-frequency sketch (operators/countmin.py): d x w counter
# table, estimate = min over the key's d cells. With md5-derived hashes
# the whole construction is engine-exact, so the gate compares ACTUAL
# cells/estimates/overcounts — no probabilistic bound assertion needed.
# Mergeability (shard-then-combine == one build) is pytest-pinned.
# ---------------------------------------------------------------------------

_CM_D, _CM_W = 3, 64

# shared by countmin_frequency_estimates (batch) and
# streaming_countmin_maintainer (stream-then-read): the maintained cell
# table must equal the from-scratch batch build, so both gates check
# against the SAME oracle (the islands-maintainer pattern).
_CM_ORACLE = f"""
WITH t AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS true_n
  FROM events GROUP BY user_id
),
routed AS (
  SELECT t.user_id, t.true_n, rs.r,
         CAST('0x' || substr(md5('cm' || rs.r || ':'
                                  || CAST(t.user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % {_CM_W} AS b
  FROM t CROSS JOIN (VALUES (0), (1), (2)) rs(r)
),
cells AS (
  SELECT r, b, CAST(sum(true_n) AS BIGINT) AS cell
  FROM routed GROUP BY r, b
),
est AS (
  SELECT routed.user_id, routed.true_n,
         CAST(min(cells.cell) AS BIGINT) AS est_n
  FROM routed JOIN cells USING (r, b)
  GROUP BY routed.user_id, routed.true_n
)
SELECT user_id, true_n, est_n,
       CAST(est_n - true_n AS BIGINT) AS overcount
FROM est ORDER BY user_id
"""


@register(
    "countmin_frequency_estimates",
    oracle=_CM_ORACLE,
    doc="Count-Min point-frequency estimates (operators/countmin.py): "
    "3x64 counter table built by one explode + one bounded-width "
    "shuffle, per-key estimate = min of its 3 cells via a broadcast "
    "of the 192-row sketch; estimates never undercount and the "
    "overcount column IS the collision mass — md5-derived hashes make "
    "every cell engine-exact, so the oracle matches values, not "
    "bounds; the mergeable answer to 'how often is THIS key' "
    "(Misra-Gries answers top-k) at corpus sizes where exact "
    "per-key counting is its own big job",
    tags=("sketch", "agg", "frequency"),
)
def countmin_frequency_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.countmin import countmin_build, countmin_estimates

    ev = t(spark, sf_dir, "events")
    cells = countmin_build(ev, "user_id", d=_CM_D, w=_CM_W)
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    est = countmin_estimates(
        cells, truth.select("user_id"), "user_id", d=_CM_D, w=_CM_W
    )
    return (
        truth.join(est, "user_id")
        .select(
            "user_id",
            "true_n",
            "est_n",
            (F.col("est_n") - F.col("true_n")).alias("overcount"),
        )
        .orderBy("user_id")
    )


@register(
    "streaming_countmin_maintainer",
    oracle=_CM_ORACLE,
    doc="the STREAMING Count-Min maintainer gets its own driver verdict "
    "(streaming/countmin_stream.py — previously pytest-only): the gate "
    "splits the events into three parquet files, streams them through "
    "stream_countmin as three file-source micro-batches "
    "(maxFilesPerTrigger=1, availableNow) into the replace_dir-"
    "committed cell table with (run, epoch) replay stamps, reads the "
    "MAINTAINED table back and computes per-key estimates from it; the "
    "oracle recomputes cells + estimates from the raw events in one "
    "batch pass, so any merge-associativity, replay-stamp or swap-"
    "commit defect in the incremental path flips a cell. CMS cells "
    "merge by addition, so arrival order cannot change the result; "
    "streaming state is the d*w sketch forever, regardless of stream "
    "length",
    tags=("streaming", "sketch", "frequency", "write"),
)
def streaming_countmin_maintainer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.countmin import countmin_estimates
    from ..streaming.countmin_stream import read_countmin, stream_countmin

    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_gates",
        f"stream_countmin_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    src_dir = os.path.join(base, "src")
    table = os.path.join(base, "cms")
    ckpt = os.path.join(base, "ckpt")

    ev = t(spark, sf_dir, "events").select("user_id", "event_id")
    if ev.isEmpty():
        # empty source: the sketch table is never committed (degenerate)
        return spark.createDataFrame(
            [], "user_id long, true_n long, est_n long, overcount long"
        )
    # three arrival slices, one file each -> exactly three micro-batches
    for m in range(3):
        ev.filter(F.col("event_id") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = stream_countmin(stream, table, ckpt, "user_id", d=_CM_D, w=_CM_W)
    q.awaitTermination()

    cells = read_countmin(spark, table)
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    est = countmin_estimates(
        cells, truth.select("user_id"), "user_id", d=_CM_D, w=_CM_W
    )
    return (
        truth.join(est, "user_id")
        .select(
            "user_id",
            "true_n",
            "est_n",
            (F.col("est_n") - F.col("true_n")).alias("overcount"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming fixed-reference CUSUM (streaming/stateful.py streaming_cusum —
# the applyInPandasWithState representative, previously pytest-only). The
# process-control recursion S_t = max(0, S_{t-1} + (x_t - ref)) has the
# closed form S_t = P_t - min(0, prefix-min P) over P = prefix sum of
# (x - ref), so the engine-side keyed state is SQL-replayable and every
# column stays exact BIGINT cents. The stream arrives as three seq-RANGE
# slices (CUSUM is order-sensitive: modulo slices would interleave), so
# in-order micro-batches reproduce the batch recursion bit-for-bit.
# ---------------------------------------------------------------------------

_SC_REF_CENTS = 5000       # ~ the event-value mean: a near-critical walk
_SC_THRESHOLD = 20000      # excursion alarm level (exact integer cents)


@register(
    "streaming_cusum_maintainer",
    oracle=f"""
WITH x AS (
  SELECT CAST(user_id AS VARCHAR) AS entity, event_id,
         CAST(round(value * 100) AS BIGINT) - {_SC_REF_CENTS} AS d
  FROM events
), p AS (
  SELECT entity, event_id,
         sum(d) OVER (PARTITION BY entity ORDER BY event_id
                      ROWS UNBOUNDED PRECEDING) AS pref
  FROM x
), s AS (
  SELECT entity, event_id,
         pref - least(min(pref) OVER (PARTITION BY entity ORDER BY event_id
                                      ROWS UNBOUNDED PRECEDING), 0) AS s_t,
         row_number() OVER (PARTITION BY entity ORDER BY event_id DESC)
             AS rdesc
  FROM p
)
SELECT entity,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN s_t > {_SC_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_alarms,
       CAST(max(s_t) AS BIGINT) AS max_excursion_scaled,
       CAST(max(CASE WHEN rdesc = 1 THEN s_t END) AS BIGINT) AS s_scaled
FROM s GROUP BY entity ORDER BY entity
""",
    doc="the applyInPandasWithState stateful stream gets its own driver "
    "verdict (streaming/stateful.py streaming_cusum — engine-side keyed "
    "state, O(1) BIGINT per entity): events stream in as three seq-range "
    "parquet micro-batches, the per-entity clamped recursion S_t = "
    "max(0, S+(x-ref)) runs inside the state store, every (entity, "
    "batch) emission lands in a parquet sink, and the gate reads back "
    "each entity's FINAL emission; the oracle replays the recursion via "
    "its prefix closed form S_t = P_t - min(0, running-min P) — exact "
    "integer cents end to end, so one misordered row, lost state cell "
    "or double-applied batch flips a value",
    tags=("streaming", "stateful", "changepoint", "write"),
)
def streaming_cusum_maintainer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.stateful import streaming_cusum

    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_gates",
        f"stream_cusum_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    src_dir = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")

    ev = t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("entity"),
        F.col("event_id").alias("seq"),
        (F.round(F.col("value") * 100).cast("long") - F.lit(_SC_REF_CENTS))
        .alias("cents"),
    )
    # CUSUM is order-sensitive: slices are seq RANGES written oldest
    # first, so the file source's (mtime, path) ordering delivers the
    # micro-batches in stream order (the state fn sorts by seq WITHIN a
    # batch; cross-batch order is arrival order by contract)
    hi = ev.agg(F.max("seq")).first()[0]  # one scalar — bounded collect
    if hi is None:
        # empty source: no seq range to slice (degenerate sweep, r11)
        return spark.createDataFrame(
            [],
            "entity string, n_events long, n_alarms long,"
            " max_excursion_scaled long, s_scaled long",
        )
    cut1, cut2 = hi // 3, 2 * hi // 3
    for lo_excl, hi_incl in ((-1, cut1), (cut1, cut2), (cut2, hi)):
        ev.filter(
            (F.col("seq") > lo_excl) & (F.col("seq") <= hi_incl)
        ).coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema("entity string, seq long, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    # cents already carries the -ref shift, so ref_cents=0 here; the
    # recursion S=max(0, S+cents) is identical either way
    sq = (
        streaming_cusum(stream, ref_cents=0, threshold_cents=_SC_THRESHOLD)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    emissions = spark.read.parquet(out)
    w_last = Window.partitionBy("entity").orderBy(F.desc("n_events"))
    return (
        emissions.withColumn("_rk", F.row_number().over(w_last))
        .filter(F.col("_rk") == 1)
        .select(
            "entity", "n_events", "n_alarms", "max_excursion_scaled",
            "s_scaled",
        )
        .orderBy("entity")
    )


# ---------------------------------------------------------------------------
# BFS shortest hop distances (operators/graph.bfs_hops) — the classic
# frontier algorithm the graph family was missing (pagerank/triangle/
# k-core/LPA are all local or fixed-round; BFS is the reachability/
# diameter primitive). Graph: lineitem part/supp keys folded mod 4001,
# low-quantity rows only, so the graph is sparse enough to have real
# multi-hop structure (4 levels at sf0.01) instead of a dense 2-hop
# blob. The oracle replays the exact same search as a hop-bounded
# recursive CTE with min(hop) per node — level-synchronous BFS and
# min-over-walks agree on shortest distance by definition.
# Scale: shuffle count ∝ graph DIAMETER (bounded 12), not size; each
# level is one frontier⋈arcs equi-join + one anti-join, frontiers
# broadcast when small. localCheckpoint per level caps lineage.
# ---------------------------------------------------------------------------


@register(
    "graph_bfs_hops",
    oracle="""
WITH RECURSIVE ids AS (
  SELECT l_partkey % 4001 AS a, l_suppkey % 4001 AS b FROM lineitem
  WHERE l_partkey % 4001 <> l_suppkey % 4001 AND l_quantity < 8
), arcs AS (
  SELECT DISTINCT a AS src, b AS dst FROM ids
  UNION SELECT DISTINCT b, a FROM ids
), walk AS (
  SELECT (SELECT min(src) FROM arcs) AS node, 0 AS hop
  UNION
  SELECT arcs.dst, walk.hop + 1
  FROM walk JOIN arcs ON arcs.src = walk.node
  WHERE walk.hop < 12
), d AS (
  -- node IS NOT NULL: no-op on any graph with edges; on an EDGELESS
  -- graph the seed scalar subquery is NULL and would fabricate a
  -- phantom (NULL, hop 0) row the Spark BFS never emits
  SELECT node, CAST(min(hop) AS INTEGER) AS hop FROM walk
  WHERE node IS NOT NULL GROUP BY node
)
SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(max(node) AS BIGINT) AS max_node,
       CAST(sum(node) AS BIGINT) AS node_sum
FROM d GROUP BY hop ORDER BY hop
""",
    doc="level-synchronous frontier BFS from the smallest node of the "
    "folded low-quantity lineitem graph: per-hop frontier histogram with "
    "min/max/sum node fingerprints, verified against a hop-bounded "
    "recursive-CTE shortest-path oracle (min(hop) per node)",
    tags=("graph", "iterative"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_hops

    li = t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_quantity") < 8).select(
        (F.col("l_partkey") % 4001).alias("src"),
        (F.col("l_suppkey") % 4001).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    seed = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .agg(F.min(F.least("a", "b")))
        .first()[0]
    )
    if seed is None:
        # EDGELESS graph (empty/filtered-out input): no seed exists, the
        # oracle's recursive CTE emits nothing — empty histogram, not an
        # int(None) crash (degenerate sweep, r11)
        dist = spark.createDataFrame([], "node long, hop int")
    else:
        dist = bfs_hops(edges, int(seed), max_hops=12)
    return (
        dist.groupBy("hop")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
            F.sum("node").alias("node_sum"),
        )
        .orderBy("hop")
    )


# ---------------------------------------------------------------------------
# Sequence pattern matching over per-entity event strings — the
# MATCH_RECOGNIZE workload (funnels with quantifiers, burst detection)
# expressed Spark-first: one shuffle collects each user's ordered
# event-type initials into a path string (the five event types have
# distinct initials: c/e/p/s/v), then regexp_count runs the pattern
# automaton JVM-side. Non-overlapping greedy counts are engine-agnostic
# for these patterns, so DuckDB's regexp_extract_all replays them
# exactly. Scale: one hash shuffle on user_id; path length is bounded by
# per-entity event counts (chunk long entities upstream if a key is
# pathological); the regex scan is linear per row and embarrassingly
# parallel.
# ---------------------------------------------------------------------------


@register(
    "event_sequence_regex",
    oracle="""
WITH paths AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS path
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(path) AS INTEGER) AS path_len,
       CAST(len(regexp_extract_all(path, 'v+c*p')) AS INTEGER) AS n_funnel,
       CAST(len(regexp_extract_all(path, 'ee+')) AS INTEGER)
         AS n_error_burst,
       CAST(len(regexp_extract_all(path, 's[^p]*p')) AS INTEGER)
         AS n_signup_to_purchase
FROM paths ORDER BY user_id
""",
    doc="MATCH_RECOGNIZE-style sequence mining: per-user ordered event "
    "paths scanned for view+click*->purchase funnels, error bursts and "
    "signup-to-first-purchase spans via greedy non-overlapping regex "
    "counts, replayed exactly by DuckDB's regexp_extract_all",
    tags=("sequence", "window", "text"),
)
def event_sequence_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("i"))
        )
    )
    path = F.concat_ws("", F.transform(ordered, lambda s: s["i"]))
    return (
        ev.groupBy("user_id")
        .agg(path.alias("path"))
        .select(
            "user_id",
            F.length("path").alias("path_len"),
            F.regexp_count("path", F.lit("v+c*p")).alias("n_funnel"),
            F.regexp_count("path", F.lit("ee+")).alias("n_error_burst"),
            F.regexp_count("path", F.lit("s[^p]*p")).alias(
                "n_signup_to_purchase"
            ),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Market-basket association rules — the co-occurrence mining workload
# (frequent pairs, support/confidence/lift) every recommender/curation
# pipeline runs over transaction logs. Baskets = orders, items = parts.
# Pair generation is a within-basket self-join: bounded-quadratic per
# basket (TPC-H baskets hold ≤7 items; at 100 TB, cap basket size
# upstream — a degenerate mega-basket is a data bug, not a workload).
# All counting is exact BIGINT; confidence is the gates' proven
# one-division-at-the-end pattern (identical operands → bit-identical
# IEEE doubles on both engines, no rounding).
# Scale: one distinct (order, part) shuffle, one self-join on orderkey
# (hash-partitioned, baskets co-located), one pair-count shuffle, two
# broadcast-sized per-item count joins.
# ---------------------------------------------------------------------------


@register(
    "assoc_rules_pairs",
    oracle="""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
), n_orders AS (
  SELECT count(DISTINCT oid) AS n FROM baskets
), item_n AS (
  SELECT item, count(*) AS n_item FROM baskets GROUP BY item
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.oid = b.oid AND a.item < b.item
  GROUP BY 1, 2
)
SELECT p.item_a, p.item_b,
       CAST(p.n_ab AS BIGINT) AS n_ab,
       CAST(ia.n_item AS BIGINT) AS n_a,
       CAST(ib.n_item AS BIGINT) AS n_b,
       p.n_ab / ia.n_item AS confidence,
       (p.n_ab * (SELECT n FROM n_orders)) / (ia.n_item * ib.n_item)
         AS lift
FROM pairs p
JOIN item_n ia ON ia.item = p.item_a
JOIN item_n ib ON ib.item = p.item_b
WHERE p.n_ab >= 2
ORDER BY n_ab DESC, item_a, item_b LIMIT 50
""",
    doc="market-basket association rules over order baskets: exact "
    "BIGINT pair/item supports from one within-basket self-join, "
    "confidence and lift as single end-of-plan divisions (bit-identical "
    "IEEE), top-50 pairs by support",
    tags=("join", "mining"),
)
def assoc_rules_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("item")
    ).distinct()
    # n_orders stays IN-PLAN as a broadcast 1-row aggregate (no eager
    # driver .count() recomputing the basket distinct)
    n_orders_df = (
        baskets.select("oid").distinct().agg(F.count(F.lit(1)).alias("n_orders"))
    )
    item_n = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.oid") == F.col("b.oid"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    return (
        pairs.join(
            F.broadcast(
                item_n.select(
                    F.col("item").alias("item_a"), F.col("n_item").alias("n_a")
                )
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                item_n.select(
                    F.col("item").alias("item_b"), F.col("n_item").alias("n_b")
                )
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(n_orders_df))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            "n_a",
            "n_b",
            (F.col("n_ab") / F.col("n_a")).alias("confidence"),
            (
                F.col("n_ab") * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), "item_a", "item_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Entity resolution by SORTED-NEIGHBORHOOD blocking (Hernandez &
# Stolfo 1995) — the other classic blocking family next to the dedup
# ladder's LSH: sort records by a blocking key, compare each record only
# to its w successors inside a block. Dirty duplicates are PLANTED
# deterministically (every 5th customer re-enters with a typo-suffixed
# name and an offset key), so recall is exactly checkable: the gate must
# find precisely the planted pairs and nothing else.
# Scale posture: candidate pairs come from WINDOW LEADS inside hash-
# partitioned blocks — zero joins, no global sort (a row number without
# partitionBy would be the single-partition scale-killer this gate
# deliberately avoids); Levenshtein verification runs JVM-side on the
# ≤w candidates per row.
# ---------------------------------------------------------------------------


@register(
    "er_sorted_neighborhood",
    oracle="""
WITH src AS (
  SELECT c_custkey, c_name,
         CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR) AS addr
  FROM customer
), dirty AS (
  SELECT c_custkey + 10000000 AS key, c_name || 'x' AS name, addr
  FROM src WHERE c_custkey % 5 = 0
), all_recs AS (
  SELECT c_custkey AS key, c_name AS name, addr FROM src
  UNION ALL SELECT key, name, addr FROM dirty
), ranked AS (
  SELECT key, name, addr, substr(name, 10, 5) AS block,
         lead(key, 1) OVER w AS k1, lead(name, 1) OVER w AS n1,
         lead(addr, 1) OVER w AS a1,
         lead(key, 2) OVER w AS k2, lead(name, 2) OVER w AS n2,
         lead(addr, 2) OVER w AS a2,
         lead(key, 3) OVER w AS k3, lead(name, 3) OVER w AS n3,
         lead(addr, 3) OVER w AS a3
  FROM all_recs
  WINDOW w AS (PARTITION BY substr(name, 10, 5) ORDER BY name, key)
), cand AS (
  SELECT block, key AS key_a, name || '|' || addr AS rec_a,
         k1 AS key_b, n1 || '|' || a1 AS rec_b
  FROM ranked WHERE k1 IS NOT NULL
  UNION ALL
  SELECT block, key, name || '|' || addr, k2, n2 || '|' || a2
  FROM ranked WHERE k2 IS NOT NULL
  UNION ALL
  SELECT block, key, name || '|' || addr, k3, n3 || '|' || a3
  FROM ranked WHERE k3 IS NOT NULL
)
SELECT block, key_a, key_b,
       CAST(levenshtein(rec_a, rec_b) AS INTEGER) AS lev
FROM cand WHERE levenshtein(rec_a, rec_b) <= 2
ORDER BY key_a, key_b
""",
    doc="sorted-neighborhood entity resolution with planted typo "
    "duplicates: window-lead candidate pairs inside hash-partitioned "
    "blocks (zero joins, no global sort), Levenshtein<=2 verification "
    "on the full name|balance-cents record — neighbor names differ by "
    "one digit but their random balances diverge, so the planted pairs "
    "(shared balance, one-char name typo) survive; verified at the "
    "gate's SFs that the output IS exactly the planted set",
    tags=("dedup", "window", "mining"),
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    addr = F.round(F.col("c_acctbal") * 100).cast("long").cast("string")
    clean = cust.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        addr.alias("addr"),
    )
    dirty = cust.filter(F.col("c_custkey") % 5 == 0).select(
        (F.col("c_custkey") + 10000000).alias("key"),
        F.concat(F.col("c_name"), F.lit("x")).alias("name"),
        addr.alias("addr"),
    )
    recs = clean.unionByName(dirty).withColumn(
        "block", F.substring("name", 10, 5)
    )
    w = Window.partitionBy("block").orderBy("name", "key")
    rec = F.concat_ws("|", "name", "addr")
    ranked = recs.select(
        "block",
        "key",
        rec.alias("rec"),
        *[
            c
            for i in (1, 2, 3)
            for c in (
                F.lead("key", i).over(w).alias(f"k{i}"),
                F.lead(rec, i).over(w).alias(f"r{i}"),
            )
        ],
    )
    cand = None
    for i in (1, 2, 3):
        part = ranked.filter(F.col(f"k{i}").isNotNull()).select(
            "block",
            F.col("key").alias("key_a"),
            F.col("rec").alias("rec_a"),
            F.col(f"k{i}").alias("key_b"),
            F.col(f"r{i}").alias("rec_b"),
        )
        cand = part if cand is None else cand.unionByName(part)
    return (
        cand.withColumn("lev", F.levenshtein("rec_a", "rec_b"))
        .filter(F.col("lev") <= 2)
        .select("block", "key_a", "key_b", "lev")
        .orderBy("key_a", "key_b")
    )


# ---------------------------------------------------------------------------
# Bounded Bellman-Ford — weighted single-source shortest path, the
# relaxation algorithm class next to graph_bfs_hops' unweighted BFS.
# Same sparse folded graph; weights are small positive integers
# (l_linenumber-derived) and parallel edges collapse to min weight, so
# both engines relax the identical graph in exact BIGINT arithmetic.
# k relaxation rounds == min cost over all walks of ≤ k edges == the
# depth-bounded recursive-CTE enumeration the oracle runs.
# Scale: shuffle count ∝ rounds (join + min-groupBy per round on the
# same node key), never data size; localCheckpoint per round.
# ---------------------------------------------------------------------------


@register(
    "graph_bellman_ford",
    oracle="""
WITH RECURSIVE ids AS (
  SELECT l_partkey % 4001 AS a, l_suppkey % 4001 AS b,
         CAST(l_linenumber % 5 + 1 AS BIGINT) AS w
  FROM lineitem
  WHERE l_partkey % 4001 <> l_suppkey % 4001 AND l_quantity < 8
), edges AS (
  SELECT least(a, b) AS a, greatest(a, b) AS b, min(w) AS w
  FROM ids GROUP BY 1, 2
), arcs AS (
  SELECT a AS src, b AS dst, w FROM edges
  UNION ALL SELECT b, a, w FROM edges
), walk AS (
  SELECT (SELECT min(src) FROM arcs) AS node, CAST(0 AS BIGINT) AS cost,
         0 AS depth
  UNION
  SELECT arcs.dst, walk.cost + arcs.w, walk.depth + 1
  FROM walk JOIN arcs ON arcs.src = walk.node
  WHERE walk.depth < 4
), d AS (SELECT node, min(cost) AS cost FROM walk
         WHERE node IS NOT NULL GROUP BY node)  -- see graph_bfs_hops
SELECT cost, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(max(node) AS BIGINT) AS max_node,
       CAST(sum(node) AS BIGINT) AS node_sum
FROM d GROUP BY cost ORDER BY cost
""",
    doc="bounded Bellman-Ford from the smallest node of the weighted "
    "folded lineitem graph (integer weights, parallel edges collapsed "
    "to min): per-cost-level histogram with node fingerprints, verified "
    "against a depth-bounded recursive-CTE walk enumeration (min cost "
    "over walks of <=4 edges)",
    tags=("graph", "iterative"),
)
def graph_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bellman_ford_bounded

    li = t(spark, sf_dir, "lineitem")
    edges_w = li.filter(F.col("l_quantity") < 8).select(
        (F.col("l_partkey") % 4001).alias("src"),
        (F.col("l_suppkey") % 4001).alias("dst"),
        (F.col("l_linenumber") % 5 + 1).cast("long").alias("w"),
    ).filter(F.col("src") != F.col("dst"))
    seed = (
        edges_w.select(F.least("src", "dst").alias("m"))
        .agg(F.min("m"))
        .first()[0]
    )
    if seed is None:
        # edgeless graph: same guard as graph_bfs_hops
        dist = spark.createDataFrame([], "node long, cost long")
    else:
        dist = bellman_ford_bounded(edges_w, int(seed), rounds=4)
    return (
        dist.groupBy("cost")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
            F.sum("node").alias("node_sum"),
        )
        .orderBy("cost")
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: robust time-series depth (operators/timeseries.py
# additions). Hampel rolling-median outlier detection — the robust
# complement to anomaly_zscore_outliers (a spike inflates the mean/std
# the z-score compares against; the median/MAD it cannot) — kept exact
# BIGINT end-to-end via the 2x-median / 4x-MAD multiply-through, so the
# oracle replays every comparison. And an STL-lite additive seasonal
# profile: centered-MA detrending with division deferred past all
# aggregation (interior frames only, one double divide per hour-of-day).
# ---------------------------------------------------------------------------


@register(
    "hampel_outlier_filter",
    oracle="""
WITH x AS (
  SELECT user_id AS entity, event_id AS seq,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), f AS (
  SELECT entity, seq, cents,
         list_sort(list(cents) OVER (
           PARTITION BY entity ORDER BY seq
           ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)) AS fr
  FROM x
), m AS (
  SELECT entity, seq, cents, fr,
         fr[CAST((len(fr) + 1) // 2 AS INT)]
           + fr[CAST(len(fr) // 2 + 1 AS INT)] AS med2
  FROM f
), d AS (
  SELECT entity, seq, cents, med2,
         list_sort(list_transform(fr, v -> abs(2 * v - med2))) AS dv
  FROM m
), z AS (
  SELECT entity, seq, cents, CAST(med2 AS BIGINT) AS med2,
         CAST(dv[CAST((len(dv) + 1) // 2 AS INT)]
              + dv[CAST(len(dv) // 2 + 1 AS INT)] AS BIGINT) AS mad22
  FROM d
)
SELECT entity, seq, cents, med2, mad22
FROM z
WHERE 2 * abs(2 * cents - med2) * 10000 > 44478 * mad22
ORDER BY entity, seq
""",
    doc="Hampel rolling-median outlier filter (operators/timeseries."
    "hampel_flags): per entity, an 11-row centered frame's median and "
    "MAD flag the row when |x - med| > 3*1.4826*MAD — all BIGINT via "
    "med2 = sum of the two middle order stats (2x median) and mad22 "
    "(4x MAD), test multiplied through to 2*|2x-med2|*10000 > "
    "44478*mad22, so both engines compare identical integers; one "
    "window sort per entity, array expressions inside codegen, the "
    "robust screen a z-score cannot give (the spike contaminates the "
    "mean it is compared against)",
    tags=("window", "time", "anomaly"),
)
def hampel_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import hampel_flags

    ev = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("entity"),
        F.col("event_id").alias("seq"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = hampel_flags(ev, "entity", ["seq"], "cents", half_window=5)
    return (
        out.filter(F.col("is_outlier"))
        .select("entity", "seq", "cents", "med2", "mad22")
        .orderBy("entity", "seq")
    )


@register(
    "seasonal_decompose_additive",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket_ts,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1
), fr AS (
  SELECT bucket_ts, v,
         CAST(sum(v) OVER w AS BIGINT) AS fs,
         CAST(count(v) OVER w AS BIGINT) AS fc
  FROM hourly
  WINDOW w AS (ORDER BY bucket_ts ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
), detr AS (
  SELECT CAST(hour(bucket_ts) AS INT) AS hod, v * 24 - fs AS detr
  FROM fr WHERE fc = 24
)
SELECT hod,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(detr) AS BIGINT) AS sum_detr_scaled,
       round(CAST(CAST(sum(detr) AS BIGINT) AS DOUBLE)
             / CAST(count(*) * 24 AS DOUBLE) / 100.0, 6) AS seasonal_cents
FROM detr GROUP BY hod ORDER BY hod
""",
    doc="STL-lite additive seasonal profile (operators/timeseries."
    "seasonal_profile_scaled): hourly cents series detrended against a "
    "centered 24-bucket moving average with division deferred past all "
    "aggregation (detr = 24*v - frame_sum stays BIGINT; interior full "
    "frames only so denominators never mix), then hour-of-day averages "
    "— one double divide each. The unpartitioned window runs over the "
    "POST-rollup series (calendar hours), a bounded single-reducer "
    "sort, not a raw-event scan",
    tags=("window", "time", "seasonality"),
)
def seasonal_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import seasonal_profile_scaled

    ev = t(spark, sf_dir, "events").select(
        "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return (
        seasonal_profile_scaled(ev, "ts", "cents", period=24)
        .select("hod", "n_buckets", "sum_detr_scaled", "seasonal_cents")
        .orderBy("hod")
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: the connected-components operator under a DIRECT
# fixpoint verdict. operators/components.connected_components is the
# engine's duplicate-cluster core (every drop_near_duplicates gate
# exercises it), but its prior verdicts were always through a dedup
# composition; here the pointer-doubling labels are checked against a
# genuinely RECURSIVE transitive-closure oracle on a folded graph — if
# the log-round hopping under-converged, min-reachable labels would
# disagree. The sparse order-part co-purchase graph (quantity-1 lines)
# fragments into many small components, so the closure enumeration
# the oracle must do stays linear in component sizes; the Spark side's
# cost is log(diameter) rounds regardless.
# ---------------------------------------------------------------------------


@register(
    "graph_connected_components",
    oracle="""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT 2000000 + l_orderkey AS u, l_partkey AS v
  FROM lineitem WHERE l_quantity < 2
), arcs AS (
  SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0
), reach(node, r) AS (
  SELECT u, u FROM arcs
  UNION
  SELECT a.u, rr.r FROM arcs a JOIN reach rr ON rr.node = a.v
), lab AS (
  SELECT node, min(r) AS component FROM reach GROUP BY node
)
SELECT component,
       CAST(count(*) AS BIGINT) AS size,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(max(node) AS BIGINT) AS max_node,
       CAST(sum(node) AS BIGINT) AS node_sum
FROM lab GROUP BY component
ORDER BY size DESC, component
""",
    doc="connected components under a direct fixpoint verdict "
    "(operators/components.connected_components — pointer-doubling "
    "min-label hopping, localCheckpoint per round, shuffle count ~ "
    "log(diameter) not data size): per-component size histogram and "
    "node fingerprints over the order-part co-purchase graph (hundreds to thousands of REAL components, closure bounded), verified "
    "against a genuinely RECURSIVE transitive-closure oracle (min "
    "reachable node), not a round-bounded twin — under-convergence "
    "cannot hide",
    tags=("graph", "iterative"),
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") < 2)
    edges = li.select(
        (F.lit(2000000) + F.col("l_orderkey")).alias("doc_a"),
        F.col("l_partkey").alias("doc_b"),
    ).distinct()
    labels = connected_components(edges, "doc_a", "doc_b", max_iter=10)
    return (
        labels.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
            F.sum("node").alias("node_sum"),
        )
        .orderBy(F.desc("size"), "component")
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: RFM segmentation — the classic customer-value
# grid (recency / frequency / monetary quintile scores). Reference
# analogue: the benchmark's "collapse facts into a per-entity dim, then
# score the dim" shape (velocity star first-seen dim, SURVEY §2.4).
# All three metrics are exact BIGINT (recency = floored days from the
# corpus max order date, frequency = order count, monetary = cents);
# each quintile score is pure rank arithmetic — 5 - ((rn-1)*5 div n) on
# a UNIQUE ordering (metric, custkey) — no float percentile anywhere,
# so both engines agree bit-for-bit.
# Scale: one o_custkey shuffle collapses the fact table; the three rank
# windows run over the CUSTOMER DIM (orders of magnitude smaller than
# facts). At 100 TB swap the exact dim-wide rank for approx-quantile
# cut points; the exact form here is bounded by customers, not orders.
# ---------------------------------------------------------------------------


@register(
    "rfm_segmentation",
    oracle="""
WITH mx AS (
  SELECT max(o_orderdate) AS mx_date FROM orders
), per_cust AS (
  SELECT o_custkey AS custkey,
         CAST((epoch_us((SELECT mx_date FROM mx)) - epoch_us(max(o_orderdate)))
              // (CAST(86400 AS BIGINT) * 1000000) AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cust FROM per_cust
), scored AS (
  SELECT custkey, recency_days, frequency, monetary_cents,
         5 - ((row_number() OVER (ORDER BY recency_days, custkey) - 1) * 5)
               // (SELECT n_cust FROM n) AS r_score,
         5 - ((row_number() OVER (ORDER BY frequency DESC, custkey) - 1) * 5)
               // (SELECT n_cust FROM n) AS f_score,
         5 - ((row_number() OVER (ORDER BY monetary_cents DESC, custkey) - 1)
              * 5) // (SELECT n_cust FROM n) AS m_score
  FROM per_cust
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(monetary_cents) AS BIGINT) AS segment_cents,
       CAST(min(custkey) AS BIGINT) AS min_custkey
FROM scored GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score
""",
    doc="RFM segmentation: collapse orders to a per-customer dim "
    "(recency in exact floored days from the corpus max date, "
    "frequency, monetary cents), score each metric into quintiles via "
    "rank arithmetic on a unique (metric, custkey) ordering — "
    "5 - ((rn-1)*5 div n), no float percentiles — and report the "
    "segment grid (count, revenue, min custkey per cell); one fact "
    "shuffle + three range-partitioned global ranks (no one-task sort)",
    tags=("mining", "window"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mx_date"))
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_date"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "custkey",
            F.expr(
                "(unix_micros(mx_date) - unix_micros(last_date))"
                " div (86400000000)"
            ).alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    # the customer dim is SF-proportional: all three global ranks (and
    # n_cust) come from the range-partitioned surrogate_keys pattern —
    # identical numbering to row_number() OVER (ORDER BY ...), with no
    # partition-less window sorting the whole dim on ONE task (r12
    # de-weak); n_cust is the per-range counts job's total, no extra scan
    from ..functions.codecs import surrogate_keys

    quintile = "(5 - ((rn - 1) * 5) div n_cust)"
    scored = surrogate_keys(
        per_cust, ["recency_days", "custkey"], out_col="rn", total_col="n_cust"
    ).withColumn("r_score", F.expr(quintile)).drop("rn")
    scored = surrogate_keys(
        scored, [F.desc("frequency"), F.asc("custkey")], out_col="rn"
    ).withColumn("f_score", F.expr(quintile)).drop("rn")
    scored = (
        surrogate_keys(
            scored, [F.desc("monetary_cents"), F.asc("custkey")], out_col="rn"
        )
        .withColumn("m_score", F.expr(quintile))
        .drop("rn", "n_cust")
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").alias("segment_cents"),
            F.min("custkey").alias("min_custkey"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: ABC / Pareto classification — rank items by
# revenue and cut the cumulative share at 80% / 95% (the classic A/B/C
# inventory analysis, and the "top sources carry the corpus" audit a
# training-data pipeline runs before sampling). Reference analogue: the
# benchmark's ranked zone-map scans (SURVEY §2.5 A4) — here the ranking
# is over the PART DIM after one fact-collapse shuffle.
# Exactness: revenue is scaled integer cents x (100 - discount
# basis points), so the cumulative sum and both share cuts are pure
# BIGINT comparisons (cum*100 <= 80*total) — no float boundary can
# flip a class between engines; the reported share is one division at
# the very end, rounded 6dp.
# Scale: one l_partkey shuffle collapses lineitem; the ordered cumsum
# runs over the part dim. At 100 TB the dim-wide running sum becomes a
# two-pass prefix (per-partition totals broadcast back) — same plan
# Spark already picks for a single unbounded window ordered by key.
# ---------------------------------------------------------------------------


@register(
    "abc_pareto_class",
    oracle="""
WITH per_part AS (
  SELECT l_partkey AS partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS rev_scaled
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT partkey, rev_scaled,
         sum(rev_scaled) OVER (ORDER BY rev_scaled DESC, partkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum,
         (SELECT sum(rev_scaled) FROM per_part) AS total
  FROM per_part
), classed AS (
  SELECT partkey, rev_scaled,
         CASE WHEN cum * 100 <= 80 * total THEN 'A'
              WHEN cum * 100 <= 95 * total THEN 'B'
              ELSE 'C' END AS cls,
         total
  FROM ranked
)
SELECT cls,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev_scaled) AS BIGINT) AS class_rev_scaled,
       round(CAST(sum(rev_scaled) AS DOUBLE) / CAST(max(total) AS DOUBLE), 6)
         AS revenue_share
FROM classed GROUP BY cls ORDER BY cls
""",
    doc="ABC / Pareto classification of parts by revenue: exact "
    "scaled-integer revenue (cents x (100 - discount bp)), range-"
    "partitioned ordered cumulative sum (no single-task sort), class "
    "cuts as pure BIGINT cross-multiplied "
    "comparisons (cum*100 <= 80*total), share = one end-of-plan "
    "division rounded 6dp; one fact shuffle + one prefix-sum pass",
    tags=("mining", "window"),
)
def abc_pareto_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("rev_scaled")
    )
    # the part dim is SF-proportional: ordered cumulative revenue + the
    # grand total via the range-partitioned prefix_sums pattern instead
    # of partition-less windows (r12 de-weak — identical integers, no
    # one-task sort of the dim)
    from ..functions.codecs import prefix_sums

    ranked = prefix_sums(
        per_part,
        [F.desc("rev_scaled"), F.asc("partkey")],
        ["rev_scaled"],
        out_cols=["cum"],
        total_cols={"rev_scaled": "total"},
    ).select("partkey", "rev_scaled", "cum", "total")
    classed = ranked.withColumn(
        "cls",
        F.when(F.col("cum") * 100 <= 80 * F.col("total"), "A")
        .when(F.col("cum") * 100 <= 95 * F.col("total"), "B")
        .otherwise("C"),
    )
    return (
        classed.groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_scaled").alias("class_rev_scaled"),
            F.round(
                F.sum("rev_scaled").cast("double")
                / F.max("total").cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("cls")
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: period-over-period revenue — monthly revenue
# with month-over-month and year-over-year deltas, the first dashboard
# query any lakehouse serves. Reference analogue: the benchmark's
# time-bucketed rollups (SURVEY §2.6 W1) plus a calendar-aligned
# self-lookup. MoM/YoY use CALENDAR self-joins (prev month with year
# rollover, same month last year), not lag-over-rows, so missing
# months can never silently shift the comparison.
# Exactness: monthly revenue is an exact BIGINT cents sum; each pct
# is one division of two exact BIGINTs rounded 6dp.
# Scale: one (year, month) shuffle (tiny key space) + two broadcast
# self-joins of the month dim against itself.
# ---------------------------------------------------------------------------


@register(
    "period_over_period_revenue",
    oracle="""
WITH monthly AS (
  SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS y,
         CAST(extract(month FROM o_orderdate) AS BIGINT) AS m,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM orders GROUP BY 1, 2
)
SELECT cur.y, cur.m, cur.revenue_cents,
       round(CAST(cur.revenue_cents - mom.revenue_cents AS DOUBLE)
             / CAST(mom.revenue_cents AS DOUBLE), 6) AS mom_pct,
       round(CAST(cur.revenue_cents - yoy.revenue_cents AS DOUBLE)
             / CAST(yoy.revenue_cents AS DOUBLE), 6) AS yoy_pct
FROM monthly cur
LEFT JOIN monthly mom
  ON mom.y = CASE WHEN cur.m = 1 THEN cur.y - 1 ELSE cur.y END
 AND mom.m = CASE WHEN cur.m = 1 THEN 12 ELSE cur.m - 1 END
LEFT JOIN monthly yoy ON yoy.y = cur.y - 1 AND yoy.m = cur.m
ORDER BY cur.y, cur.m
""",
    doc="period-over-period revenue: exact monthly cents rollup with "
    "MoM (calendar prev month, year rollover) and YoY (same month "
    "last year) deltas via self-joins on the month dim — missing "
    "months can't shift the comparison the way lag-over-rows would; "
    "each pct is one BIGINT/BIGINT division rounded 6dp",
    tags=("window", "time"),
)
def period_over_period_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        )
    )
    cur = monthly.alias("cur")
    mom = monthly.alias("mom")
    yoy = monthly.alias("yoy")
    prev_y = F.when(F.col("cur.m") == 1, F.col("cur.y") - 1).otherwise(
        F.col("cur.y")
    )
    prev_m = F.when(F.col("cur.m") == 1, F.lit(12)).otherwise(
        F.col("cur.m") - 1
    )
    pct = lambda a, b: F.round(  # noqa: E731
        (a - b).cast("double") / b.cast("double"), 6
    )
    return (
        cur.join(
            F.broadcast(mom),
            (F.col("mom.y") == prev_y) & (F.col("mom.m") == prev_m),
            "left",
        )
        .join(
            F.broadcast(yoy),
            (F.col("yoy.y") == F.col("cur.y") - 1)
            & (F.col("yoy.m") == F.col("cur.m")),
            "left",
        )
        .select(
            F.col("cur.y").alias("y"),
            F.col("cur.m").alias("m"),
            F.col("cur.revenue_cents").alias("revenue_cents"),
            pct(
                F.col("cur.revenue_cents"), F.col("mom.revenue_cents")
            ).alias("mom_pct"),
            pct(
                F.col("cur.revenue_cents"), F.col("yoy.revenue_cents")
            ).alias("yoy_pct"),
        )
        .orderBy("y", "m")
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: resource-allocation link prediction — score
# each co-bought part pair by Zhou/Lu/Zhang's Resource Allocation
# index: sum over shared baskets of 1/|basket|, the degree-penalized
# cousin of common-neighbor counting (a mega-basket says little; a
# 2-item basket is a strong tie). The graph family's join-shaped gate
# (pagerank/triangles/k-core are the iterative ones).
# Exactness: weights are EXACT scaled integers — 720720/s (LCM of
# 1..16, so every realistic basket size divides it; `div` floors
# identically on both engines beyond that) — summed as BIGINT, so no
# float summation order exists; the reported score is one division at
# the very end.
# Scale: identical shape to assoc_rules_pairs — one distinct shuffle,
# one within-basket self-join (bounded-quadratic per basket, TPC-H
# baskets hold <= 7 distinct parts), one pair-count shuffle, one
# broadcast of per-order sizes.
# ---------------------------------------------------------------------------

_RA_SCALE = 720720  # lcm(1..16): exact integer weight 720720/s for s <= 16


@register(
    "graph_link_prediction_ra",
    oracle=f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
), sizes AS (
  SELECT oid, CAST(count(*) AS BIGINT) AS sz FROM baskets GROUP BY oid
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum({_RA_SCALE} // s.sz) AS BIGINT) AS ra_scaled
  FROM baskets a
  JOIN baskets b ON a.oid = b.oid AND a.item < b.item
  JOIN sizes s ON s.oid = a.oid
  GROUP BY 1, 2
)
SELECT item_a, item_b, n_common, ra_scaled,
       round(CAST(ra_scaled AS DOUBLE) / {_RA_SCALE}.0, 6) AS ra_score
FROM pairs WHERE n_common >= 2
ORDER BY ra_scaled DESC, item_a, item_b LIMIT 50
""",
    doc="resource-allocation link prediction over co-purchase baskets: "
    "pair strength = sum over shared baskets of 1/|basket| as EXACT "
    "scaled integers (720720 div size, BIGINT sum — no float ordering), "
    "top-50 by scaled score; same bounded within-basket self-join shape "
    "as assoc_rules_pairs with a broadcast size dim",
    tags=("graph", "join", "mining"),
)
def graph_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("item")
    ).distinct()
    sizes = baskets.groupBy(F.col("oid").alias("s_oid")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.oid") == F.col("b.oid"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .join(F.broadcast(sizes), F.col("a.oid") == F.col("s_oid"))
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.expr(f"{_RA_SCALE} div sz")).alias("ra_scaled"),
        )
        .filter(F.col("n_common") >= 2)
    )
    return (
        pairs.select(
            "item_a",
            "item_b",
            "n_common",
            "ra_scaled",
            F.round(
                F.col("ra_scaled").cast("double") / F.lit(float(_RA_SCALE)), 6
            ).alias("ra_score"),
        )
        .orderBy(F.desc("ra_scaled"), "item_a", "item_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: Bloom-filter build + measured false-positive
# rate — the engine primitive behind bloom_pruned_star_join, built
# from first principles and then AUDITED: set k=3 md5-derived bit
# positions per member key in an m=2^20 space, probe with a disjoint
# key set (members shifted past the key range), and report the
# OBSERVED FPR against the fill. Production filters get sized from
# exactly this measurement, not the textbook formula.
# Exactness: bit positions are the repo's md5 algebra (engine-exact),
# the filter is a distinct-position set, membership is an integer
# match count == k, and the FPR is one division rounded 6dp.
# Scale: members explode to k rows into one distinct shuffle (the
# filter); probes explode to k rows and semi-join the filter on the
# position key — both sides linear, the filter table is at most m
# rows regardless of data size.
# ---------------------------------------------------------------------------

_BF_M = 1 << 20
_BF_K = 3
_BF_PROBE_SHIFT = 100000000


@register(
    "bloom_filter_fpr",
    oracle=f"""
WITH keys AS (
  SELECT DISTINCT o_orderkey AS key FROM orders
), member_bits AS (
  SELECT DISTINCT
         CAST(CAST('0x' || substr(md5('b' || CAST(i AS VARCHAR) || ':'
                                   || CAST(key AS VARCHAR)), 1, 8)
              AS BIGINT) % {_BF_M} AS BIGINT) AS pos
  FROM keys, unnest(generate_series(1, {_BF_K})) AS g(i)
), probe_bits AS (
  SELECT key + {_BF_PROBE_SHIFT} AS probe,
         CAST(CAST('0x' || substr(md5('b' || CAST(i AS VARCHAR) || ':'
                                   || CAST(key + {_BF_PROBE_SHIFT}
                                           AS VARCHAR)), 1, 8)
              AS BIGINT) % {_BF_M} AS BIGINT) AS pos
  FROM keys, unnest(generate_series(1, {_BF_K})) AS g(i)
), hits AS (
  SELECT p.probe, CAST(count(m.pos) AS BIGINT) AS n_hit
  FROM probe_bits p LEFT JOIN member_bits m ON m.pos = p.pos
  GROUP BY p.probe
)
SELECT CAST((SELECT count(*) FROM keys) AS BIGINT) AS n_keys,
       CAST((SELECT count(*) FROM member_bits) AS BIGINT) AS n_bits_set,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(count(CASE WHEN n_hit = {_BF_K} THEN 1 END) AS BIGINT)
         AS n_false_pos,
       CASE WHEN count(*) = 0 THEN NULL
            ELSE round(CAST(count(CASE WHEN n_hit = {_BF_K} THEN 1 END)
                            AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6) END AS observed_fpr
FROM hits
""",
    doc="Bloom filter from first principles with a measured FPR: k=3 "
    "md5 bit positions per member in m=2^20, filter = distinct "
    "position set, disjoint probes (keys shifted past the range) count "
    "as false positives when all k positions collide — engine-exact "
    "hash algebra, integer membership, one end division; filter table "
    "bounded by m regardless of data size",
    tags=("sketch", "join", "mining"),
)
def bloom_filter_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_orderkey").alias("key")).distinct()

    def bits(key_col):
        return F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(_BF_K)),
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("b"),
                                i.cast("string"),
                                F.lit(":"),
                                key_col.cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % _BF_M,
            )
        )

    member_bits = keys.select(bits(F.col("key")).alias("pos")).distinct()
    probes = keys.select((F.col("key") + _BF_PROBE_SHIFT).alias("probe"))
    probe_bits = probes.select("probe", bits(F.col("probe")).alias("pos"))
    hits = (
        probe_bits.join(member_bits, "pos", "left_semi")
        .groupBy("probe")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    all_probes = probes.join(
        hits, "probe", "left"
    ).select(F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"))
    fp = F.count(F.when(F.col("n_hit") == _BF_K, 1))
    # scalar-broadcast assembly: n_keys / n_bits_set stay IN-PLAN as
    # cross-joined 1-row aggregates (no eager driver .count() actions,
    # no recomputed lineage outside the returned plan)
    n_keys_df = keys.agg(F.count(F.lit(1)).alias("n_keys"))
    n_bits_df = member_bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    # NULL (not a crash) when there are zero probes — empty input makes
    # the denominator 0 and ANSI division would throw; the oracle pins
    # the same NULL convention explicitly (degenerate sweep, r11)
    probe_agg = all_probes.agg(
        F.count(F.lit(1)).alias("n_probes"),
        fp.alias("n_false_pos"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.round(
                fp.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ),
        ).alias("observed_fpr"),
    )
    return (
        n_keys_df.crossJoin(F.broadcast(n_bits_df))
        .crossJoin(F.broadcast(probe_agg))
        .select(
            "n_keys", "n_bits_set", "n_probes", "n_false_pos", "observed_fpr"
        )
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: delta-encoding bit-width audit — before
# choosing a columnar encoding you measure how many bits the deltas of
# a sorted column actually need (Parquet DELTA_BINARY_PACKED, Gorilla
# and every TSDB codec live on exactly this histogram). Per user, the
# successive timestamp deltas in microseconds; per delta, the minimal
# bit width via the binary-string length of the exact integer — no
# log2 float anywhere.
# Exactness: deltas are BIGINT differences under a unique (ts,
# event_id) ordering; bits = length(bin(delta)) with delta=0 pinned to
# 0 bits — pure integer/string algebra on both engines.
# Scale: one user_id window shuffle, then a <=64-key rollup.
# ---------------------------------------------------------------------------


@register(
    "delta_bitwidth_histogram",
    oracle="""
WITH d AS (
  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS delta
  FROM events
), bits AS (
  SELECT CASE WHEN delta = 0 THEN 0
              ELSE CAST(length(bin(delta)) AS BIGINT) END AS n_bits
  FROM d WHERE delta IS NOT NULL
)
SELECT n_bits,
       CAST(count(*) AS BIGINT) AS n_deltas,
       round(CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS share
FROM bits GROUP BY n_bits ORDER BY n_bits
""",
    doc="delta-encoding bit-width histogram over per-user timestamp "
    "deltas (the DELTA_BINARY_PACKED / Gorilla sizing audit): minimal "
    "bits per delta via length(bin(x)) on exact BIGINT differences — "
    "no float log2; one user window + a <=64-key rollup; share is one "
    "end division",
    tags=("window", "time", "storage"),
)
def delta_bitwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        (epoch_us("ts") - F.lag(epoch_us("ts")).over(w)).alias("delta")
    ).filter(F.col("delta").isNotNull())
    bits = d.select(
        F.when(F.col("delta") == 0, F.lit(0).cast("long"))
        .otherwise(F.length(F.bin("delta")).cast("long"))
        .alias("n_bits")
    )
    w_all = Window.partitionBy()
    counted = bits.groupBy("n_bits").agg(
        F.count(F.lit(1)).alias("n_deltas")
    )
    return counted.select(
        "n_bits",
        "n_deltas",
        F.round(
            F.col("n_deltas").cast("double")
            / F.sum("n_deltas").over(w_all).cast("double"),
            6,
        ).alias("share"),
    ).orderBy("n_bits")


# ---------------------------------------------------------------------------
# Round-9 continuation: FIFO lot allocation — inventory costing's core
# operator: match each issue (outflow) to receipt lots (inflows) in
# first-in-first-out order and cost the matched portions. The classic
# imperative loop becomes pure relational algebra via the
# cumulative-quantity interval trick: receipts and issues each get
# [cum_prev, cum) intervals on the shared per-key quantity axis, and a
# FIFO match is exactly a non-empty interval intersection — the same
# epoch-bucketable range-join shape as interval_overlap_join, so it
# scales the same way.
# Exactness: quantities are integral (cast to BIGINT), overlaps are
# least/greatest of exact integers, unit cost = cents div qty (exact
# floor), allocation cost = overlap x unit cents — all BIGINT.
# Scale: one partkey window per side, one per-key range join whose
# matches are ~diagonal (each issue touches few lots); at 100 TB
# bucket the cum axis exactly like range_join_bucketized.
# ---------------------------------------------------------------------------


@register(
    "fifo_lot_allocation",
    oracle="""
WITH receipts AS (
  SELECT l_partkey AS pk,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           // CAST(l_quantity AS BIGINT) AS unit_cents,
         sum(CAST(l_quantity AS BIGINT)) OVER w
           - CAST(l_quantity AS BIGINT) AS lo,
         sum(CAST(l_quantity AS BIGINT)) OVER w AS hi
  FROM lineitem WHERE l_returnflag = 'N'
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), issues AS (
  SELECT l_partkey AS pk,
         sum(CAST(l_quantity AS BIGINT)) OVER w
           - CAST(l_quantity AS BIGINT) AS lo,
         sum(CAST(l_quantity AS BIGINT)) OVER w AS hi
  FROM lineitem WHERE l_returnflag = 'R'
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), allocs AS (
  SELECT r.pk,
         least(r.hi, i.hi) - greatest(r.lo, i.lo) AS alloc_qty,
         (least(r.hi, i.hi) - greatest(r.lo, i.lo)) * r.unit_cents
           AS alloc_cents
  FROM receipts r JOIN issues i
    ON i.pk = r.pk AND r.hi > i.lo AND r.lo < i.hi
)
SELECT pk AS partkey,
       CAST(count(*) AS BIGINT) AS n_allocs,
       CAST(sum(alloc_qty) AS BIGINT) AS qty_allocated,
       CAST(sum(alloc_cents) AS BIGINT) AS cost_cents
FROM allocs GROUP BY pk ORDER BY partkey LIMIT 200
""",
    doc="FIFO lot allocation via the cumulative-quantity interval "
    "trick: receipts and issues get [cum_prev, cum) intervals per "
    "part, a FIFO match is a non-empty interval intersection, cost = "
    "overlap x exact floor unit cents — the imperative costing loop as "
    "one window per side + one ~diagonal per-key range join (bucket "
    "the cum axis at scale, as in range_join_bucketized)",
    tags=("join", "window", "mining"),
)
def fifo_lot_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("pk")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def lots(flag, with_cost):
        base = li.filter(F.col("l_returnflag") == flag).select(
            F.col("l_partkey").alias("pk"),
            F.col("l_quantity").cast("long").alias("qty"),
            F.expr(
                "CAST(round(l_extendedprice * 100) AS BIGINT)"
                " div CAST(l_quantity AS BIGINT)"
            ).alias("unit_cents"),
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
        )
        cum = base.select(
            "pk",
            "unit_cents",
            (F.sum("qty").over(w) - F.col("qty")).alias("lo"),
            F.sum("qty").over(w).alias("hi"),
        )
        return cum if with_cost else cum.drop("unit_cents")

    receipts = lots("N", True).alias("r")
    issues = lots("R", False).alias("i")
    allocs = receipts.join(
        issues,
        (F.col("i.pk") == F.col("r.pk"))
        & (F.col("r.hi") > F.col("i.lo"))
        & (F.col("r.lo") < F.col("i.hi")),
    ).select(
        F.col("r.pk").alias("pk"),
        (
            F.least(F.col("r.hi"), F.col("i.hi"))
            - F.greatest(F.col("r.lo"), F.col("i.lo"))
        ).alias("alloc_qty"),
        (
            (
                F.least(F.col("r.hi"), F.col("i.hi"))
                - F.greatest(F.col("r.lo"), F.col("i.lo"))
            )
            * F.col("r.unit_cents")
        ).alias("alloc_cents"),
    )
    return (
        allocs.groupBy("pk")
        .agg(
            F.count(F.lit(1)).alias("n_allocs"),
            F.sum("alloc_qty").alias("qty_allocated"),
            F.sum("alloc_cents").alias("cost_cents"),
        )
        .select(
            F.col("pk").alias("partkey"),
            "n_allocs",
            "qty_allocated",
            "cost_cents",
        )
        .orderBy("partkey")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: NULL-semantics matrix — the cross-engine
# contract every migration trips over at least once: COUNT(*) vs
# COUNT(col), aggregates skipping NULLs, DISTINCT excluding NULLs but
# GROUP BY keeping them as ONE group, and null-safe equality. The gate
# derives a deterministic nullable column (cents divisible by 7 ->
# NULL) and pins every one of those behaviors in a single row of exact
# integers — if either engine's NULL handling drifts, a cell flips.
# Scale: one conditional scan + one distinct aggregate; nothing here
# grows beyond the scan.
# ---------------------------------------------------------------------------


@register(
    "null_semantics_matrix",
    oracle="""
WITH src AS (
  SELECT CASE WHEN CAST(round(value * 100) AS BIGINT) % 7 = 0 THEN NULL
              ELSE CAST(round(value * 100) AS BIGINT) END AS c
  FROM events
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(c) AS BIGINT) AS n_nonnull,
       CAST(count(*) - count(c) AS BIGINT) AS n_nulls,
       CAST(sum(c) AS BIGINT) AS sum_nonnull,
       CAST(min(c) AS BIGINT) AS min_nonnull,
       CAST(max(c) AS BIGINT) AS max_nonnull,
       CAST(count(DISTINCT c) AS BIGINT) AS n_distinct_nonnull,
       CAST((SELECT count(*) FROM (SELECT c FROM src GROUP BY c))
            AS BIGINT) AS n_groups_with_null,
       CAST(count(CASE WHEN c IS NOT DISTINCT FROM NULL THEN 1 END)
            AS BIGINT) AS n_nullsafe_eq_null
FROM src
""",
    doc="NULL-semantics matrix in one row of exact integers: COUNT(*) "
    "vs COUNT(col), SUM/MIN/MAX skipping NULLs, DISTINCT excluding "
    "NULL while GROUP BY keeps it as one group, and null-safe equality "
    "(<=> / IS NOT DISTINCT FROM) — the cross-engine contract every "
    "migration trips over; one conditional scan + one distinct",
    tags=("scan", "quality"),
)
def null_semantics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    src = ev.select(
        F.when(cents % 7 == 0, F.lit(None).cast("long"))
        .otherwise(cents)
        .alias("c")
    )
    groups = src.groupBy("c").count().agg(
        F.count(F.lit(1)).alias("n_groups_with_null")
    )
    return (
        src.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("c").alias("n_nonnull"),
            (F.count(F.lit(1)) - F.count("c")).alias("n_nulls"),
            F.sum("c").alias("sum_nonnull"),
            F.min("c").alias("min_nonnull"),
            F.max("c").alias("max_nonnull"),
            F.countDistinct("c").alias("n_distinct_nonnull"),
            F.count(
                F.when(F.col("c").eqNullSafe(F.lit(None).cast("long")), 1)
            ).alias("n_nullsafe_eq_null"),
        )
        .crossJoin(F.broadcast(groups))
        .select(
            "n_rows",
            "n_nonnull",
            "n_nulls",
            "sum_nonnull",
            "min_nonnull",
            "max_nonnull",
            "n_distinct_nonnull",
            "n_groups_with_null",
            "n_nullsafe_eq_null",
        )
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: per-entity R² — the goodness-of-fit companion
# to linreg_trend_per_entity: same exact integer moments (x = seconds
# from the entity's first event, y = cents), extended with syy, and
# r² = (n·sxy − sx·sy)² / ((n·sxx − sx²)·(n·syy − sy²)) evaluated as a
# FIXED tree over doubles that are themselves casts of exact BIGINTs —
# one square, one product, one division, rounded 6dp. Screens which
# entities' drifts are REAL before anyone trusts the slope.
# Scale: one user_id window (for the x offset) + one moment rollup —
# identical shape to the slope gate.
# ---------------------------------------------------------------------------


@register(
    "linreg_r2_per_entity",
    oracle="""
WITH pts AS (
  SELECT user_id,
         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
             // 1000000 AS x,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM events
), m AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n,
       round((CAST(n * sxy - sx * sy AS DOUBLE)
              * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM m
WHERE n >= 2 AND n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
ORDER BY user_id
""",
    doc="per-entity R² from exact integer moments (the goodness-of-fit "
    "companion to the least-squares slope gate): one square, one "
    "product, one division over casts of exact BIGINTs, rounded 6dp — "
    "screens which drifts are real; one user window + one moment "
    "rollup",
    tags=("agg", "regression", "stats"),
)
def linreg_r2_per_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(cast(ts as timestamp)) "
            "- min(unix_micros(cast(ts as timestamp))) "
            "OVER (PARTITION BY user_id)) div 1000000"
        ).alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("y"),
    )
    m = pts.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        m.filter((F.col("n") >= 2) & (dx != 0) & (dy != 0))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            F.round(
                (num.cast("double") * num.cast("double"))
                / (dx.cast("double") * dy.cast("double")),
                6,
            ).alias("r2"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: join-type semantics matrix — the companion to
# null_semantics_matrix on the JOIN side: the same keyed pair (with
# deterministically NULLed keys on both sides) through inner / left /
# right / full / semi / anti, all row counts pinned in one row. The
# load-bearing rule it pins: NULL keys never match ANY join form —
# they survive only as outer-padded rows — plus the exact outer-
# padding arithmetic (full = inner + left-only + right-only).
# Scale: six joins of two dim-sized projections of one scan; each is
# a single hash join.
# ---------------------------------------------------------------------------


@register(
    "join_type_matrix",
    oracle="""
WITH l AS (
  SELECT CASE WHEN user_id % 11 = 0 THEN NULL ELSE user_id END AS k
  FROM events WHERE event_type IN ('view', 'click')
), r AS (
  SELECT DISTINCT CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS k
  FROM events WHERE event_type = 'purchase'
)
SELECT
  CAST((SELECT count(*) FROM l) AS BIGINT) AS n_left_rows,
  CAST((SELECT count(*) FROM r) AS BIGINT) AS n_right_rows,
  CAST((SELECT count(*) FROM l JOIN r ON r.k = l.k) AS BIGINT) AS n_inner,
  CAST((SELECT count(*) FROM l LEFT JOIN r ON r.k = l.k) AS BIGINT)
    AS n_left,
  CAST((SELECT count(*) FROM l RIGHT JOIN r ON r.k = l.k) AS BIGINT)
    AS n_right,
  CAST((SELECT count(*) FROM l FULL JOIN r ON r.k = l.k) AS BIGINT)
    AS n_full,
  CAST((SELECT count(*) FROM l SEMI JOIN r ON r.k = l.k) AS BIGINT)
    AS n_semi,
  CAST((SELECT count(*) FROM l ANTI JOIN r ON r.k = l.k) AS BIGINT)
    AS n_anti
""",
    doc="join-type semantics matrix: one keyed pair with deterministic "
    "NULL keys on both sides through inner/left/right/full/semi/anti, "
    "all counts in one row — pins that NULL keys never match any join "
    "form and the outer-padding arithmetic (full = inner + left-only + "
    "right-only); six single hash joins of dim-sized projections",
    tags=("join", "quality"),
)
def join_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    l = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.when(F.col("user_id") % 11 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("k")
    )
    r = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.when(F.col("user_id") % 7 == 0, F.lit(None).cast("long"))
            .otherwise(F.col("user_id"))
            .alias("k")
        )
        .distinct()
    )
    rk = r.withColumnRenamed("k", "rk")

    def cnt(df, name):
        return df.agg(F.count(F.lit(1)).alias(name))

    parts = [
        cnt(l, "n_left_rows"),
        cnt(r, "n_right_rows"),
        cnt(l.join(rk, F.col("rk") == F.col("k")), "n_inner"),
        cnt(l.join(rk, F.col("rk") == F.col("k"), "left"), "n_left"),
        cnt(l.join(rk, F.col("rk") == F.col("k"), "right"), "n_right"),
        cnt(l.join(rk, F.col("rk") == F.col("k"), "full"), "n_full"),
        cnt(l.join(rk, F.col("rk") == F.col("k"), "left_semi"), "n_semi"),
        cnt(l.join(rk, F.col("rk") == F.col("k"), "left_anti"), "n_anti"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.crossJoin(F.broadcast(p))
    return out


# ---------------------------------------------------------------------------
# Round-9 continuation: window-function semantics matrix — the ranking
# family's cross-engine contract in one table: row_number on a UNIQUE
# ordering, rank/dense_rank on a TIED ordering (gap vs no-gap), ntile
# remainder distribution, lag/lead defaults, first/last/nth in a
# running frame, and the exact rationals percent_rank ((rank-1)/(n-1))
# and cume_dist (n_leq/n). Every migration meets these; one drifted
# default (lead's NULL, nth_value's frame) flips a cell.
# Exactness: everything is integer except the two rationals, each ONE
# division of exact integers.
# Scale: one user-partitioned sort feeds every function — a single
# window exchange.
# ---------------------------------------------------------------------------


@register(
    "window_function_matrix",
    oracle="""
WITH src AS (
  SELECT user_id, event_id,
         CAST(round(value * 100) AS BIGINT) % 100 AS v
  FROM events WHERE user_id < 5
)
SELECT user_id, event_id, v,
       CAST(row_number() OVER u AS BIGINT) AS rn,
       CAST(rank() OVER t AS BIGINT) AS rnk,
       CAST(dense_rank() OVER t AS BIGINT) AS drnk,
       CAST(ntile(4) OVER u AS BIGINT) AS tile4,
       CAST(lag(v) OVER u AS BIGINT) AS lag_v,
       CAST(lead(v, 1, -1) OVER u AS BIGINT) AS lead_v,
       CAST(first_value(v) OVER run AS BIGINT) AS first_v,
       CAST(last_value(v) OVER run AS BIGINT) AS last_v,
       CAST(nth_value(v, 2) OVER run AS BIGINT) AS nth2_v,
       CASE WHEN count(*) OVER (PARTITION BY user_id) = 1 THEN NULL
            ELSE round(CAST(rank() OVER t - 1 AS DOUBLE)
                       / CAST(count(*) OVER (PARTITION BY user_id) - 1
                              AS DOUBLE), 6) END
         AS prank,
       round(CAST(count(*) OVER (PARTITION BY user_id ORDER BY v
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
             / CAST(count(*) OVER (PARTITION BY user_id) AS DOUBLE), 6)
         AS cdist
FROM src
WINDOW u AS (PARTITION BY user_id ORDER BY v, event_id),
       t AS (PARTITION BY user_id ORDER BY v),
       run AS (PARTITION BY user_id ORDER BY v, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
""",
    doc="window-function semantics matrix over one partitioned sort: "
    "row_number (unique order), rank/dense_rank (tied order, gap vs "
    "no-gap), ntile remainders, lag/lead with an explicit default, "
    "first/last/nth in a running frame, percent_rank and cume_dist as "
    "single exact-integer divisions — the ranking family's "
    "cross-engine contract in one table",
    tags=("window", "quality"),
)
def window_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    src = ev.select(
        "user_id",
        "event_id",
        (F.round(F.col("value") * 100).cast("long") % 100).alias("v"),
    )
    u = Window.partitionBy("user_id").orderBy("v", "event_id")
    tied = Window.partitionBy("user_id").orderBy("v")
    run = u.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cume = (
        Window.partitionBy("user_id")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    part = Window.partitionBy("user_id")
    return src.select(
        "user_id",
        "event_id",
        "v",
        F.row_number().over(u).cast("long").alias("rn"),
        F.rank().over(tied).cast("long").alias("rnk"),
        F.dense_rank().over(tied).cast("long").alias("drnk"),
        F.ntile(4).over(u).cast("long").alias("tile4"),
        F.lag("v").over(u).cast("long").alias("lag_v"),
        F.lead("v", 1, -1).over(u).cast("long").alias("lead_v"),
        F.first("v").over(run).cast("long").alias("first_v"),
        F.last("v").over(run).cast("long").alias("last_v"),
        F.nth_value("v", 2).over(run).cast("long").alias("nth2_v"),
        # single-row partition guard: pin BOTH engines to NULL when the
        # percent_rank denominator (n-1) is zero (Spark's Divide yields
        # NULL, DuckDB's IEEE double op yields NaN — so guard explicitly)
        F.when(
            F.count(F.lit(1)).over(part) > 1,
            F.round(
                (F.rank().over(tied) - 1).cast("double")
                / (F.count(F.lit(1)).over(part) - 1).cast("double"),
                6,
            ),
        ).alias("prank"),
        F.round(
            F.count(F.lit(1)).over(cume).cast("double")
            / F.count(F.lit(1)).over(part).cast("double"),
            6,
        ).alias("cdist"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Round-9 continuation: shipment-SLA report — per order priority, the
# share of lineitems shipped within 7 / 30 days of the order date: the
# operational service-level readout every fulfillment dashboard leads
# with (and TPC-H Q4/Q12's managerial question asked directly).
# Exactness: day lags are exact integer epoch-day differences; counts
# BIGINT; the two shares are one division each rounded 6dp.
# Scale: one broadcast-sized orders projection? No — orders is the
# fact's parent: one equi-join on orderkey (co-partitioned shuffle),
# one 5-key rollup.
# ---------------------------------------------------------------------------


@register(
    "sla_shipment_report",
    oracle="""
WITH lagd AS (
  SELECT o.o_orderpriority AS priority,
         epoch_us(l.l_shipdate) // (CAST(86400 AS BIGINT) * 1000000)
           - epoch_us(o.o_orderdate) // (CAST(86400 AS BIGINT) * 1000000)
           AS lag_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(count(CASE WHEN lag_days <= 7 THEN 1 END) AS BIGINT)
         AS n_within_7d,
       CAST(count(CASE WHEN lag_days <= 30 THEN 1 END) AS BIGINT)
         AS n_within_30d,
       round(CAST(count(CASE WHEN lag_days <= 7 THEN 1 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS sla_7d,
       round(CAST(count(CASE WHEN lag_days <= 30 THEN 1 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS sla_30d
FROM lagd GROUP BY priority ORDER BY priority
""",
    doc="shipment-SLA report per order priority: share of lineitems "
    "shipped within 7/30 days of the order date — exact epoch-day "
    "lags, BIGINT counts, two end divisions; one orderkey equi-join + "
    "a 5-key rollup",
    tags=("join", "time", "mining"),
)
def sla_shipment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    lagd = li.join(
        orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).select(
        F.col("o_orderpriority").alias("priority"),
        (
            F.expr("unix_micros(l_shipdate) div 86400000000")
            - F.expr("unix_micros(o_orderdate) div 86400000000")
        ).alias("lag_days"),
    )
    w7 = F.count(F.when(F.col("lag_days") <= 7, 1))
    w30 = F.count(F.when(F.col("lag_days") <= 30, 1))
    return (
        lagd.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            w7.alias("n_within_7d"),
            w30.alias("n_within_30d"),
            F.round(
                w7.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("sla_7d"),
            F.round(
                w30.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("sla_30d"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: attribute modularity (homophily audit) — do
# co-purchase edges concentrate inside brands? Newman modularity of
# the brand partition over the part-part co-purchase graph,
# Q = Σ_c (in_c/m − (deg_c/2m)²), evaluated in the exact integer
# cross-form Q·4m² = Σ_c (4m·in_c − deg_c²) so the partition quality
# is a pure BIGINT sum with ONE division at the end. The evaluation
# half of the graph family (label propagation finds communities; this
# scores a partition).
# Scale: the edge set is the bounded within-basket pair join (≤7-item
# baskets); degrees and in-community counts are two keyed rollups.
# ---------------------------------------------------------------------------


@register(
    "graph_brand_modularity",
    oracle="""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
), edges AS (
  SELECT DISTINCT a.item AS pa, b.item AS pb
  FROM baskets a JOIN baskets b ON a.oid = b.oid AND a.item < b.item
), lbl AS (
  SELECT p_partkey AS item, p_brand AS brand FROM part
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS m_edges FROM edges
), deg AS (
  SELECT l.brand, CAST(count(*) AS BIGINT) AS deg_c
  FROM (SELECT pa AS item FROM edges UNION ALL SELECT pb FROM edges) e
  JOIN lbl l ON l.item = e.item
  GROUP BY l.brand
), inc AS (
  SELECT la.brand, CAST(count(*) AS BIGINT) AS in_c
  FROM edges e
  JOIN lbl la ON la.item = e.pa
  JOIN lbl lb ON lb.item = e.pb
  WHERE la.brand = lb.brand
  GROUP BY la.brand
), per AS (
  SELECT d.brand,
         coalesce(i.in_c, 0) AS in_c,
         d.deg_c,
         4 * (SELECT m_edges FROM m) * coalesce(i.in_c, 0)
           - d.deg_c * d.deg_c AS q_scaled
  FROM deg d LEFT JOIN inc i ON i.brand = d.brand
)
SELECT brand, in_c, deg_c, CAST(q_scaled AS BIGINT) AS q_scaled,
       round(CAST(q_scaled AS DOUBLE)
             / CAST(4 * (SELECT m_edges FROM m)
                    * (SELECT m_edges FROM m) AS DOUBLE), 6)
         AS q_contrib
FROM per ORDER BY brand
""",
    doc="Newman modularity of the brand partition over the part-part "
    "co-purchase graph in the exact integer cross-form "
    "Q·4m² = Σ_c (4m·in_c − deg_c²) — partition quality as a pure "
    "BIGINT sum, one division per reported contribution; bounded "
    "within-basket edge join + two keyed rollups",
    tags=("graph", "eval", "mining"),
)
def graph_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    baskets = li.select(
        F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("item")
    ).distinct()
    a = baskets.alias("a")
    b = baskets.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.oid") == F.col("b.oid"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .select(F.col("a.item").alias("pa"), F.col("b.item").alias("pb"))
        .distinct()
    )
    lbl = part.select(F.col("p_partkey").alias("item"), F.col("p_brand").alias("brand"))
    # m stays IN-PLAN: a 1-row edge-count aggregate broadcast onto the
    # per-brand rows (no eager driver .count() recomputing the edge join)
    m_df = edges.agg(F.count(F.lit(1)).alias("m_edges"))
    ends = edges.select(F.col("pa").alias("item")).unionAll(
        edges.select(F.col("pb").alias("item"))
    )
    deg = (
        ends.join(F.broadcast(lbl), "item")
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("deg_c"))
    )
    la = lbl.select(F.col("item").alias("pa"), F.col("brand").alias("brand_a"))
    lb = lbl.select(F.col("item").alias("pb"), F.col("brand").alias("brand_b"))
    inc = (
        edges.join(F.broadcast(la), "pa")
        .join(F.broadcast(lb), "pb")
        .filter(F.col("brand_a") == F.col("brand_b"))
        .groupBy(F.col("brand_a").alias("brand"))
        .agg(F.count(F.lit(1)).alias("in_c"))
    )
    per = (
        deg.join(inc, "brand", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "brand",
            F.coalesce(F.col("in_c"), F.lit(0)).alias("in_c"),
            "deg_c",
            "m_edges",
            (
                F.lit(4) * F.col("m_edges")
                * F.coalesce(F.col("in_c"), F.lit(0))
                - F.col("deg_c") * F.col("deg_c")
            ).alias("q_scaled"),
        )
    )
    return per.select(
        "brand",
        "in_c",
        "deg_c",
        "q_scaled",
        F.round(
            F.col("q_scaled").cast("double")
            / (F.lit(4) * F.col("m_edges") * F.col("m_edges")).cast("double"),
            6,
        ).alias("q_contrib"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# Round-9 continuation: forecast skill vs the seasonal naive — MASE's
# core comparison: how much better is "same hour yesterday" (lag-24h
# seasonal naive) than "same as last event" (lag-1 naive) on the
# hourly cents series? Both MAEs are EXACT integer sums of absolute
# BIGINT differences over the same evaluation rows; the skill ratio is
# one division at the end. The eval every forecasting deployment runs
# before buying a model (a ratio < 1 means seasonality is real).
# Scale: one (user, hour) rollup + one user-keyed window with two lags.
# ---------------------------------------------------------------------------


@register(
    "forecast_mase_seasonal_naive",
    oracle="""
WITH hourly AS (
  SELECT user_id,
         epoch_us(ts) // (CAST(3600 AS BIGINT) * 1000000) AS h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY user_id, h
), lagged AS (
  SELECT user_id, h, c,
         lag(c, 1) OVER w AS prev1,
         lag(c, 24) OVER w AS prev24
  FROM hourly WINDOW w AS (PARTITION BY user_id ORDER BY h)
), eval_rows AS (
  SELECT abs(c - prev1) AS e1, abs(c - prev24) AS e24
  FROM lagged WHERE prev1 IS NOT NULL AND prev24 IS NOT NULL
)
SELECT CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(e1) AS BIGINT) AS sae_naive1,
       CAST(sum(e24) AS BIGINT) AS sae_seasonal,
       CASE WHEN sum(e1) = 0 THEN NULL
            ELSE round(CAST(sum(e24) AS DOUBLE)
                       / CAST(sum(e1) AS DOUBLE), 6) END
         AS seasonal_skill_ratio
FROM eval_rows
""",
    doc="forecast skill vs the seasonal naive (MASE's comparison): "
    "lag-1 vs lag-24-hour absolute errors on the hourly cents series "
    "— both MAE numerators exact BIGINT sums over the SAME eval rows "
    "(lag-row alignment, not calendar lookup, pinned by both engines), "
    "skill = one end division; one rollup + one two-lag window",
    tags=("stats", "time", "eval"),
)
def forecast_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    w = Window.partitionBy("user_id").orderBy("h")
    lagged = hourly.select(
        "c",
        F.lag("c", 1).over(w).alias("prev1"),
        F.lag("c", 24).over(w).alias("prev24"),
    ).filter(F.col("prev1").isNotNull() & F.col("prev24").isNotNull())
    e1 = F.abs(F.col("c") - F.col("prev1"))
    e24 = F.abs(F.col("c") - F.col("prev24"))
    return lagged.agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(e1).alias("sae_naive1"),
        F.sum(e24).alias("sae_seasonal"),
        # degenerate-input guard: a constant series makes sae_naive1 = 0;
        # pin BOTH engines to NULL instead of Spark-NULL-vs-DuckDB-inf
        F.when(
            F.sum(e1) != 0,
            F.round(F.sum(e24).cast("double") / F.sum(e1).cast("double"), 6),
        ).alias("seasonal_skill_ratio"),
    )


# ---------------------------------------------------------------------------
# Round-9 continuation: the NOT IN null trap — SQL's most infamous
# semantic cliff: `x NOT IN (subquery)` returns ZERO rows the moment
# the subquery contains a single NULL (three-valued logic turns every
# comparison UNKNOWN), while NOT EXISTS and the anti-join keep the
# intuitive complement. The gate builds a right side that provably
# contains a NULL and pins all three counts side by side — the
# cross-engine contract every migration and every generated-SQL layer
# must honor.
# Scale: three hash joins / subquery scans of dim-sized projections.
# ---------------------------------------------------------------------------


@register(
    "not_in_null_trap",
    oracle="""
WITH l AS (
  SELECT DISTINCT user_id AS k FROM events WHERE event_type = 'view'
), r AS (
  SELECT CASE WHEN user_id % 5 = 0 THEN NULL ELSE user_id END AS k
  FROM events WHERE event_type = 'purchase'
)
SELECT
  CAST((SELECT count(*) FROM l) AS BIGINT) AS n_left,
  CAST((SELECT count(*) FROM r WHERE k IS NULL) AS BIGINT) AS n_null_rhs,
  CAST((SELECT count(*) FROM l WHERE k NOT IN (SELECT k FROM r))
       AS BIGINT) AS n_not_in,
  CAST((SELECT count(*) FROM l
        WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.k = l.k))
       AS BIGINT) AS n_not_exists,
  CAST((SELECT count(*) FROM l ANTI JOIN r ON r.k = l.k) AS BIGINT)
    AS n_anti_join
""",
    doc="the NOT IN null trap pinned: with a NULL in the subquery, "
    "NOT IN returns ZERO rows (three-valued logic) while NOT EXISTS "
    "and the anti-join return the true complement — the semantic cliff "
    "every migration and SQL generator must honor, in one row of "
    "counts; dim-sized scans",
    tags=("join", "quality"),
)
def not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    l = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("k"))
        .distinct()
    )
    r = ev.filter(F.col("event_type") == "purchase").select(
        F.when(F.col("user_id") % 5 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("rk")
    )
    # DataFrame-parameterized SQL (Spark 3.4+/4 {df} template binding):
    # no createOrReplaceTempView side effects on the shared session, so
    # concurrent gate runs can't race on view names and nothing leaks
    # into the catalog after the gate returns
    not_in = spark.sql(
        "SELECT count(*) AS n_not_in FROM {l}"
        " WHERE k NOT IN (SELECT rk FROM {r})",
        l=l,
        r=r,
    )
    # NOT EXISTS as written (correlated subquery), the anti-join as the
    # DataFrame form — Spark compiles both to LeftAnti, the gate pins
    # that they AGREE and differ from NOT IN under a NULL
    not_exists = spark.sql(
        "SELECT count(*) AS n_not_exists FROM {l} l"
        " WHERE NOT EXISTS (SELECT 1 FROM {r} r WHERE r.rk = l.k)",
        l=l,
        r=r,
    )
    counts = [
        l.agg(F.count(F.lit(1)).alias("n_left")),
        r.filter(F.col("rk").isNull()).agg(
            F.count(F.lit(1)).alias("n_null_rhs")
        ),
        not_in,
        not_exists,
        l.join(r, F.col("rk") == F.col("k"), "left_anti").agg(
            F.count(F.lit(1)).alias("n_anti_join")
        ),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out


# ---------------------------------------------------------------------------
# Round-10 depth: rolling 7-day active users (WAU) per day — the
# DAU/WAU engagement readout every product pipeline publishes. The
# scale-safe plan is NOT a range join: each distinct (user, day) pair
# explodes to its 7 contributing bucket days (a bounded fan-out) and
# one hash aggregation counts distinct users per bucket — linear in
# rows at any corpus size, no per-day rescan. The DuckDB twin uses the
# equivalent bounded range join (dim-scale there).
# Exactness: integer epoch days, BIGINT counts, stickiness = DAU/WAU
# as one division rounded 6dp.
# ---------------------------------------------------------------------------


@register(
    "rolling_wau_7d",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT user_id,
         epoch_us(ts) // (CAST(86400 AS BIGINT) * 1000000) AS day
  FROM events
), days AS (
  SELECT DISTINCT day FROM pairs
), dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY day
), wau AS (
  SELECT d.day, CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau_7d
  FROM days d JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day
)
SELECT w.day, dau.dau, w.wau_7d,
       round(CAST(dau.dau AS DOUBLE) / CAST(w.wau_7d AS DOUBLE), 6)
         AS stickiness
FROM wau w JOIN dau ON dau.day = w.day
ORDER BY w.day
""",
    doc="rolling 7-day active users per day (DAU/WAU + stickiness): "
    "each distinct (user, day) explodes to its 7 bucket days and one "
    "hash agg counts distinct users per bucket — bounded fan-out, "
    "linear at any scale, never a per-day rescan; integer epoch days, "
    "BIGINT counts, stickiness one division 6dp",
    tags=("window", "time", "mining"),
)
def rolling_wau_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).distinct()
    days = pairs.select("day").distinct()
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = pairs.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("bday"),
    )
    wau = (
        contrib.join(days, contrib["bday"] == days["day"], "left_semi")
        .groupBy("bday")
        .agg(F.count_distinct("user_id").alias("wau_7d"))
        .withColumnRenamed("bday", "day")
    )
    return (
        wau.join(dau, "day")
        .select(
            "day",
            "dau",
            "wau_7d",
            F.round(
                F.col("dau").cast("double") / F.col("wau_7d").cast("double"),
                6,
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Round-10 depth: distribution moments per event type — mean, variance,
# skewness and excess kurtosis from EXACT integer power sums (the
# one-pass profile a feature store publishes per column). The summand
# is the cents-mod-100 digit (0..99), so s4 <= 99^4 * n stays far from
# BIGINT overflow at any realistic row count; each raw moment m_k is
# ONE exact-integer division, and the skew/kurtosis formulas combine
# those deterministic doubles in a FIXED expression tree (identical
# IEEE on both engines) before the 6dp round. Zero-variance groups pin
# to NULL on both sides via an exact integer test (n*s2 == s1*s1).
# Scale: one map-side-combinable aggregation over one scan.
# ---------------------------------------------------------------------------


@register(
    "moment_stats_per_type",
    oracle="""
WITH src AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) % 100 AS v
  FROM events
), sums AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s1,
         CAST(sum(v * v) AS BIGINT) AS s2,
         CAST(sum(v * v * v) AS BIGINT) AS s3,
         CAST(sum(v * v * v * v) AS BIGINT) AS s4
  FROM src GROUP BY event_type
), m AS (
  SELECT event_type, n, s1, s2, s3, s4,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3,
         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS m4
  FROM sums
)
SELECT event_type, n,
       round(m1, 6) AS mean_v,
       CASE WHEN n * s2 = s1 * s1 THEN NULL
            ELSE round(m2 - m1 * m1, 6) END AS var_v,
       CASE WHEN n * s2 = s1 * s1 THEN NULL
            ELSE round((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                       / ((m2 - m1 * m1) * sqrt(m2 - m1 * m1)), 6)
       END AS skewness,
       CASE WHEN n * s2 = s1 * s1 THEN NULL
            ELSE round((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2
                        - 3 * m1 * m1 * m1 * m1)
                       / ((m2 - m1 * m1) * (m2 - m1 * m1)) - 3, 6)
       END AS kurtosis_excess
FROM m ORDER BY event_type
""",
    doc="distribution moments per event type from exact integer power "
    "sums (one-pass profile): mean/variance/skewness/excess-kurtosis "
    "— each raw moment one exact division, higher moments a fixed "
    "IEEE expression tree rounded 6dp, zero variance pinned to NULL "
    "via the integer test n*s2 == s1^2; one combinable aggregation",
    tags=("stats", "quality"),
)
def moment_stats_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    v = (F.round(F.col("value") * 100).cast("long") % 100).alias("v")
    src = ev.select("event_type", v)
    sums = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.sum(F.col("v") * F.col("v") * F.col("v")).alias("s3"),
        F.sum(F.col("v") * F.col("v") * F.col("v") * F.col("v")).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    m = sums.select(
        "event_type",
        "n",
        "s1",
        "s2",
        (s1.cast("double") / n.cast("double")).alias("m1"),
        (s2.cast("double") / n.cast("double")).alias("m2"),
        (s3.cast("double") / n.cast("double")).alias("m3"),
        (s4.cast("double") / n.cast("double")).alias("m4"),
    )
    m1, m2, m3, m4 = (F.col(c) for c in ("m1", "m2", "m3", "m4"))
    var_is_zero = (F.col("n") * F.col("s2")) == (F.col("s1") * F.col("s1"))
    var = m2 - m1 * m1
    return m.select(
        "event_type",
        "n",
        F.round(m1, 6).alias("mean_v"),
        F.when(~var_is_zero, F.round(var, 6)).alias("var_v"),
        F.when(
            ~var_is_zero,
            F.round(
                (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / (var * F.sqrt(var)),
                6,
            ),
        ).alias("skewness"),
        F.when(
            ~var_is_zero,
            F.round(
                (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
                / (var * var)
                - 3,
                6,
            ),
        ).alias("kurtosis_excess"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Round-10 depth: business-day shipping lag — calendar arithmetic with
# weekend exclusion as PURE integer algebra (no per-day explode, no
# calendar table): B(d) counts the weekdays strictly before epoch day
# d via the shifted-Monday anchor d' = d + 3 (epoch day 0 = Thursday
# 1970-01-01, so d' = 0 is Monday 1969-12-29): B = (d' div 7) * 5 +
# least(d' % 7, 5). Business days in [order, ship) = B(ship) -
# B(order). All operands positive, so div/% agree across engines.
# Scale: one orderkey equi-join + a 5-key rollup (sla_shipment shape).
# ---------------------------------------------------------------------------


@register(
    "business_days_to_ship",
    oracle="""
WITH lagd AS (
  SELECT o.o_orderpriority AS priority,
         ((epoch_us(l.l_shipdate) // (CAST(86400 AS BIGINT) * 1000000) + 3)
            // 7) * 5
           + least((epoch_us(l.l_shipdate)
                    // (CAST(86400 AS BIGINT) * 1000000) + 3) % 7, 5)
         - (((epoch_us(o.o_orderdate) // (CAST(86400 AS BIGINT) * 1000000)
              + 3) // 7) * 5
            + least((epoch_us(o.o_orderdate)
                     // (CAST(86400 AS BIGINT) * 1000000) + 3) % 7, 5))
           AS bdays
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(bdays) AS BIGINT) AS sum_bdays,
       CAST(max(bdays) AS BIGINT) AS max_bdays,
       round(CAST(sum(bdays) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS avg_bdays
FROM lagd GROUP BY priority ORDER BY priority
""",
    doc="business-day (Mon-Fri) shipping lag per order priority as pure "
    "integer algebra: weekdays-before-day-d B(d) = ((d+3) div 7)*5 + "
    "least((d+3)%7, 5) on the shifted-Monday anchor, lag = B(ship) - "
    "B(order) — no calendar table, no explode, all positive operands "
    "so div/% agree cross-engine; one equi-join + a 5-key rollup",
    tags=("time", "join", "mining"),
)
def business_days_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    lagd = li.join(
        orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).select(
        F.col("o_orderpriority").alias("priority"),
        (
            F.expr(
                "((unix_micros(l_shipdate) div 86400000000 + 3) div 7) * 5"
                " + least((unix_micros(l_shipdate) div 86400000000 + 3) % 7,"
                " 5)"
            )
            - F.expr(
                "((unix_micros(o_orderdate) div 86400000000 + 3) div 7) * 5"
                " + least((unix_micros(o_orderdate) div 86400000000 + 3) % 7,"
                " 5)"
            )
        ).alias("bdays"),
    )
    return (
        lagd.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("bdays").alias("sum_bdays"),
            F.max("bdays").alias("max_bdays"),
            F.round(
                F.sum("bdays").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_bdays"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Round-10 depth: integer division semantics on NEGATIVE operands — the
# second great SQL trap after NOT IN: Spark's `div` TRUNCATES toward
# zero while DuckDB's `//` FLOORS, so -7 div 3 = -2 on one engine and
# -3 on the other; a naive port silently shifts every negative bucket.
# The gate computes BOTH conventions with PORTABLE algebra on each
# engine: `%` is truncation-mod (dividend sign) on both; floor_mod =
# ((a % b) + b) % b; each div is then (a - matching_mod) / b — an
# EXACTLY divisible numerator, on which truncation and floor agree, so
# the expression is engine-independent by construction. The rollup by
# sign(a) shows the two conventions agreeing on positives and
# disagreeing on every non-divisible negative.
# Scale: pure map expressions into a 3-key rollup.
# ---------------------------------------------------------------------------


@register(
    "integer_division_semantics",
    oracle="""
WITH src AS (
  SELECT CAST(round(value * 100) AS BIGINT) % 100 - 50 AS a,
         CAST(7 AS BIGINT) AS b
  FROM events
), d AS (
  SELECT a, b,
         a % b AS trunc_mod,
         ((a % b) + b) % b AS floor_mod,
         (a - (a % b)) // b AS trunc_div,
         (a - (((a % b) + b) % b)) // b AS floor_div
  FROM src
)
SELECT CASE WHEN a < 0 THEN -1 WHEN a > 0 THEN 1 ELSE 0 END AS sign_a,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(trunc_div) AS BIGINT) AS sum_trunc_div,
       CAST(sum(floor_div) AS BIGINT) AS sum_floor_div,
       CAST(sum(trunc_mod) AS BIGINT) AS sum_trunc_mod,
       CAST(sum(floor_mod) AS BIGINT) AS sum_floor_mod,
       CAST(count(CASE WHEN trunc_div <> floor_div THEN 1 END) AS BIGINT)
         AS n_conventions_disagree
FROM d GROUP BY 1 ORDER BY sign_a
""",
    doc="integer division on negative operands pinned: Spark div "
    "truncates toward zero, DuckDB // floors — the gate derives BOTH "
    "conventions portably (mod is dividend-sign on both engines; each "
    "div uses an exactly-divisible numerator a - matching_mod, where "
    "truncation and floor coincide) and the sign(a) rollup shows them "
    "agreeing on positives and splitting on every non-divisible "
    "negative; map expressions into a 3-key rollup",
    tags=("quality", "stats"),
)
def integer_division_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    src = ev.select(
        (F.round(F.col("value") * 100).cast("long") % 100 - 50).alias("a"),
        F.lit(7).cast("long").alias("b"),
    )
    a, b = F.col("a"), F.col("b")
    trunc_mod = a % b
    floor_mod = ((a % b) + b) % b
    d = src.select(
        "a",
        trunc_mod.alias("trunc_mod"),
        floor_mod.alias("floor_mod"),
        F.expr("(a - (a % b)) div b").alias("trunc_div"),
        F.expr("(a - (((a % b) + b) % b)) div b").alias("floor_div"),
    )
    sign_a = (
        F.when(a < 0, -1).when(a > 0, 1).otherwise(0).cast("long")
    ).alias("sign_a")
    return (
        d.groupBy(sign_a)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("trunc_div").alias("sum_trunc_div"),
            F.sum("floor_div").alias("sum_floor_div"),
            F.sum("trunc_mod").alias("sum_trunc_mod"),
            F.sum("floor_mod").alias("sum_floor_mod"),
            F.count(
                F.when(F.col("trunc_div") != F.col("floor_div"), 1)
            ).alias("n_conventions_disagree"),
        )
        .orderBy("sign_a")
    )


# ---------------------------------------------------------------------------
# Round-10 depth: NULL ordering contract — the DEFAULTS differ (Spark
# ASC puts NULLs FIRST, DuckDB ASC puts NULLs LAST), so any ORDER BY /
# window over a nullable key silently reorders across engines unless
# the null placement is EXPLICIT. The gate ranks a nullable key under
# both explicit placements and reports where the NULL block lands —
# the contract every cross-engine ranking must write out.
# Scale: dim-sized (distinct users); the two rank windows share one
# single-partition sort each.
# ---------------------------------------------------------------------------


@register(
    "null_ordering_rank",
    oracle="""
WITH src AS (
  SELECT DISTINCT user_id,
         CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id % 100 END AS v
  FROM events
), ranked AS (
  SELECT user_id, v,
         row_number() OVER (ORDER BY v ASC NULLS FIRST, user_id)
           AS nf_rank,
         row_number() OVER (ORDER BY v ASC NULLS LAST, user_id) AS nl_rank
  FROM src
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN v IS NULL THEN 1 END) AS BIGINT) AS n_nulls,
       CAST(min(CASE WHEN v IS NULL THEN nf_rank END) AS BIGINT)
         AS nf_first_null_rank,
       CAST(max(CASE WHEN v IS NULL THEN nf_rank END) AS BIGINT)
         AS nf_last_null_rank,
       CAST(min(CASE WHEN v IS NULL THEN nl_rank END) AS BIGINT)
         AS nl_first_null_rank,
       CAST(max(CASE WHEN v IS NULL THEN nl_rank END) AS BIGINT)
         AS nl_last_null_rank,
       CAST(sum(nf_rank * user_id) AS BIGINT) AS nf_order_checksum,
       CAST(sum(nl_rank * user_id) AS BIGINT) AS nl_order_checksum
FROM ranked
""",
    doc="NULL ordering contract pinned: Spark ASC defaults NULLS FIRST "
    "while DuckDB ASC defaults NULLS LAST, so the gate ranks a "
    "nullable key under BOTH explicit placements (asc_nulls_first / "
    "asc_nulls_last) and reports where the NULL block lands plus "
    "rank-weighted checksums — implicit null placement is the bug, "
    "explicit placement the contract; both ranks via range-partitioned "
    "global numbering (no single-partition sort)",
    tags=("quality", "window"),
)
def null_ordering_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    src = ev.select(
        "user_id",
        F.when(F.col("user_id") % 7 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("user_id") % 100)
        .alias("v"),
    ).distinct()
    # both explicit-null-placement ranks via the range-partitioned
    # surrogate_keys pattern (repartitionByRange + sortWithinPartitions
    # honor SortOrder null placement, so the numbering — including where
    # the NULL block lands — is bit-identical to the partition-less
    # row_number it replaces, without the one-task sort of the user dim)
    from ..functions.codecs import surrogate_keys

    ranked = surrogate_keys(
        surrogate_keys(
            src,
            [F.col("v").asc_nulls_first(), F.col("user_id")],
            out_col="nf_rank",
        ),
        [F.col("v").asc_nulls_last(), F.col("user_id")],
        out_col="nl_rank",
    ).select("user_id", "v", "nf_rank", "nl_rank")
    is_null = F.col("v").isNull()
    return ranked.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(is_null, 1)).alias("n_nulls"),
        F.min(F.when(is_null, F.col("nf_rank"))).alias("nf_first_null_rank"),
        F.max(F.when(is_null, F.col("nf_rank"))).alias("nf_last_null_rank"),
        F.min(F.when(is_null, F.col("nl_rank"))).alias("nl_first_null_rank"),
        F.max(F.when(is_null, F.col("nl_rank"))).alias("nl_last_null_rank"),
        F.sum(F.col("nf_rank") * F.col("user_id")).alias("nf_order_checksum"),
        F.sum(F.col("nl_rank") * F.col("user_id")).alias("nl_order_checksum"),
    )


# ---------------------------------------------------------------------------
# Round-10 depth: median + MAD (median absolute deviation) per event
# type — the robust location/scale pair that outlier fences should use
# instead of mean/stddev, computed EXACTLY: the lower median is the
# value at row (n+1) div 2 of the sorted multiset (rank algebra, no
# float interpolation — deliberately NOT quantile_cont), and the MAD
# repeats the same rank pick on |cents - median|. All integers end to
# end.
# Scale: two keyed window sorts over the same partitioning + one
# broadcast of the per-type medians (<= #types rows).
# ---------------------------------------------------------------------------


@register(
    "mad_robust_scale",
    oracle="""
WITH src AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM src
), med AS (
  SELECT event_type, n AS n_rows, cents AS median_cents
  FROM ranked WHERE rn = (n + 1) // 2
), dev AS (
  SELECT s.event_type, abs(s.cents - m.median_cents) AS adev, s.event_id
  FROM src s JOIN med m ON m.event_type = s.event_type
), dev_ranked AS (
  SELECT event_type, adev,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY adev, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM dev
)
SELECT m.event_type, CAST(m.n_rows AS BIGINT) AS n,
       m.median_cents, d.adev AS mad_cents
FROM med m
JOIN dev_ranked d ON d.event_type = m.event_type AND d.rn = (d.n + 1) // 2
ORDER BY m.event_type
""",
    doc="exact median + MAD per event type via rank algebra (lower "
    "median = value at row (n+1) div 2 of the sorted multiset — no "
    "float interpolation), MAD = same pick on |cents - median|; the "
    "robust location/scale pair for outlier fences, integers end to "
    "end; two keyed window sorts + a broadcast of per-type medians",
    tags=("stats", "quality", "window"),
)
def mad_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    src = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wp = Window.partitionBy("event_type")
    ranked = src.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(
        "event_type",
        F.col("n").alias("n_rows"),
        F.col("cents").alias("median_cents"),
    )
    dev = src.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("cents") - F.col("median_cents")).alias("adev"),
    )
    wd = Window.partitionBy("event_type").orderBy("adev", "event_id")
    dev_ranked = dev.select(
        "event_type",
        "adev",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    ).filter(F.col("rn") == F.expr("(n + 1) div 2"))
    return (
        med.join(
            dev_ranked.select("event_type", F.col("adev").alias("mad_cents")),
            "event_type",
        )
        .select("event_type", F.col("n_rows").alias("n"), "median_cents", "mad_cents")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Round-10 continuation: degree assortativity of the part co-purchase
# graph — Newman's r: the Pearson correlation of endpoint degrees over
# edges. Positive r = hubs link to hubs (assortative mixing), negative
# = hub-and-spoke; the partition-quality complement to the modularity
# gate. Over the SYMMETRIC arc list (both orientations of each edge)
# the x- and y-moments coincide, so r collapses to
# (n·Sxy − Sx²) / (n·Sxx − Sx²): integer numerator and denominator,
# ONE division, no square roots at all.
# Scale: the bounded within-basket edge join (modularity's shape) + a
# degree rollup + one broadcast of the degree table onto the arcs.
# ---------------------------------------------------------------------------


@register(
    "graph_degree_assortativity",
    oracle="""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
), edges AS (
  SELECT DISTINCT a.item AS pa, b.item AS pb
  FROM baskets a JOIN baskets b ON a.oid = b.oid AND a.item < b.item
), arcs AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL SELECT pb, pa FROM edges
), deg AS (
  SELECT src AS item, CAST(count(*) AS BIGINT) AS d FROM arcs GROUP BY src
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ds.d) AS BIGINT) AS sx,
         CAST(sum(ds.d * dd.d) AS BIGINT) AS sxy,
         CAST(sum(ds.d * ds.d) AS BIGINT) AS sxx
  FROM arcs a
  JOIN deg ds ON ds.item = a.src
  JOIN deg dd ON dd.item = a.dst
)
SELECT n AS n_arcs, sx AS sum_deg, sxy AS sum_xy, sxx AS sum_xx,
       CASE WHEN n * sxx = sx * sx THEN NULL
            ELSE round(CAST(n * sxy - sx * sx AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE), 6) END
         AS assortativity
FROM m
""",
    doc="degree assortativity (Newman's r) of the part co-purchase "
    "graph: over the symmetric arc list the endpoint-degree moments "
    "coincide, so the Pearson correlation collapses to one division of "
    "exact BIGINT moments — no sqrt; degenerate (all-equal-degree) "
    "graphs pin NULL by the integer test n*Sxx == Sx²; bounded "
    "within-basket edge join + a degree broadcast",
    tags=("graph", "eval", "stats"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("item")
    ).distinct()
    a = baskets.alias("a")
    b = baskets.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.oid") == F.col("b.oid"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .select(F.col("a.item").alias("pa"), F.col("b.item").alias("pb"))
        .distinct()
    )
    arcs = edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    deg = arcs.groupBy(F.col("src").alias("item")).agg(
        F.count(F.lit(1)).alias("d")
    )
    ds = deg.select(F.col("item").alias("src"), F.col("d").alias("dx"))
    dd = deg.select(F.col("item").alias("dst"), F.col("d").alias("dy"))
    m = (
        arcs.join(F.broadcast(ds), "src")
        .join(F.broadcast(dd), "dst")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dx").alias("sx"),
            F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
            F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        )
    )
    n, sx, sxy, sxx = (F.col(c) for c in ("n", "sx", "sxy", "sxx"))
    return m.select(
        n.alias("n_arcs"),
        sx.alias("sum_deg"),
        sxy.alias("sum_xy"),
        sxx.alias("sum_xx"),
        F.when(
            n * sxx != sx * sx,
            F.round(
                (n * sxy - sx * sx).cast("double")
                / (n * sxx - sx * sx).cast("double"),
                6,
            ),
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Round-10 continuation: ratio-to-parent revenue shares — the BI
# contract behind every drill-down: each nation's share of ITS
# region's revenue (window sum over the rollup, not a second scan).
# Exactness: cents BIGINT; each share one division 6dp.
# Scale: one fact shuffle to the (region, nation) rollup; the parent
# total is a window over the ~25-row rollup, free.
# ---------------------------------------------------------------------------


@register(
    "ratio_to_parent_share",
    oracle="""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS nation_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY region, nation
)
SELECT region, nation, nation_cents,
       CAST(sum(nation_cents) OVER (PARTITION BY region) AS BIGINT)
         AS region_cents,
       round(CAST(nation_cents AS DOUBLE)
             / CAST(sum(nation_cents) OVER (PARTITION BY region)
                    AS DOUBLE), 6) AS share_of_region
FROM rev ORDER BY region, nation
""",
    doc="ratio-to-parent drill-down: each nation's share of its "
    "region's order revenue — parent total as a window over the "
    "dim-sized rollup (never a second fact scan); exact cents, one "
    "division per row 6dp; one fact shuffle + broadcast dims",
    tags=("join", "window", "mining"),
)
def ratio_to_parent_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    rev = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(
                nation.select("n_nationkey", "n_name", "n_regionkey")
            ),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("nation_cents")
        )
    )
    wr = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        "nation_cents",
        F.sum("nation_cents").over(wr).alias("region_cents"),
        F.round(
            F.col("nation_cents").cast("double")
            / F.sum("nation_cents").over(wr).cast("double"),
            6,
        ).alias("share_of_region"),
    ).orderBy("region", "nation")


# ---------------------------------------------------------------------------
# Round-10 continuation: cumulative user reach — users-to-date per day
# (the growth curve next to rolling_wau_7d's engagement window). The
# scale-safe plan for cumulative distinct: collapse each user to their
# FIRST day (one hash agg), count new users per day, then a running
# sum over the tiny day table — never a per-day distinct rescan.
# Rows = days on which at least one user was seen first (documented
# contract; days with zero new users have no row).
# Exactness: integer epoch days, BIGINT counts.
# ---------------------------------------------------------------------------


@register(
    "cumulative_reach_daily",
    oracle="""
WITH first_day AS (
  SELECT user_id,
         min(epoch_us(ts) // (CAST(86400 AS BIGINT) * 1000000)) AS day
  FROM events GROUP BY user_id
), per_day AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM first_day GROUP BY day
)
SELECT day, n_new,
       CAST(sum(n_new) OVER (ORDER BY day
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS users_to_date
FROM per_day ORDER BY day
""",
    doc="cumulative user reach (users-to-date per day): each user "
    "collapses to their first epoch day, new-user counts roll up per "
    "day, and the running total runs over the tiny day table — the "
    "scale-safe cumulative-distinct plan (never a per-day rescan); "
    "rows exist only for days with a first-seen user; all integers",
    tags=("window", "time", "mining"),
)
def cumulative_reach_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.codecs import prefix_sums

    ev = t(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.expr("unix_micros(ts) div 86400000000")).alias("day")
    )
    per_day = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    # r12 whitelisted this gate's partition-less running sum as calendar-
    # bounded; r13 re-plans it onto prefix_sums anyway (r12 verdict item
    # 7) — a multi-decade corpus grows the day table, and the range-
    # partitioned form costs the same here
    return prefix_sums(
        per_day, "day", ["n_new"], out_cols=["users_to_date"]
    ).select("day", "n_new", "users_to_date").orderBy("day")
