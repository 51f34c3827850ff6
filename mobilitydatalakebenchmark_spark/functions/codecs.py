"""Scalar encode/decode expressions (SURVEY.md §2.2).

All are native Column expressions — no Python UDFs — so they stay inside
WholeStageCodegen. The Cantor/elegant pairing functions need >64-bit integer
math (PRECISION=16 scaling ⇒ values ~1e33, reference ``stores/cantor
helpers`` at ``apache_parquet_cantor.py:13-55``); they use DecimalType(38,0)
arithmetic, which Spark evaluates JVM-side.
"""

from __future__ import annotations

import pandas as pd  # module-global: pandas_udf resolves stringized hints here

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schemas import TS_BUCKET_LEN

# -- P6: direction ±1 involution (apache_parquet.py:35 / citus_store.py:121)


def encode_direction(direction: Column) -> Column:
    """direction ∈ {1,2} -> boolean (stored as direction-1)."""
    return (direction - F.lit(1)).cast("boolean")


def decode_direction(stored: Column) -> Column:
    """boolean -> direction ∈ {1,2}."""
    return stored.cast("int") + F.lit(1)


# -- P7/W1: timestamp bucketing (apache_parquet.py:17,27,107)


def ts_bucket(timestamp: Column) -> Column:
    """Hour bucket of the ISO timestamp string (its ``TS_BUCKET_LEN``-char
    prefix). Used as the partition column -> Spark partition pruning
    replaces the reference's filename arithmetic (F7)."""
    return F.substring(timestamp, 1, TS_BUCKET_LEN)


# -- P8: ISO timestamp parse


def parse_ts(timestamp: Column) -> Column:
    return F.to_timestamp(timestamp)


# -- epoch helpers: one tolerant path for every ts-arithmetic site.
#
# The driver's events table has shipped in two generations — parquet
# TIMESTAMP(NANOS) (read as bigint nanos under nanosAsLong) and
# TIMESTAMP(isAdjustedToUTC=false) (read as TIMESTAMP_NTZ). session.read_table
# normalizes both to TIMESTAMP, but every epoch site routes through these
# helpers as defense-in-depth: the inner cast("timestamp") is a no-op on
# TIMESTAMP, converts TIMESTAMP_NTZ losslessly (session tz pinned UTC), and
# keeps working if a future generation changes again. Pass dtype="bigint"
# (from df.dtypes) for raw nanos columns that bypassed read_table.


def epoch_us(col: Column | str, dtype: str | None = None) -> Column:
    """Microseconds since epoch from TIMESTAMP / TIMESTAMP_NTZ / bigint-nanos.

    The bigint branch divides in Decimal(38,0) — double division would lose
    sub-microsecond precision for 2024-era nano values (~1.7e18 > 2^53).
    floor() before the long cast: Spark decimal division rounds HALF_UP,
    which would bump any .5+ fractional remainder to the next unit and
    diverge from the floor semantics of unix_micros/unix_seconds. The
    operand must be decimal(20,0), not (38,0): a 38-precision dividend
    overflows the result precision, and Spark then rounds INSIDE the
    division before floor can see the fraction. Nanos since epoch fit in
    19 digits through year 2261."""
    c = F.col(col) if isinstance(col, str) else col
    if dtype == "bigint":
        return F.floor(c.cast("decimal(20,0)") / F.lit(1000)).cast("long")
    return F.unix_micros(c.cast("timestamp"))


def epoch_s(col: Column | str, dtype: str | None = None) -> Column:
    """Whole seconds since epoch (floored), same input tolerance."""
    c = F.col(col) if isinstance(col, str) else col
    if dtype == "bigint":
        return F.floor(c.cast("decimal(20,0)") / F.lit(1_000_000_000)).cast("long")
    return F.unix_seconds(c.cast("timestamp"))


# -- P11: fixed-point scaling (postgresql_velocity_split.py:121-122/176-179)

FIXED_POINT_SCALE = 10**8


def encode_fixed_point(x: Column, minimum: Column) -> Column:
    """(x - min) * 1e8 -> long. min comes from the per-document zone map (A4).
    round() before cast so float noise doesn't truncate to the wrong int."""
    return F.round((x - minimum) * F.lit(FIXED_POINT_SCALE)).cast("long")


def decode_fixed_point(stored: Column, minimum: Column) -> Column:
    return stored.cast("double") / F.lit(FIXED_POINT_SCALE) + minimum


# -- P12: Cantor / elegant pairing on DecimalType(38,0)
#    (apache_parquet_cantor.py:18-55). With PRECISION=16 the scaled ints are
#    ~1e16 and the paired value ~1e33 — beyond int64, within Decimal(38,0).

PAIRING_PRECISION = 16
_PAIR_SCALE = 10**PAIRING_PRECISION
_DEC = "decimal(38,0)"


def _scale_coord(x: Column, offset: int = 200) -> Column:
    """Coordinate -> non-negative integer: (x + offset) * 10^precision.
    offset 200 clears any lon/lat range. Rounding matches reference intent
    (int truncation there loses the last digit to float noise)."""
    return F.round((x + F.lit(offset)) * F.lit(_PAIR_SCALE)).cast(_DEC)


def _unscale_coord(n: Column, offset: int = 200) -> Column:
    return n.cast("double") / F.lit(float(_PAIR_SCALE)) - F.lit(float(offset))


def cantor_pair(x: Column, y: Column, offset: int = 200) -> Column:
    """Cantor pairing of scaled coords: (a+b)(a+b+1)/2 + b, Decimal(38,0).

    The halving happens on the even factor BEFORE the multiply: Spark's
    decimal division forces scale >= 6, and a scale-6 Decimal(38) tops out
    at 1e32 — s*(s+1) ~ 1.7e37 would overflow. (s/2)*(s+1) keeps every
    intermediate within Decimal(38,0)."""
    a = _scale_coord(x, offset)
    b = _scale_coord(y, offset)
    s = (a + b).cast(_DEC)
    s1 = (s + F.lit(1).cast(_DEC)).cast(_DEC)
    half_product = (
        F.when(s % 2 == 0, (s / 2).cast(_DEC) * s1).otherwise(s * (s1 / 2).cast(_DEC))
    ).cast(_DEC)
    return half_product + b


def elegant_pair(x: Column, y: Column, offset: int = 200) -> Column:
    """Szudzik 'elegant' pairing: if a >= b then a² + a + b else a + b².

    offset shifts coords non-negative; 200 covers any lon/lat. The
    reference's domain (positive Brussels coords, cantor.py:13-15) uses
    offset=0, which also keeps z within the 15-byte packing (P13)."""
    a = _scale_coord(x, offset)
    b = _scale_coord(y, offset)
    return F.when(a >= b, (a * a + a + b).cast(_DEC)).otherwise((a + b * b).cast(_DEC))


def elegant_unpair(z: Column, offset: int = 200) -> tuple[Column, Column]:
    """Inverse of elegant_pair -> (lon, lat) doubles.

    The reference inverts with float ``math.sqrt`` which loses precision at
    these magnitudes (SURVEY §7 'what's hard'): for z ~ 1e37 the double
    sqrt's ~1-ulp relative error is an absolute error of several hundred.
    Spark's Decimal has no sqrt, so: float seed -> one Newton step in
    Decimal(38) arithmetic (error -> ~0) -> exact ±2 floor adjustment.
    Domain: scaled inputs must be positive (any lon/lat qualifies).
    """
    zf = z.cast("double")
    seed = F.floor(F.sqrt(zf)).cast(_DEC)
    seed = F.when(seed < 1, F.lit(1).cast(_DEC)).otherwise(seed)
    # Newton: s' = (seed + z/seed) / 2 — decimal division carries scale 6,
    # values ~1e18 stay far inside Decimal(38,6); casts round, the
    # adjustment below restores exact floor semantics.
    newton = (
        ((seed + (z / seed).cast(_DEC)) / F.lit(2).cast(_DEC)).cast(_DEC)
    )
    cands = [newton + F.lit(d).cast(_DEC) for d in (2, 1, 0, -1)]
    s = (
        F.when(cands[0] * cands[0] <= z, cands[0])
        .when(cands[1] * cands[1] <= z, cands[1])
        .when(cands[2] * cands[2] <= z, cands[2])
        .when(cands[3] * cands[3] <= z, cands[3])
        .otherwise((newton - F.lit(2).cast(_DEC)).cast(_DEC))
        .cast(_DEC)
    )
    diff = (z - s * s).cast(_DEC)
    a = F.when(diff < s, diff).otherwise(s)
    b = F.when(diff < s, s).otherwise((diff - s).cast(_DEC))
    return _unscale_coord(a, offset), _unscale_coord(b, offset)


# -- P13: little-endian fixed-width byte packing of the paired integer
#    (apache_parquet_cantor.py:86-89 packs into pyarrow.binary(15)).
#    Byte packing of >64-bit ints has no Column expression; this is the one
#    sanctioned Pandas-UDF (Arrow-vectorized) codec in the library.

PACK_BYTES = 15


_UDF_CACHE: dict[str, object] = {}


def _pack_udfs():
    # created lazily: pandas_udf registration needs an active SparkSession
    if "pack" not in _UDF_CACHE:

        def pack_fn(s: pd.Series) -> pd.Series:
            return s.map(
                lambda v: None if v is None else int(v).to_bytes(PACK_BYTES, "little")
            )

        def unpack_fn(s: pd.Series) -> pd.Series:
            return s.map(
                lambda v: None if v is None else str(int.from_bytes(bytes(v), "little"))
            )

        _UDF_CACHE["pack"] = F.pandas_udf(pack_fn, "binary")
        _UDF_CACHE["unpack"] = F.pandas_udf(unpack_fn, "string")
    return _UDF_CACHE["pack"], _UDF_CACHE["unpack"]


def pack_le_bytes(col: Column) -> Column:
    """Decimal(38,0) column -> 15-byte little-endian binary."""
    pack, _ = _pack_udfs()
    return pack(col)


def unpack_le_bytes(col: Column) -> Column:
    """15-byte little-endian binary -> Decimal(38,0)."""
    _, unpack = _pack_udfs()
    return unpack(col).cast(_DEC)


# -- P14: md5 hash-consing key (postgresql_velocity.py:64-67)


def hashcons_key(*cols: Column, length: int = 32) -> Column:
    """md5(concat(cols))[:length] — deterministic dimension key.

    Default is the FULL 128-bit digest: truncated keys birthday-collide
    (8 hex chars ≈ 50% collision odds at ~77k distinct entities), and a
    dim-key collision silently cross-wires entities. Pass a shorter length
    only for reference-parity demos (postgresql_velocity.py:64-67 uses 8)."""
    return F.md5(F.concat_ws("", *[c.cast("string") for c in cols])).substr(1, length)


# -- P15: WKT point text (mobility_db_batch.py:87-89)


def wkt_point(lon: Column, lat: Column) -> Column:
    return F.format_string("POINT(%s %s)", lon.cast("string"), lat.cast("string"))


# -- P18: dense surrogate key by key order (postgresql_python_conv.py:55-56)


def surrogate_key(order_col: str):
    """row_number over a global ordering. WARNING: single-partition window —
    the whole input is sorted on ONE task. Only for dimension tables / per-
    bucket document ids (≲ a few million rows). For anything fact-scale use
    :func:`surrogate_keys`, which produces the identical numbering without
    the single-partition sort."""
    from pyspark.sql import Window

    return F.row_number().over(Window.orderBy(order_col))


# The within-range rank is read off monotonically_increasing_id, whose
# row-offset field is 33 bits wide: a range holding more than 2^33 rows
# would silently overflow into the partition-id bits and corrupt every rank
# after it. The per-range counts are collected anyway, so the guard is
# free — raise instead of corrupting. The bound is conservative by one
# row: a range of exactly 2^33 rows (offsets up to 2^33 - 1) would
# still fit, but is refused too.
_MAX_RANGE_ROWS = 1 << 33


def _guard_range_counts(counts_by_range: dict) -> None:
    """Refuse per-range row counts the 33-bit row-offset cannot number."""
    over = {r: c for r, c in counts_by_range.items() if c >= _MAX_RANGE_ROWS}
    if over:
        raise ValueError(
            f"surrogate_keys/grouped_surrogate_keys range(s) hold >= 2^33 rows {over}; "
            "monotonically_increasing_id's row offset would overflow — "
            "pass a larger num_ranges"
        )


def _range_checkpoint(ranged, reliable: bool = False):
    """PIN the sampled range boundaries: RangePartitioning draws its bounds
    with a seed derived from the RDD id, so the counts job and the final
    job would otherwise sample DIFFERENT boundaries and the offsets map
    would be wrong (caught at sf0.1 — 20k rows resample differently, 200
    don't). The checkpoint is LAZY: the counts collect that immediately
    follows is the first action, so it materializes the blocks — one job
    does double duty where an eager checkpoint would pay a separate
    materialization pass (measured ~2x on the re-planned r12 gates at
    sf0.1). A persist() instead would pin the cache for the session
    lifetime since this helper has no post-consumption unpersist hook.

    CAVEAT (r12 verdict item 3): localCheckpoint pins blocks to
    executor-local storage and truncates lineage — an executor loss (or
    dynamic-allocation scale-in) mid-query fails the job instead of
    recomputing. Pass ``reliable=True`` (requires
    ``spark.sparkContext.setCheckpointDir``) to write the cut to the
    checkpoint dir and survive executor loss, at the cost of a
    filesystem round trip."""
    if reliable:
        return ranged.checkpoint(eager=False)
    return ranged.localCheckpoint(eager=False)


def surrogate_keys(
    df,
    order_col: str | list[str],
    out_col: str = "surrogate_id",
    num_ranges: int | None = None,
    total_col: str | None = None,
    reliable: bool = False,
):
    """Dense 1-based ids in global ``order_col`` order — scale-safe.

    Same numbering as ``row_number() OVER (ORDER BY order_col)`` but
    without a global single-partition sort: range-repartition on the key
    (the same sampled range exchange ``orderBy`` uses), rank within each
    range, then shift each range by the row count of all earlier ranges.
    The range offsets come from one tiny count job collected to the
    driver — ONE ROW PER RANGE, exactly RDD.zipWithIndex's design, never
    data-proportional — and re-enter the plan as a literal map, so no
    no-partition window appears anywhere. Equal keys co-locate in one
    range, so ties are broken deterministically by the within-range sort.
    Input is scanned twice (counts + ranks) — cheap next to the global
    single-task sort it replaces.

    ``order_col`` may be a list of columns: the ordering (and the range
    partitioning) is then the lexicographic composite, exactly like
    ``row_number() OVER (ORDER BY c1, c2, ...)``. Entries may be Column
    ordering expressions (``F.desc("x")``, ``F.col("v").asc_nulls_last()``)
    for non-default directions / null placement.

    ``total_col``: when set, the total row count (already known from the
    per-range counts job — no extra scan) is attached as a literal
    column, for rank algebra that needs N (ntile, percentiles).

    ``reliable``: checkpoint the ranged input to the session checkpoint
    dir instead of executor-local storage (see :func:`_range_checkpoint`
    for the executor-loss trade-off). Any range holding >= 2^33 rows
    raises instead of silently corrupting ranks (the
    monotonically_increasing_id row-offset width)."""
    order_cols = [order_col] if isinstance(order_col, (str, Column)) else list(order_col)
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    spark = df.sparkSession
    n = num_ranges or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "_rng", F.spark_partition_id()
    )
    ranged = _range_checkpoint(ranged, reliable)
    counts = ranged.groupBy("_rng").agg(F.count("*").alias("_n")).collect()
    _guard_range_counts({row._rng: row._n for row in counts})
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r._rng):
        offsets[row._rng] = acc
        acc += row._n
    off_map = F.create_map(
        *[F.lit(x) for pair in offsets.items() for x in pair]
    )
    # Within-range rank WITHOUT a window: a Window.partitionBy("_rng")
    # would add a full hashpartitioning exchange of the data (the rows
    # are already range-partitioned, but after the checkpoint Catalyst
    # no longer knows it). Instead sort within the existing partitions
    # and read the rank off monotonically_increasing_id, which encodes
    # (partition_id << 33) | row_offset — the offset of a sorted row IS
    # rank-1. The id is nondeterministic to Catalyst, so the projection
    # is never reordered past the sort. One exchange total (the range
    # one), same numbering bit-for-bit.
    out = (
        ranged.sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn(
            out_col,
            F.coalesce(F.element_at(off_map, F.col("_rng")), F.lit(0))
            + (F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1),
        )
        .drop("_rng", "_mid")
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(acc).cast("long"))
    return out


def grouped_surrogate_keys(
    df,
    group_cols: str | list[str],
    order_col: str | list[str],
    out_col: str = "surrogate_id",
    count_col: str | None = None,
    num_ranges: int | None = None,
    reliable: bool = False,
):
    """Dense 1-based per-group ids in ``order_col`` order — scale-safe.

    Same numbering as ``row_number() OVER (PARTITION BY group ORDER BY
    order_col)`` but with no data-proportional window partition: a
    ``Window.partitionBy(group)`` sorts each group's ENTIRE slice on one
    task, which for a low-cardinality group (e.g. a handful of sources)
    is the r12 scale-killer class divided by a constant (r12 verdict
    item 1). Here the input is range-partitioned on (group, order) —
    each group spans contiguous ranges, each range is |input|/n rows —
    and the per-group rank is recovered from the within-range position
    plus a per-(range, group) adjustment:

        rank = pos_in_range + 1
               + rows_of_group_in_earlier_ranges        (same group)
               - rows_of_earlier_groups_in_this_range   (group start)

    Both corrections come from ONE tiny counts job — one row per
    (range, group), bounded by n_ranges + n_groups because groups are
    contiguous slabs under the lexicographic range partitioning — whose
    intra-range group order is taken from Spark's own ``orderBy`` over
    the counts rows (never a Python re-implementation of Spark's sort
    semantics). The adjustments re-enter the plan as a broadcast join of
    a driver-local table, so no window appears anywhere.

    ``group_cols`` must be plain column NAMES (they are join keys for
    the adjustment table; NULL group values are matched null-safely).
    ``order_col`` as in :func:`surrogate_keys` (strings or Column
    ordering expressions). ``count_col``: attach each group's total row
    count (known from the same counts job), the scale-safe stand-in for
    ``count(*) OVER (PARTITION BY group)``."""
    from ..session import local_df

    group_names = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    order_cols = (
        [order_col] if isinstance(order_col, (str, Column)) else list(order_col)
    )
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    spark = df.sparkSession
    n = num_ranges or spark.sparkContext.defaultParallelism
    sort_cols = [F.col(c) for c in group_names] + order_cols
    ranged = df.repartitionByRange(n, *sort_cols).withColumn(
        "_rng", F.spark_partition_id()
    )
    ranged = _range_checkpoint(ranged, reliable)
    # one row per (range, group); Spark's orderBy fixes the walk order so
    # the Python loop never re-implements Spark's sort semantics (null
    # placement, string collation)
    per = (
        ranged.groupBy("_rng", *group_names)
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy("_rng", *group_names)
        .collect()
    )
    rng_counts: dict = {}
    for row in per:
        rng_counts[row._rng] = rng_counts.get(row._rng, 0) + row._n
    _guard_range_counts(rng_counts)
    seen: dict = {}  # group key -> rows in earlier ranges
    adj_rows = []  # (rng, *group key, adjustment)
    cur_rng = None
    for row in per:
        if row._rng != cur_rng:
            cur_rng, start_off = row._rng, 0
        key = tuple(row[g] for g in group_names)
        adj_rows.append(
            (row._rng, *key, seen.get(key, 0) - start_off)
        )
        seen[key] = seen.get(key, 0) + row._n
        start_off += row._n
    group_schema = ", ".join(
        f"`{g}` {dict(df.dtypes)[g]}" for g in group_names
    )
    schema = f"_rng int, {group_schema}, _adj long"
    if count_col is not None:
        # the group total rides the same local table (seen holds the
        # full count once the walk is complete) — no second join
        adj_rows = [
            (*r, seen[tuple(r[1 : 1 + len(group_names)])]) for r in adj_rows
        ]
        schema += f", {count_col} long"
    adj = local_df(spark, adj_rows, schema)
    sorted_mid = (
        ranged.sortWithinPartitions(*sort_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    # null-safe equi-join on (_rng, group...): rename the adjustment
    # side so the output keeps the input's columns untouched
    adj_r = adj.select(
        *[F.col(c).alias(f"_adj_{c}") for c in adj.columns]
    )
    cond = F.col("_rng").eqNullSafe(F.col("_adj__rng"))
    for g in group_names:
        cond = cond & F.col(g).eqNullSafe(F.col(f"_adj_{g}"))
    out = (
        sorted_mid.join(F.broadcast(adj_r), cond, "left")
        .withColumn(
            out_col,
            F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
            + 1
            + F.coalesce(F.col("_adj__adj"), F.lit(0)),
        )
    )
    if count_col is not None:
        out = out.withColumn(
            count_col, F.col(f"_adj_{count_col}").cast("long")
        )
    return out.drop(
        "_rng", "_mid", *[f"_adj_{c}" for c in adj.columns]
    )


def prefix_sums(
    df,
    order_col,
    sum_cols: list[str],
    out_cols: list[str] | None = None,
    num_ranges: int | None = None,
    rank_col: str | None = None,
    total_cols: dict[str, str] | None = None,
    reliable: bool = False,
):
    """Inclusive running sums over a global ordering — scale-safe.

    Same values as ``sum(c) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED
    PRECEDING AND CURRENT ROW)`` but with no single-partition sort:
    range-repartition on the ordering (boundaries pinned by the same
    eager localCheckpoint as :func:`surrogate_keys`), collect ONE ROW
    PER RANGE of per-range column totals, then add each range's
    cumulative offset to a within-range running sum. The within-range
    window is partitioned by the range id, so every window partition is
    one sampled range — bounded, never the whole input. Costs one range
    exchange + one hash exchange on the range id + a per-range-count
    driver fetch; replaces a plan where ONE task sorts the entire input.

    The ordering MUST be a unique total order (ROWS frames over ties are
    otherwise nondeterministic — same contract as the window it
    replaces). ``order_col`` entries may be strings or Column ordering
    expressions (``F.desc(...)``, ``...asc_nulls_last()``).

    PRECONDITION: ``sum_cols`` values must be non-NULL. NULL handling
    diverges from the replaced window (an all-NULL range's offset is
    coerced to 0, and a NULL prefix within a range stays NULL where the
    global window would carry the prior ranges' sum). Every current call
    site sums non-null aggregates; pass pre-coalesced columns otherwise.

    ``rank_col``: also emit the 1-based global rank (LongType) in the
    same ordering, computed inside the same Window operator (free).
    ``total_cols``: mapping ``sum_col -> output name`` attaching each
    column's grand total as a LongType literal (already known from the
    per-range totals job — no extra pass)."""
    from pyspark.sql import Window

    order_cols = [order_col] if isinstance(order_col, (str, Column)) else list(order_col)
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    out_cols = out_cols or [f"cum_{c}" for c in sum_cols]
    if len(out_cols) != len(sum_cols):
        raise ValueError(
            f"out_cols ({len(out_cols)}) must match sum_cols "
            f"({len(sum_cols)}) one-to-one"
        )
    spark = df.sparkSession
    n = num_ranges or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "_rng", F.spark_partition_id()
    )
    # same boundary-pinning rationale as surrogate_keys: the totals job
    # and the final job must see identical sampled range boundaries (the
    # lazy checkpoint is materialized by the totals collect below)
    ranged = _range_checkpoint(ranged, reliable)
    # total_cols may name columns outside sum_cols (grand total wanted,
    # running sum not): aggregate them in the same per-range job
    all_cols = list(dict.fromkeys(list(sum_cols) + list(total_cols or {})))
    per_rng = (
        ranged.groupBy("_rng")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            *[F.sum(c).alias(f"_s{i}") for i, c in enumerate(all_cols)],
        )
        .collect()
    )
    offsets: dict[int, list[int]] = {}
    acc = [0] * (len(all_cols) + 1)  # [rank offset, per-col sums...]
    totals_known: dict[str, int] = {}
    for row in sorted(per_rng, key=lambda r: r._rng):
        offsets[row._rng] = list(acc)
        acc[0] += row._cnt
        for i in range(len(all_cols)):
            acc[i + 1] += row[f"_s{i}"] or 0
    for i, c in enumerate(all_cols):
        totals_known[c] = acc[i + 1]
    w_in = Window.partitionBy("_rng").orderBy(*order_cols)
    w_cum = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def _offset_expr(idx: int) -> Column:
        if not offsets:  # empty input: no ranges, plain zero offset
            return F.lit(0).cast("long")
        off_map = F.create_map(
            *[
                x
                for rng, offs in offsets.items()
                for x in (F.lit(rng), F.lit(offs[idx]).cast("long"))
            ]
        )
        return F.coalesce(
            F.element_at(off_map, F.col("_rng")), F.lit(0).cast("long")
        )

    out = ranged
    for i, (c, oc) in enumerate(zip(sum_cols, out_cols)):
        out = out.withColumn(oc, _offset_expr(i + 1) + F.sum(c).over(w_cum))
    if rank_col is not None:
        out = out.withColumn(
            rank_col, _offset_expr(0) + F.row_number().over(w_in)
        )
    out = out.drop("_rng")
    for c, name in (total_cols or {}).items():
        out = out.withColumn(name, F.lit(totals_known[c]).cast("long"))
    return out
