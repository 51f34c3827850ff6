"""As-of and range joins — the temporal join operators Spark lacks natively.

The reference's as-of capability is a scalar lookup (W3,
``mobility_db.py:104-109``); generalized here to full JOIN operators:

- ``asof_join``: for every left row, attach the latest right row at or
  before its timestamp (per key): tag and union both sides, one sort per
  key partition, last-non-null window. ONE shuffle total, no per-row
  probing (``pd.merge_asof`` semantics with ``direction="backward"``,
  without leaving the JVM).
- ``range_join``: equi-join a fact column into [lo, hi) interval tables.
  Broadcast-able dims go through a broadcast range join; big-big goes
  through interval bucketization -> equi-join on bucket + residual filter
  (turns the O(n·m) theta join into a linear bucketed join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] = "key",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Left rows + latest right values at-or-before left.on, per `by` key.

    right must carry (by, on, value_cols). Output: left columns + each
    value column as `asof_<name>` (NULL when no prior right row exists).
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    value_cols = value_cols or [
        c for c in right.columns if c not in by_cols + [on]
    ]
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"asof_join value columns {sorted(clash)} collide with left-side "
            "columns; rename the right side (e.g. .withColumnRenamed) first — "
            "a silent overlap would corrupt the as-of fill."
        )
    l_tag = left.withColumn("_side", F.lit(1))
    r_tag = right.withColumn("_side", F.lit(0))
    # superset schema: each side gets the other's missing columns as NULL
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    for c in value_cols:
        l_tag = l_tag.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))
    cols = list(
        dict.fromkeys(
            by_cols
            + [on, "_side"]
            + value_cols
            + [c for c in left.columns if c not in by_cols + [on]]
        )
    )
    both = l_tag.select(*cols).unionByName(r_tag.select(*cols))
    # right rows sort before left rows at equal ts (as-of is inclusive)
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in value_cols:
        both = both.withColumn(f"asof_{c}", F.last(c, ignorenulls=True).over(w))
    return both.filter(F.col("_side") == 1).drop("_side", *value_cols)


def range_join(
    fact: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: float | None = None,
) -> DataFrame:
    """fact ⋈ intervals ON lo <= value < hi.

    Small interval tables: broadcast theta join (one pass over fact).
    Big-big (`bucket_width`): both sides keyed to bucket ids (intervals
    explode into the buckets they overlap), equi-join on bucket, residual
    predicate — linear, shuffle on uniform bucket keys."""
    v = F.col(value_col)
    cond = (v >= F.col(lo_col)) & (v < F.col(hi_col))
    if bucket_width is None:
        return fact.join(F.broadcast(intervals), cond)
    fb = fact.withColumn("_bucket", F.floor(v / F.lit(bucket_width)))
    ib = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bucket_width)),
                # hi is exclusive: a bucket containing only hi itself is out
                F.floor(
                    (F.col(hi_col) - F.lit(1e-9)) / F.lit(bucket_width)
                ),
            )
        ),
    )
    return fb.join(ib, "_bucket").filter(cond).drop("_bucket")
