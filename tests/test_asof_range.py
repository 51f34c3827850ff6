"""As-of join (matches brute force) and range join (broadcast vs bucketed
agree)."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from mobilitydatalakebenchmark_spark.operators.asof import asof_join, range_join


@pytest.fixture(scope="module")
def quotes_trades(spark):
    rng = random.Random(9)
    t0 = dt.datetime(2024, 1, 1)
    quotes, trades = [], []
    for sym in ["AA", "BB", "CC"]:
        for i in range(200):
            quotes.append(
                (sym, t0 + dt.timedelta(seconds=rng.randint(0, 86400)), round(rng.uniform(10, 20), 4))
            )
        for i in range(50):
            trades.append(
                (sym, t0 + dt.timedelta(seconds=rng.randint(-100, 86500)), i)
            )
    q = spark.createDataFrame(quotes, "sym string, ts timestamp, price double")
    t = spark.createDataFrame(trades, "sym string, ts timestamp, trade_id long")
    return q.cache(), t.cache()


def _brute_force(quotes, trades):
    qrows = [(r.sym, r.ts, r.price) for r in quotes.collect()]
    out = {}
    for r in trades.collect():
        prior = [q for q in qrows if q[0] == r.sym and q[1] <= r.ts]
        best = max(prior, key=lambda q: q[1], default=None)
        out[(r.sym, r.trade_id)] = best[2] if best else None
    return out


def test_union_strategy_matches_bruteforce(quotes_trades):
    quotes, trades = quotes_trades
    got = {
        (r.sym, r.trade_id): r.asof_price
        for r in asof_join(trades, quotes, on="ts", by="sym").collect()
    }
    want = _brute_force(quotes, trades)
    assert len(got) == len(want)
    for k, v in want.items():
        assert got[k] == v or (v is not None and abs(got[k] - v) < 1e-12), k


def test_multi_key_multi_value_asof(spark):
    quotes = spark.createDataFrame(
        [
            ("AA", "X", "2024-01-01 10:00:00", 10.0, 100),
            ("AA", "X", "2024-01-01 11:00:00", 11.0, 110),
            ("AA", "Y", "2024-01-01 10:30:00", 99.0, 990),
        ],
        "sym string, venue string, ts string, price double, qty long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    trades = spark.createDataFrame(
        [
            ("AA", "X", "2024-01-01 10:30:00", 1),
            ("AA", "X", "2024-01-01 12:00:00", 2),
            ("AA", "Y", "2024-01-01 10:00:00", 3),  # before any Y quote
        ],
        "sym string, venue string, ts string, trade_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r.trade_id: (r.asof_price, r.asof_qty)
        for r in asof_join(trades, quotes, on="ts", by=["sym", "venue"]).collect()
    }
    assert out == {1: (10.0, 100), 2: (11.0, 110), 3: (None, None)}


def test_asof_rejects_column_collision(spark):
    left = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0)], "key string, ts string, price double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 2.0)], "key string, ts string, price double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="ts", by="key")


def test_range_join_strategies_agree(spark):
    rng = random.Random(10)
    facts = spark.createDataFrame(
        [(i, round(rng.uniform(0, 100), 4)) for i in range(2000)], "id long, v double"
    )
    tiers = spark.createDataFrame(
        [("low", 0.0, 25.0), ("mid", 25.0, 60.0), ("high", 60.0, 100.01)],
        "tier string, lo double, hi double",
    )
    a = range_join(facts, tiers, "v")
    b = range_join(facts, tiers, "v", bucket_width=10.0)
    ka = {(r.id, r.tier) for r in a.collect()}
    kb = {(r.id, r.tier) for r in b.collect()}
    assert ka == kb
    assert len(ka) == 2000  # tiers cover the domain exactly once


def test_range_join_bucketed_boundary(spark):
    facts = spark.createDataFrame([(1, 10.0), (2, 19.999), (3, 20.0)], "id long, v double")
    tiers = spark.createDataFrame([("t", 10.0, 20.0)], "tier string, lo double, hi double")
    out = range_join(facts, tiers, "v", bucket_width=5.0)
    ids = {r.id for r in out.collect()}
    assert ids == {1, 2}  # hi exclusive
