"""Tests of the benchmark's own helpers: the tail-percentile rule, span
self-time arithmetic and the canonical compares. No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import datetime as dt
import decimal

import pytest

from perfbench.checks import document_problems, rows_problems
from perfbench.stats import TAIL_BEYOND, quartile_spread, tail
from perfbench.trace import Span, inclusive_work, layer_self_times, self_times


# --- tail percentile: the highest one with at least 10 samples beyond it ---


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = tail(samples)
    assert pct == 90.0
    assert value == 90.0
    assert sum(1 for s in samples if s > value) == TAIL_BEYOND


def test_tail_is_order_independent():
    samples = [float(i) for i in range(40)]
    shuffled = samples[::-1]
    assert tail(samples) == tail(shuffled)
    value, pct = tail(samples)
    assert sum(1 for s in samples if s > value) == TAIL_BEYOND
    assert pct == pytest.approx(75.0)


def test_tail_falls_back_to_median_on_small_samples():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0)
    samples = [float(i) for i in range(20)]
    assert tail(samples) == (9.5, 50.0)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])


def test_quartile_spread_is_relative_to_the_median():
    assert quartile_spread([10.0] * 10) == 0.0
    spread = quartile_spread([float(v) for v in range(1, 11)])
    assert spread == pytest.approx((8.25 - 2.75) / 5.5)


# --- span self time ---


def _span(id, start, end, parent=None, name="operators.x"):
    return Span(id=id, name=name, start=start, end=end, parent=parent)


def test_self_time_subtracts_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0, name="spark.collect"),
        _span(2, 5.0, 9.0, parent=0, name="spark.collect"),
    ]
    own = self_times(spans)
    assert own == {0: pytest.approx(4.0), 1: pytest.approx(2.0), 2: pytest.approx(4.0)}
    assert sum(own.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 2.0, 6.0, parent=0),
        _span(2, 4.0, 8.0, parent=0),
    ]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, 0.0, 5.0), _span(1, 4.0, 7.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_ignores_grandchildren():
    spans = [
        _span(0, 0.0, 10.0, name="operators.a"),
        _span(1, 2.0, 8.0, parent=0, name="operators.b"),
        _span(2, 3.0, 7.0, parent=1, name="spark.noop"),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(4.0)
    assert own[1] == pytest.approx(2.0)
    assert layer_self_times(spans) == {
        "operators": pytest.approx(6.0),
        "spark": pytest.approx(4.0),
    }


def test_inclusive_work_folds_subtrees():
    spans = [_span(0, 0, 10), _span(1, 1, 2, parent=0), _span(2, 1, 2, parent=1)]
    spans[0].jobs, spans[1].jobs, spans[2].jobs = 1, 2, 3
    spans[2].tasks = 7
    work = inclusive_work(spans)
    assert work[0] == (6, 0, 7)
    assert work[1] == (5, 0, 7)
    assert work[2] == (3, 0, 7)


# --- canonical document compare ---


def _feature(uuid, lon=4.3, lat=50.8, distance=12.5, **props):
    base = {
        "uuid": uuid, "id": 1, "color": "#abcdef", "direction": 1,
        "distance": distance, "distanceFromPoint": 3, "lineId": "T1", "pointId": 9,
    }
    base.update(props)
    return {
        "type": "Feature",
        "id": uuid,
        "geometry": {"type": "Point", "coordinates": [lon, lat]},
        "properties": base,
    }


WANT = {"type": "FeatureCollection", "features": [_feature("a"), _feature("b"), _feature("a", distance=3.0)]}


def _row(data, ts="2024-03-21T13:52:00"):
    return {"timestamp": ts, "data": copy.deepcopy(data)}


def test_document_matches_in_any_feature_order_with_float32_noise():
    got = _row(WANT)
    got["data"]["features"].reverse()
    got["data"]["features"][0]["geometry"]["coordinates"][0] = 4.3000001  # float32
    assert document_problems([got], "2024-03-21T13:52:00", WANT) == []


def test_document_duplicate_uuid_is_a_multiset():
    got = _row(WANT)
    got["data"]["features"].pop()  # one of the two "a" features
    assert document_problems([got], "2024-03-21T13:52:00", WANT)


def test_document_field_value_mismatch():
    got = _row(WANT)
    got["data"]["features"][1]["properties"]["lineId"] = "T9"
    problems = document_problems([got], "2024-03-21T13:52:00", WANT)
    assert problems and "lineId" in problems[0]


def test_document_missing_or_extra_rows():
    assert document_problems([], "2024-03-21T13:52:00", WANT)
    row = _row(WANT)
    assert document_problems([row, row], "2024-03-21T13:52:00", WANT)
    assert document_problems([_row(WANT, ts="2024-03-21T13:52:20")], "2024-03-21T13:52:00", WANT)


# --- result-set compare against a DuckDB oracle ---


def test_rows_match_across_column_and_row_order_and_types():
    got = [(1, "x", 0.1 + 0.2, dt.datetime(2024, 1, 1, 0, 0)), (2, "y", 1.0, None)]
    want = [("y", decimal.Decimal("1.0"), 2, None), ("x", 0.3, 1, dt.datetime(2024, 1, 1))]
    assert rows_problems(["k", "s", "v", "t"], got, ["s", "v", "k", "t"], want) == []


def test_rows_absorb_a_rounding_flip_but_not_a_wrong_value():
    assert rows_problems(["v"], [(1.23,)], ["v"], [(1.24,)]) == []
    assert rows_problems(["v"], [(1.23,)], ["v"], [(1.3,)])


def test_rows_report_count_and_column_mismatch():
    assert rows_problems(["a"], [(1,)], ["a"], [(1,), (2,)])
    assert rows_problems(["a"], [(1,)], ["b"], [(1,)])


# --- seeded inputs ---


def test_seed_changes_data_and_lookup_keys():
    from perfbench.inputs import snapshot_stream

    a, a_again, b = (snapshot_stream(seed, 12, 5) for seed in (1, 1, 2))
    assert a == a_again
    assert {ts for ts, _ in a}.isdisjoint({ts for ts, _ in b})
    uuids = lambda snaps: {f["properties"]["uuid"] for _, d in snaps for f in d["features"]}  # noqa: E731
    assert uuids(a).isdisjoint(uuids(b))
