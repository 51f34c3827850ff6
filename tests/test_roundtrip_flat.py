"""Golden round-trip test for the flat parquet pipeline (SURVEY.md §5.1).

Invariant (reference ``base_store.py:16-18``): for every stored (data, ts),
get_document(ts) reconstructs the original FeatureCollection. Comparison is
a multiset keyed by properties.uuid, key-order-insensitive, with float32
tolerance (§2.9 note 9: feature order is unspecified)."""

from __future__ import annotations

import math

import pytest

from mobilitydatalakebenchmark_spark.operators.flat_store import FlatParquetStore


def _canon_features(data: dict) -> dict[tuple, list[dict]]:
    """Group features by uuid (multiset: duplicates within one snapshot are
    legal — the generator includes one)."""
    out: dict[tuple, list[dict]] = {}
    for f in data["features"]:
        out.setdefault((f["properties"]["uuid"],), []).append(f)
    for k in out:
        out[k].sort(key=lambda f: repr(sorted(f["properties"].items())))
    return out


def _assert_feature_eq(got: dict, want: dict):
    assert got["type"] == "Feature"
    assert got["id"] == want["properties"]["uuid"]
    g, w = got["geometry"], want["geometry"]
    assert g["type"] == "Point"
    for a, b in zip(g["coordinates"], w["coordinates"]):
        assert math.isclose(a, b, rel_tol=1e-6)  # float32 storage
    gp, wp = got["properties"], want["properties"]
    for key in ("uuid", "id", "color", "direction", "distanceFromPoint", "lineId", "pointId"):
        assert gp[key] == wp[key], key
    assert math.isclose(gp["distance"], wp["distance"], rel_tol=1e-6)


@pytest.fixture(scope="module")
def store(tmp_path_factory, documents_df):
    path = str(tmp_path_factory.mktemp("flat") / "table")
    store = FlatParquetStore(path)
    store.write(documents_df)
    return store


def test_roundtrip_all_nonempty(spark, store, snapshots):
    # probe a spread of snapshots incl. the bucket boundary and the dup-uuid one
    probes = [snapshots[0], snapshots[2], snapshots[-1], snapshots[len(snapshots) // 2]]
    for ts, data in probes:
        rows = store.get_document(ts).collect()
        assert len(rows) == 1
        got = rows[0].asDict(recursive=True)
        assert got["timestamp"] == ts
        assert got["data"]["type"] == "FeatureCollection"
        got_by_uuid = _canon_features(got["data"])
        want_by_uuid = _canon_features(data)
        assert set(got_by_uuid) == set(want_by_uuid)
        for key in want_by_uuid:
            assert len(got_by_uuid[key]) == len(want_by_uuid[key]), key
            for g, w in zip(got_by_uuid[key], want_by_uuid[key]):
                _assert_feature_eq(g, w)


def test_empty_snapshot_absent_from_flat(store, snapshots):
    ts_empty = snapshots[5][0]
    assert snapshots[5][1]["features"] == []
    # explode drops empty snapshots; point read returns no document row
    assert store.get_document(ts_empty).count() == 0


def test_partition_pruning_in_plan(store, snapshots):
    ts = snapshots[10][0]
    plan = store.get_document(ts)._jdf.queryExecution().executedPlan().toString()
    # partition filter on ts_bucket must reach the scan
    assert "ts_bucket" in plan


def test_size_metric(store):
    assert store.total_size() > 0
