"""Round-trip invariants for the velocity, temporal and document pipelines
(SURVEY.md §5: same multiset-by-uuid comparison as the flat store)."""

from __future__ import annotations

import math
import os

import pytest

from mobilitydatalakebenchmark_spark.operators.document_store import (
    DocumentParquetStore,
    GzipJsonStore,
    documents_as_json,
)
from mobilitydatalakebenchmark_spark.operators.temporal_store import TemporalStore
from mobilitydatalakebenchmark_spark.operators.velocity_store import (
    VelocityParquetStore,
)

from .test_roundtrip_flat import _assert_feature_eq, _canon_features


def _check_doc(got_row, ts, want_data):
    got = got_row.asDict(recursive=True)
    assert got["timestamp"] == ts
    assert got["data"]["type"] == "FeatureCollection"
    got_by, want_by = _canon_features(got["data"]), _canon_features(want_data)
    assert set(got_by) == set(want_by)
    for key in want_by:
        assert len(got_by[key]) == len(want_by[key]), key
        for g, w in zip(got_by[key], want_by[key]):
            _assert_feature_eq(g, w)


class TestVelocity:
    @pytest.fixture(scope="class")
    def store(self, tmp_path_factory, documents_df):
        store = VelocityParquetStore(str(tmp_path_factory.mktemp("vel") / "t"))
        store.write(documents_df)
        return store

    def test_roundtrip(self, spark, store, snapshots):
        for idx in (0, 2, 20, len(snapshots) - 1):
            ts, data = snapshots[idx]
            rows = store.get_document(spark, ts).collect()
            assert len(rows) == 1
            _check_doc(rows[0], ts, data)

    def test_empty_snapshot_has_document_row(self, spark, store, snapshots):
        ts = snapshots[5][0]
        rows = store.get_document(spark, ts).collect()
        assert len(rows) == 1
        assert rows[0].asDict(recursive=True)["data"]["features"] == []

    def test_dim_is_deduplicated(self, spark, store, snapshots):
        _, l1, _ = store.tables(spark)
        uuids = set()
        for ts, data in snapshots:
            uuids.update(f["properties"]["uuid"] for f in data["features"])
        # one dim row per distinct vehicle identity (uuid+attrs);
        # our generator keeps attrs stable per uuid -> exactly |uuids|
        assert l1.count() == len(uuids)
        assert l1.select("l1_id").distinct().count() == l1.count()

    def test_attribute_drift_keeps_observation(self, spark, tmp_path_factory):
        """A vehicle whose mutable attributes change between snapshots
        (direction flip at a terminus) must NOT lose observations: the dim
        key is uuid-only and first-seen attribute values win (reference
        apache_parquet_velocity.py:81-85 semantics)."""
        from mobilitydatalakebenchmark_spark.sources.geojson import snapshots_to_df

        def feat(direction):
            return {
                "type": "Feature",
                "id": "veh-1",
                "geometry": {"type": "Point", "coordinates": [4.3, 50.8]},
                "properties": {
                    "uuid": "veh-1", "id": 1, "color": "#123456",
                    "direction": direction, "distance": 10.0,
                    "distanceFromPoint": 5, "lineId": "T1", "pointId": 7,
                },
            }

        snaps = [
            ("2024-03-21T13:40:00", {"type": "FeatureCollection", "features": [feat(1)]}),
            ("2024-03-21T13:40:20", {"type": "FeatureCollection", "features": [feat(2)]}),
        ]
        store = VelocityParquetStore(str(tmp_path_factory.mktemp("drift") / "t"))
        store.write(snapshots_to_df(spark, snaps))
        doc2 = store.get_document(spark, "2024-03-21T13:40:20").collect()
        assert len(doc2) == 1
        feats = doc2[0].asDict(recursive=True)["data"]["features"]
        assert len(feats) == 1  # observation survived the drift
        # first-seen attribute wins (direction=1 from t1)
        assert feats[0]["properties"]["direction"] == 1

    def test_append_novelty_join(self, spark, tmp_path_factory, documents_df):
        from pyspark.sql import functions as F

        store = VelocityParquetStore(str(tmp_path_factory.mktemp("vel2") / "t"))
        first = documents_df.orderBy("timestamp").limit(10)
        rest = documents_df.join(first.select("timestamp"), "timestamp", "left_anti")
        store.write(first)
        n1 = store.tables(spark)[1].count()
        store.write(rest, mode="append")
        _, l1, _ = store.tables(spark)
        assert l1.count() >= n1
        # append must not duplicate dim rows (F4/J8 novelty semantics)
        assert l1.select("l1_id").distinct().count() == l1.count()


class TestVelocity2:
    @pytest.fixture(scope="class")
    def store(self, tmp_path_factory, documents_df):
        from mobilitydatalakebenchmark_spark.operators.velocity2_store import (
            Velocity2ParquetStore,
        )

        store = Velocity2ParquetStore(str(tmp_path_factory.mktemp("v2") / "t"))
        store.write(documents_df)
        return store

    def test_roundtrip(self, spark, store, snapshots):
        for idx in (0, 2, len(snapshots) - 1):
            ts, data = snapshots[idx]
            rows = store.get_document(spark, ts).collect()
            assert len(rows) == 1
            _check_doc(rows[0], ts, data)

    def test_bus_dim_is_smaller_than_vehicle_dim(self, spark, store):
        bus = spark.read.parquet(f"{store.path}/bus")
        vehicle = spark.read.parquet(f"{store.path}/vehicle")
        # the whole point of the second level: many vehicles share a route
        assert bus.count() < vehicle.count()
        # snowflake integrity: every vehicle's bus exists
        from pyspark.sql import functions as F

        dangling = vehicle.join(bus, "bus_id", "left_anti").count()
        assert dangling == 0


class TestTemporal:
    @pytest.fixture(scope="class")
    def store(self, tmp_path_factory, documents_df):
        store = TemporalStore(str(tmp_path_factory.mktemp("tmp") / "t"))
        store.write(documents_df)
        return store

    def test_roundtrip(self, spark, store, snapshots):
        for idx in (0, 20, len(snapshots) - 1):
            ts, data = snapshots[idx]
            rows = store.get_document(spark, ts).collect()
            assert len(rows) == 1
            got = rows[0].asDict(recursive=True)
            # duplicate-uuid snapshots collapse in the temporal model (one
            # sequence row per uuid) — compare distinct-uuid multisets
            want = {
                f["properties"]["uuid"]: f
                for f in data["features"]
            }
            got_feats = {f["properties"]["uuid"]: f for f in got["data"]["features"]}
            assert set(got_feats) == set(want)
            for u, w in want.items():
                g = got_feats[u]
                assert g["properties"]["lineId"] == w["properties"]["lineId"]
                assert g["properties"]["direction"] == w["properties"]["direction"]
                assert g["properties"]["pointId"] == w["properties"]["pointId"]
                assert math.isclose(
                    g["properties"]["distance"], w["properties"]["distance"], rel_tol=1e-6
                )
                for a, b in zip(
                    g["geometry"]["coordinates"], w["geometry"]["coordinates"]
                ):
                    assert math.isclose(a, b, rel_tol=1e-6)

    def test_missing_timestamp_returns_no_rows(self, spark, store):
        # consistent "document absent" signal across all stores
        assert store.get_document(spark, "1999-01-01T00:00:00").count() == 0

    def test_sequences_are_time_sorted(self, spark, store):
        from pyspark.sql import functions as F

        df = store.scan(spark)
        bad = df.filter(
            F.exists(
                F.zip_with(
                    "distance",
                    F.slice("distance", 2, 100000),
                    lambda a, b: a["ts"] > b["ts"],
                ),
                lambda x: x,
            )
        ).count()
        assert bad == 0

    def test_append_batch_merges(self, spark, tmp_path_factory, documents_df):
        store = TemporalStore(str(tmp_path_factory.mktemp("tmp2") / "t"))
        first = documents_df.orderBy("timestamp").limit(10)
        rest = documents_df.join(first.select("timestamp"), "timestamp", "left_anti")
        store.write(first)
        store.append_batch(spark, rest)
        full = TemporalStore(str(tmp_path_factory.mktemp("tmp3") / "t"))
        full.write(documents_df)
        from pyspark.sql import functions as F

        a = store.scan(spark).select("uuid", F.size("distance").alias("n")).orderBy("uuid")
        b = full.scan(spark).select("uuid", F.size("distance").alias("n")).orderBy("uuid")
        assert [r.asDict() for r in a.collect()] == [r.asDict() for r in b.collect()]

    def test_replayed_append_changes_nothing(self, spark, tmp_path_factory, documents_df):
        """Appending the same batch twice gives the sequences of a one-shot
        write: a replayed instant is already held."""
        from pyspark.sql import functions as F

        store = TemporalStore(str(tmp_path_factory.mktemp("tmp4") / "t"))
        first = documents_df.orderBy("timestamp").limit(10)
        rest = documents_df.join(first.select("timestamp"), "timestamp", "left_anti")
        store.write(first)
        store.append_batch(spark, rest)
        store.append_batch(spark, rest)
        full = TemporalStore(str(tmp_path_factory.mktemp("tmp5") / "t"))
        full.write(documents_df)

        def sizes(s):
            seqs = ("positions", "distance", "distanceFromPoint", "id", "pointId")
            df = s.scan(spark).select("uuid", *[F.size(c).alias(c) for c in seqs])
            return [r.asDict() for r in df.orderBy("uuid").collect()]

        assert sizes(store) == sizes(full)

    def test_write_append_merges_per_uuid(self, spark, tmp_path, documents_df):
        """``write(mode="append")`` merges into the stored sequences, one
        row per uuid, like a one-shot write of both batches."""
        from pyspark.sql import functions as F

        first = documents_df.orderBy("timestamp").limit(10)
        rest = documents_df.join(first.select("timestamp"), "timestamp", "left_anti")
        store = TemporalStore(str(tmp_path / "appended"))
        store.write(first)
        store.write(rest, mode="append")
        full = TemporalStore(str(tmp_path / "full"))
        full.write(documents_df)

        def rows(s):
            cols = ("uuid", "timerange", "positions", "distance",
                    "distanceFromPoint", "id", "pointId")
            return [r.asDict(recursive=True)
                    for r in s.scan(spark).select(*cols).orderBy("uuid").collect()]

        got = rows(store)
        assert len(got) == store.scan(spark).select("uuid").distinct().count()
        assert got == rows(full)
        assert not [e for e in os.scandir(tmp_path) if e.name.startswith("appended_")]

    def test_first_append_into_missing_path(self, spark, tmp_path, documents_df):
        store = TemporalStore(str(tmp_path / "t"))
        store.append_batch(spark, documents_df)
        full = TemporalStore(str(tmp_path / "full"))
        full.write(documents_df)
        count = lambda s: s.scan(spark).groupBy("uuid").count().collect()
        assert sorted(count(store)) == sorted(count(full))


class TestDocumentStores:
    def test_parquet_doc_roundtrip(self, spark, tmp_path, documents_df, snapshots):
        store = DocumentParquetStore(str(tmp_path / "docs"))
        store.write(documents_df)
        ts, data = snapshots[7]
        rows = store.get_document(spark, ts).collect()
        assert len(rows) == 1
        _check_doc(rows[0], ts, data)

    def test_gzip_json_roundtrip(self, spark, tmp_path, documents_df, snapshots):
        store = GzipJsonStore(str(tmp_path / "gz"), single_file=True)
        store.write(documents_df)
        import glob

        files = glob.glob(f"{store.path}/part-*.json.gz")
        assert len(files) == 1  # all-in-one semantics (S12)
        ts, data = snapshots[3]
        rows = store.get_document(spark, ts).collect()
        assert len(rows) == 1
        _check_doc(rows[0], ts, data)

    def test_documents_as_json(self, documents_df):
        import json

        out = documents_as_json(documents_df).collect()
        assert len(out) == documents_df.count()
        parsed = json.loads(out[0].json)
        assert parsed["type"] == "FeatureCollection"


class TestStoreErrorNarrowing:
    """r11 verdict nit 3 / ADVICE: the first-batch 'nothing stored yet'
    fallbacks must be NARROW — a genuinely malformed existing store
    raises instead of being silently treated as empty and re-seeded."""

    def test_velocity_append_raises_on_corrupt_dim(
        self, spark, tmp_path_factory, documents_df
    ):
        import pytest as _pytest

        store = VelocityParquetStore(
            str(tmp_path_factory.mktemp("velcorrupt") / "t")
        )
        first = documents_df.orderBy("timestamp").limit(10)
        store.write(first)
        # corrupt the l1 dim: replace its parquet files with garbage bytes
        import glob
        import os

        for f in glob.glob(os.path.join(store._p("l1"), "*.parquet")):
            with open(f, "wb") as fh:
                fh.write(b"not a parquet file")
        with _pytest.raises(Exception):
            store.write(documents_df, mode="append")

    def test_velocity2_append_raises_on_corrupt_dim(
        self, spark, tmp_path_factory, documents_df
    ):
        import glob
        import os

        from mobilitydatalakebenchmark_spark.operators.velocity2_store import (
            Velocity2ParquetStore,
        )

        store = Velocity2ParquetStore(
            str(tmp_path_factory.mktemp("vel2corrupt") / "t")
        )
        store.write(documents_df.orderBy("timestamp").limit(10))
        for f in glob.glob(os.path.join(store._p("vehicle"), "*.parquet")):
            with open(f, "wb") as fh:
                fh.write(b"not a parquet file")
        with pytest.raises(Exception):
            store.write(documents_df, mode="append")

    @pytest.mark.parametrize("kind", ["velocity", "velocity2"])
    def test_first_append_into_missing_path(
        self, spark, tmp_path, documents_df, snapshots, kind
    ):
        import os

        from mobilitydatalakebenchmark_spark.operators.velocity2_store import (
            Velocity2ParquetStore,
        )

        cls = VelocityParquetStore if kind == "velocity" else Velocity2ParquetStore
        store = cls(str(tmp_path / "t"))
        assert not os.path.exists(store.path)
        store.write(documents_df.orderBy("timestamp").limit(10), mode="append")
        ts, data = sorted(snapshots)[3]
        rows = store.get_document(spark, ts).collect()
        assert len(rows) == 1
        _check_doc(rows[0], ts, data)
