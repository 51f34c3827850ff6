"""Point reads across every store: which keys have a document, how many
Spark jobs a parse, a read or an append costs, and the files a bucketed
write leaves."""

from __future__ import annotations

import glob
import itertools
import os

import pyarrow.parquet as pq
import pytest

from mobilitydatalakebenchmark_spark.operators.document_store import DocumentParquetStore
from mobilitydatalakebenchmark_spark.operators.encoded_store import (
    CantorParquetStore,
    VelocitySplitParquetStore,
)
from mobilitydatalakebenchmark_spark.operators.flat_store import (
    FlatParquetStore,
    explode_features,
)
from mobilitydatalakebenchmark_spark.operators.temporal_store import TemporalStore
from mobilitydatalakebenchmark_spark.operators.velocity2_store import Velocity2ParquetStore
from mobilitydatalakebenchmark_spark.operators.velocity_store import VelocityParquetStore
from mobilitydatalakebenchmark_spark.sources.geojson import (
    read_snapshot_dir,
    write_snapshot_dir,
)

STORES = {
    "flat": FlatParquetStore,
    "cantor": CantorParquetStore,  # packed
    "velocity_split": VelocitySplitParquetStore,
    "velocity": VelocityParquetStore,
    "velocity2": Velocity2ParquetStore,
    "temporal": TemporalStore,
    "document": DocumentParquetStore,
}
# stores that keep a document for a snapshot with no features
KEEPS_EMPTY = {"velocity", "document"}

_groups = itertools.count()


def _jobs(spark, action) -> int:
    """Spark jobs ``action`` runs, counted through a status-tracker job group."""
    sc = spark.sparkContext
    group = f"store-reads-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _read(spark, store, ts):
    if isinstance(store, FlatParquetStore):
        return store.get_document(ts)
    return store.get_document(spark, ts)


@pytest.fixture(scope="module")
def stores(tmp_path_factory, documents_df):
    root = tmp_path_factory.mktemp("stores")
    built = {}
    for name, cls in STORES.items():
        built[name] = cls(str(root / name))
        built[name].write(documents_df)
    return built


@pytest.mark.parametrize("name", sorted(STORES))
def test_absent_and_empty_keys(spark, stores, snapshots, name):
    store = stores[name]
    assert _read(spark, store, "1999-01-01T00:00:00").count() == 0
    ts_empty, data = snapshots[5]
    assert data["features"] == []
    rows = _read(spark, store, ts_empty).collect()
    if name in KEEPS_EMPTY:
        assert [(r.timestamp, r.data.features) for r in rows] == [(ts_empty, [])]
    else:
        assert rows == []


@pytest.fixture(scope="module")
def batches(documents_df):
    """Two cached batches, so that a count holds only the store's jobs."""
    first = documents_df.orderBy("timestamp").limit(20).cache()
    rest = documents_df.join(first.select("timestamp"), "timestamp", "left_anti").cache()
    first.count(), rest.count()
    yield first, rest
    first.unpersist(), rest.unpersist()


def test_velocity_read_jobs(spark, tmp_path, batches, snapshots):
    """The main hit is re-nested with the observations, not joined."""
    store = VelocityParquetStore(str(tmp_path / "velocity"))
    for batch in batches:
        store.write(batch, mode="append")
    for ts, _ in (snapshots[2], snapshots[5], ("1999-01-01T00:00:00", None)):
        assert _jobs(spark, _read(spark, store, ts).collect) <= 3, ts


def test_temporal_append_jobs(spark, tmp_path, batches):
    """Stored rows and the batch's partial sequences merge in one aggregate."""
    first, rest = batches
    store = TemporalStore(str(tmp_path / "temporal"))
    store.write(first)
    assert _jobs(spark, lambda: store.append_batch(spark, rest)) <= 2


def test_parse_jobs(spark, tmp_path, snapshots):
    """The snapshot scan runs one job: no global sort, whose range
    partitioning samples the input first."""
    write_snapshot_dir(snapshots, str(tmp_path))
    docs = read_snapshot_dir(spark, str(tmp_path))
    assert _jobs(spark, docs.write.format("noop").mode("overwrite").save) == 1


# the bucketed table of each store and the column naming its entity
BUCKETED = {
    "flat": (FlatParquetStore, "", "uuid"),
    "cantor": (CantorParquetStore, "", "uuid"),
    "velocity_split": (VelocitySplitParquetStore, "obs", "uuid"),
    "velocity": (VelocityParquetStore, "l2", "l1_id"),
    "velocity2": (Velocity2ParquetStore, "obs", "vehicle_id"),
}


def _bucket_files(table: str) -> dict[str, set[str]]:
    return {
        os.path.basename(d): set(glob.glob(f"{d}/*.parquet"))
        for d in glob.glob(f"{table}/ts_bucket=*")
    }


@pytest.mark.parametrize("name", sorted(BUCKETED))
def test_one_sorted_file_per_bucket(tmp_path, documents_df, snapshots, name):
    """Each write, the first and an append, adds one part file to every
    hour bucket it touches, sorted on (entity, timestamp)."""
    cls, table, entity = BUCKETED[name]
    store = cls(str(tmp_path / name))
    path = os.path.join(store.path, table)
    stamps = [ts for ts, _ in snapshots]
    halves = [documents_df.filter(documents_df.timestamp.isin(stamps[i::2])) for i in (0, 1)]
    for half, mode in zip(halves, ("overwrite", "append")):
        before = _bucket_files(path)
        store.write(half, mode=mode)
        after = _bucket_files(path)
        assert len(after) == 2  # the generated snapshots span two hours
        for bucket, files in after.items():
            added = files - before.get(bucket, set())
            assert len(added) == 1, (mode, bucket, sorted(added))
            rows = pq.read_table(added.pop(), columns=[entity, "timestamp"]).to_pylist()
            keys = [(r[entity], r["timestamp"]) for r in rows]
            assert keys == sorted(keys), (mode, bucket)


def test_big_bucket_splits_into_sorted_files(spark, tmp_path, documents_df):
    """A bucket past Spark's advisory partition size is written by more
    than one task, each file still sorted, and the rows are unchanged."""
    store = FlatParquetStore(str(tmp_path / "flat"))
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "16k")
    try:
        store.write(documents_df)
    finally:
        spark.conf.unset(key)
    files = _bucket_files(store.path)
    assert max(map(len, files.values())) > 1, files
    for path in set().union(*files.values()):
        rows = pq.read_table(path, columns=["uuid", "timestamp"]).to_pylist()
        keys = [(r["uuid"], r["timestamp"]) for r in rows]
        assert keys == sorted(keys), path
    want = explode_features(documents_df)
    got = store.scan().select(*want.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_velocity_split_write_jobs(spark, tmp_path, batches):
    """The zone map is computed once, per document: the doc write is one
    job, and the obs write is write_bucketed's shuffle and write."""
    first, rest = batches
    store = VelocitySplitParquetStore(str(tmp_path / "velocity_split"))
    assert _jobs(spark, lambda: store.write(first)) <= 3
    assert _jobs(spark, lambda: store.write(rest, mode="append")) <= 3


# the small tables of the normalized stores: one row per snapshot, or
# bounded by the fleet
SMALL = {
    "velocity": (VelocityParquetStore, ("main", "l1")),
    "velocity2": (Velocity2ParquetStore, ("bus", "vehicle")),
}


@pytest.mark.parametrize("name", sorted(SMALL))
def test_small_tables_one_file_per_write(tmp_path, batches, name):
    """A write and an append each add at most one part file to every
    small table, whatever the batch's partitioning."""
    cls, tables = SMALL[name]
    store = cls(str(tmp_path / name))
    for batch, mode in zip(batches, ("overwrite", "append")):
        before = {t: set(glob.glob(f"{store.path}/{t}/*.parquet")) for t in tables}
        store.write(batch.repartition(4), mode=mode)
        for t in tables:
            added = set(glob.glob(f"{store.path}/{t}/*.parquet")) - before[t]
            assert len(added) <= 1, (mode, t, sorted(added))


def test_read_table_infers_each_file_version_once(spark, tmp_path):
    """A second read of an unchanged driver table runs no Spark job: its
    inferred schema is kept. A rewritten file, here with one column more,
    is inferred again, so a kept schema never outlives its file."""
    import pyarrow as pa

    from mobilitydatalakebenchmark_spark.session import read_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), path)
    read_table(spark, str(tmp_path), "t")
    assert _jobs(spark, lambda: read_table(spark, str(tmp_path), "t")) == 0
    pq.write_table(pa.table({"k": [3], "v": ["c"], "w": [0.5]}), path)
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "v", "w"]
    assert [tuple(r) for r in df.collect()] == [(3, "c", 0.5)]
