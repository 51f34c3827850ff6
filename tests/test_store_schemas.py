"""Schema drift guard: the read schema each store declares (schemas.py,
or ``run_identity.stamped_schema`` for the streaming merge tables) must
equal the schema parquet infers from what the store wrote, up to
nullability. A declared schema that drifts from the writer would read
wrong types or NULL columns instead of failing."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from mobilitydatalakebenchmark_spark import schemas
from mobilitydatalakebenchmark_spark.operators.document_store import DocumentParquetStore
from mobilitydatalakebenchmark_spark.operators.encoded_store import (
    CantorParquetStore,
    VelocitySplitParquetStore,
)
from mobilitydatalakebenchmark_spark.operators.flat_store import FlatParquetStore
from mobilitydatalakebenchmark_spark.operators.temporal_store import TemporalStore
from mobilitydatalakebenchmark_spark.operators.velocity2_store import (
    Velocity2ParquetStore,
)
from mobilitydatalakebenchmark_spark.operators.velocity_store import (
    VelocityParquetStore,
)
from mobilitydatalakebenchmark_spark.sources.geojson import write_snapshot_dir
from mobilitydatalakebenchmark_spark.streaming import (
    countmin_stream,
    intervals,
    rollup_stream,
    run_identity,
    skyline_stream,
)
from mobilitydatalakebenchmark_spark.streaming.ingest import (
    read_snapshot_stream,
    stream_to_flat_store,
)

# table (relative to the fixture root) -> declared read schema
TABLES = {
    "flat": schemas.FLAT_STORE_SCHEMA,
    "velocity/main": schemas.VELOCITY_MAIN_SCHEMA,
    "velocity/l1": schemas.VELOCITY_L1_SCHEMA,
    "velocity/l2": schemas.VELOCITY_L2_SCHEMA,
    "velocity2/bus": schemas.VELOCITY2_BUS_SCHEMA,
    "velocity2/vehicle": schemas.VELOCITY2_VEHICLE_SCHEMA,
    "velocity2/obs": schemas.VELOCITY2_OBS_SCHEMA,
    "temporal": schemas.TEMPORAL_SCHEMA,
    "temporal_appended": schemas.TEMPORAL_SCHEMA,
    "stream_flat": schemas.FLAT_STORE_SCHEMA,
    "document": schemas.DOCUMENT_SCHEMA,
    "cantor": schemas.cantor_schema(packed=True),
    "cantor_unpacked": schemas.cantor_schema(packed=False),
    "velocity_split/doc": schemas.VELOCITY_SPLIT_DOC_SCHEMA,
    "velocity_split/obs": schemas.VELOCITY_SPLIT_OBS_SCHEMA,
    "countmin": schemas.COUNTMIN_SCHEMA,
}
# streaming merge tables: their declared schema is taken from the rows
# each merge_partitions call was given
MERGE_TABLES = ("rollup", "frontier", "islands")


@pytest.fixture(scope="module")
def merge_lake(spark, tmp_path_factory):
    """Two epochs into each merge table (the second reads the first back
    with its declared schema); returns the root and the schema each
    merge declared."""
    root = tmp_path_factory.mktemp("merged")
    declared = {}
    merge = run_identity.merge_partitions

    def spy(rows, table_path, bucket_col, combine, txn):
        declared[os.path.basename(table_path)] = run_identity.stamped_schema(
            rows.schema, bucket_col
        )
        merge(rows, table_path, bucket_col, combine, txn)

    t0 = dt.datetime(2024, 4, 1, 10, 0, 0)
    events = spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=25 * i), f"k{i % 3}", float(i), i, i + 5)
         for i in range(8)],
        "ts timestamp, k string, value double, start_us long, end_us long",
    )
    with pytest.MonkeyPatch.context() as mp:
        for module in (rollup_stream, skyline_stream, intervals):
            mp.setattr(module, "merge_partitions", spy)
        for epoch in (0, 1):
            txn = ("run", epoch)
            rollup_stream.upsert_rollup_batch(
                events, f"{root}/rollup", "ts", "value", keys=("k",), txn=txn,
                distinct_col="k", quantiles=True,
            )
            skyline_stream.upsert_frontier_batch(
                events, f"{root}/frontier", "k", "start_us", "value", "end_us",
                txn=txn,
            )
            intervals.upsert_islands_batch(events, f"{root}/islands", "k", txn=txn)
    return root, declared


@pytest.fixture(scope="module")
def lake(spark, snapshots, documents_df, tmp_path_factory):
    root = tmp_path_factory.mktemp("declared")
    docs = documents_df.orderBy("timestamp").limit(8)
    FlatParquetStore(f"{root}/flat").write(docs)
    VelocityParquetStore(f"{root}/velocity").write(docs)
    Velocity2ParquetStore(f"{root}/velocity2").write(docs)
    TemporalStore(f"{root}/temporal").write(docs)
    appended = TemporalStore(f"{root}/temporal_appended")
    appended.write(docs.limit(4))
    appended.append_batch(spark, docs)
    DocumentParquetStore(f"{root}/document").write(docs)
    CantorParquetStore(f"{root}/cantor").write(docs)
    CantorParquetStore(f"{root}/cantor_unpacked", packed=False).write(docs)
    VelocitySplitParquetStore(f"{root}/velocity_split").write(docs)
    countmin_stream.upsert_countmin_batch(
        spark.range(50), f"{root}/countmin", "id", txn=("run", 0)
    )
    write_snapshot_dir(sorted(snapshots)[:8], f"{root}/landing")
    query = stream_to_flat_store(
        read_snapshot_stream(spark, f"{root}/landing"),
        f"{root}/stream_flat",
        f"{root}/stream_checkpoint",
    )
    assert query.awaitTermination(300) and query.exception() is None
    return root


@pytest.mark.parametrize("table", list(TABLES) + list(MERGE_TABLES))
def test_declared_schema_matches_written(spark, request, table):
    if table in MERGE_TABLES:
        root, declared = request.getfixturevalue("merge_lake")
        schema = declared[table]
    else:
        root, schema = request.getfixturevalue("lake"), TABLES[table]
    written = spark.read.parquet(f"{root}/{table}").schema
    # simpleString carries names, order and types but not nullability
    assert schema.simpleString() == written.simpleString()
