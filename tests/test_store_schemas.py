"""Schema drift guard: the read schema each store declares (schemas.py)
must equal the schema parquet infers from what the store wrote, up to
nullability. A declared schema that drifts from the writer would read
wrong types or NULL columns instead of failing."""

from __future__ import annotations

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
}


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
    write_snapshot_dir(sorted(snapshots)[:8], f"{root}/landing")
    query = stream_to_flat_store(
        read_snapshot_stream(spark, f"{root}/landing"),
        f"{root}/stream_flat",
        f"{root}/stream_checkpoint",
    )
    assert query.awaitTermination(300) and query.exception() is None
    return root


@pytest.mark.parametrize("table", list(TABLES))
def test_declared_schema_matches_written(spark, lake, table):
    written = spark.read.parquet(f"{lake}/{table}").schema
    # simpleString carries names, order and types but not nullability
    assert TABLES[table].simpleString() == written.simpleString()
