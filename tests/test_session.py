"""Session settings every layer inherits from ``session.get_spark``."""

from __future__ import annotations

import glob

import pytest

from mobilitydatalakebenchmark_spark.operators.document_store import DocumentParquetStore
from mobilitydatalakebenchmark_spark.operators.flat_store import FlatParquetStore
from mobilitydatalakebenchmark_spark.operators.temporal_store import TemporalStore
from mobilitydatalakebenchmark_spark.operators.velocity_store import VelocityParquetStore
from mobilitydatalakebenchmark_spark.plans import load_registry
from mobilitydatalakebenchmark_spark.sources.geojson import generate_snapshots, snapshots_to_df
from tests.conftest import SF_SMOKE

# the eight plans gates of perfbench's lake_scan pass
GATES = (
    "trajectory_trip_segments",
    "trajectory_stop_detection",
    "co_location_contacts",
    "od_matrix_trips",
    "mobility_radius_of_gyration",
    "w3_asof_lookup",
    "a1_entity_sequences",
    "w1_tumbling_hour",
)


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_the_gates_working_set(spark):
    """A second run of the same queries compiles nothing: the generated-code
    cache holds every class the gates use (about 150 on sf0.001, more than
    Spark's default of 100 entries)."""
    registry = load_registry()

    def run_gates():
        for name in GATES:
            registry[name].spark(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    run_gates()
    before = _compiles(spark)
    run_gates()
    assert _compiles(spark) - before == 0
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"


def test_driver_jvm_reserves_a_256mb_code_cache(spark):
    """The code-cache flag reaches the driver JVM's command line."""
    args = spark._jvm.java.lang.ProcessHandle.current().info().arguments().get()
    assert "-XX:ReservedCodeCacheSize=256m" in list(args)


LAKE_TABLES = ("flat", "velocity/main", "velocity/l1", "velocity/l2", "temporal", "document")


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """A small lake, one directory per Parquet table: the flat columns, the
    velocity star (main, l1, and l2 bucketed by hour), the temporal store's
    arrays of structs and the document store's nested struct. The stream
    crosses an hour, so the bucketed tables hold two partitions."""
    root = tmp_path_factory.mktemp("lake")
    snaps = generate_snapshots(n_snapshots=12, n_vehicles=10, start="2024-03-21T13:58:00")
    docs = snapshots_to_df(spark, snaps)
    FlatParquetStore(f"{root}/flat").write(docs)
    VelocityParquetStore(f"{root}/velocity").write(docs)
    TemporalStore(f"{root}/temporal").write(docs)
    DocumentParquetStore(f"{root}/document").write(docs)
    return {name: f"{root}/{name}" for name in LAKE_TABLES}


@pytest.mark.parametrize("table", LAKE_TABLES)
def test_every_table_is_zstd_with_v2_encodings(lake, table):
    """Every column chunk of every file is zstd, and none carries the v1
    writer's PLAIN_DICTIONARY encoding (v2 pages write RLE_DICTIONARY)."""
    import pyarrow.parquet as pq

    files = glob.glob(f"{lake[table]}/**/*.parquet", recursive=True)
    assert files
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            for c in range(group.num_columns):
                chunk = group.column(c)
                assert chunk.compression == "ZSTD", (path, chunk.path_in_schema)
                assert "PLAIN_DICTIONARY" not in chunk.encodings, (path, chunk.path_in_schema)


def test_duckdb_reads_every_table_as_spark_does(spark, lake):
    """DuckDB, which perfbench's checks use, sees zstd column chunks and
    decodes every table to the same rows as Spark: equal row counts, and
    equal counts of distinct whole rows, which decodes every column."""
    import duckdb

    con = duckdb.connect(config={"threads": 2})
    try:
        for name, path in lake.items():
            files = f"'{path}/**/*.parquet'"
            codecs = con.execute(
                f"SELECT DISTINCT compression FROM parquet_metadata({files})"
            ).fetchall()
            assert codecs == [("ZSTD",)], name
            got = con.execute(
                "SELECT count(*), count(DISTINCT t) FROM "
                f"read_parquet({files}, hive_partitioning = true) t"
            ).fetchone()
            df = spark.read.parquet(path)
            assert got == (df.count(), df.distinct().count()), name
    finally:
        con.close()
