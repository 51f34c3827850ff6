"""Session settings every layer inherits from ``session.get_spark``."""

from __future__ import annotations

from mobilitydatalakebenchmark_spark.plans import load_registry
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
