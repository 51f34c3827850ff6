"""Delta Lake store variants (S5/S6 append+filtered-scan, J9/W4 MERGE).

Reference: ``stores/delta_lake.py:20-40`` (the one store the reference
already implements on Spark), written for a session with the delta-spark
jars and the two configs of ``delta_session_builder``. Without the jars
every entry point raises ``DeltaUnavailable``.

Without Delta, the same upsert semantics run on plain parquet via the
recompute path (see VelocityParquetStore.write(mode="append") and
TemporalStore.append_batch) — those are the canonical engines; this module
exists for storage-format parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # pragma: no cover - jars absent in the test image
    from delta.tables import DeltaTable  # type: ignore

    HAS_DELTA = True
except Exception:  # ImportError or missing jars
    DeltaTable = None  # type: ignore[assignment]
    HAS_DELTA = False


class DeltaUnavailable(RuntimeError):
    def __init__(self) -> None:
        super().__init__(
            "delta-spark is not installed in this environment; use the "
            "parquet stores (flat/velocity/temporal) which provide the same "
            "semantics via recompute-append."
        )


def delta_session_builder(builder):
    """Apply the two configs Delta needs (reference delta_lake.py:20-29)."""
    return builder.config(
        "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
    ).config(
        "spark.sql.catalog.spark_catalog",
        "org.apache.spark.sql.delta.catalog.DeltaCatalog",
    )


def _require_delta() -> None:
    if not HAS_DELTA:
        raise DeltaUnavailable()


class DeltaDocumentStore:
    """S5/S6: append-mode document log + timestamp-filtered reads."""

    def __init__(self, path: str):
        self.path = path

    def append(self, documents: DataFrame) -> None:
        _require_delta()
        documents.write.format("delta").mode("append").save(self.path)

    def get_document(self, spark: SparkSession, timestamp: str) -> DataFrame:
        _require_delta()
        return (
            spark.read.format("delta")
            .load(self.path)
            .filter(F.col("timestamp") == timestamp)
        )


class DeltaTemporalStore:
    """J9/W4: per-entity instant append as MERGE (matched -> concat new
    instants onto the stored sequences; not matched -> insert)."""

    def __init__(self, path: str):
        self.path = path

    def upsert_batch(self, spark: SparkSession, batch_temporal: DataFrame) -> None:
        _require_delta()
        if not DeltaTable.isDeltaTable(spark, self.path):
            batch_temporal.write.format("delta").save(self.path)
            return
        target = DeltaTable.forPath(spark, self.path)
        seq_cols = ["positions", "distance", "distanceFromPoint", "id", "pointId"]
        set_expr = {
            c: f"array_sort(concat(t.{c}, s.{c}))" for c in seq_cols
        } | {
            "timerange": (
                "named_struct('start', least(t.timerange.start, s.timerange.start),"
                " 'end', greatest(t.timerange.end, s.timerange.end))"
            )
        }
        (
            target.alias("t")
            .merge(batch_temporal.alias("s"), "t.uuid = s.uuid")
            .whenMatchedUpdate(set=set_expr)
            .whenNotMatchedInsertAll()
            .execute()
        )
