"""Document-oriented pipelines — whole-snapshot-per-row strategies.

Reference strategies covered (SURVEY.md §0 table):
- FileStore / MongoStore: one document per key, fetched by key
  (``file_store.py``, ``mongo_store.py:19-23``) -> nested struct rows in
  parquet, point lookup by timestamp (S9).
- GZipFileStore (S11): per-snapshot gzip JSON -> JSON sink with gzip codec.
- AllInOneGZipFileStore (S12): one gzip file, linear scan -> coalesce(1).
- MongoTimeSeriesStore (S10): exploded rows + (ts, uuid) index -> the flat
  store partitioned by bucket (that pipeline lives in flat_store.py); this
  module keeps the nested form.

Scale posture: a document table is a key-value layout; parquet keeps the
nested struct columnar (features.* are struck down into leaf columns), so
point lookups still prune row groups on timestamp min/max stats. The gzip
single-file variant intentionally reproduces the reference's linear-scan
trade-off (it benchmarks compression, not access).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import DOCUMENT_SCHEMA
from .store import Store


class DocumentParquetStore(Store):
    """S9: one nested document per row, keyed by timestamp."""

    schemas = {"": DOCUMENT_SCHEMA}

    def write(self, documents: DataFrame, mode: str = "overwrite") -> None:
        documents.write.mode(mode).parquet(self.path)

    def get_document(self, spark: SparkSession, timestamp: str) -> DataFrame:
        # timestamp equality prunes parquet row groups via min/max stats
        return self._read(spark).filter(F.col("timestamp") == timestamp)


class GzipJsonStore(Store):
    """S11/S12: gzip JSON sink. ``single_file=True`` reproduces the
    all-in-one variant (one file, linear scan on read)."""

    def __init__(self, path: str, single_file: bool = False):
        super().__init__(path)
        self.single_file = single_file

    def write(self, documents: DataFrame, mode: str = "overwrite") -> None:
        df = documents.coalesce(1) if self.single_file else documents
        df.write.mode(mode).option("compression", "gzip").json(self.path)

    def get_document(self, spark: SparkSession, timestamp: str) -> DataFrame:
        return (
            spark.read.schema(DOCUMENT_SCHEMA)
            .json(self.path)
            .filter(F.col("timestamp") == timestamp)
        )


def documents_as_json(documents: DataFrame) -> DataFrame:
    """P3/P9 inverse surface: (timestamp, json_text) — the exact payload a
    document DB would store (``benchmark.py:21-25`` UUID-safe encoding is
    free here: uuids are already strings)."""
    return documents.select("timestamp", F.to_json("data").alias("json"))
