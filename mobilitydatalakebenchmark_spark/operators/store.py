"""The one core of every lake store (reference contract:
``stores/base_store.py:4-22``).

A store is a root ``path`` holding the tables it declares in ``schemas``
(table name -> read schema; ``""`` names the root itself). The core owns
what every store does with those tables:

- ``_p``: a table's path;
- ``_read``: the declared-schema read of a table, which first finishes
  a ``replace_dir`` swap a crash cut short (``recover_dir``), so no
  store reads a table a crashed compaction left renamed aside;
- ``novel``: the rows of a batch whose key the stored table does not
  hold yet, the novelty anti-join of every idempotent append;
- ``total_size``: bytes on disk (S15).

Writes stay with each store: their layouts differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..sources.size import dir_size
from .maintenance import exists, recover_dir


class Store:
    schemas: dict[str, StructType] = {}

    def __init__(self, path: str):
        self.path = path

    def _p(self, table: str = "") -> str:
        return f"{self.path}/{table}" if table else self.path

    def _read(self, spark: SparkSession, table: str = "") -> DataFrame:
        recover_dir(spark, self._p(table))
        return spark.read.schema(self.schemas[table]).parquet(self._p(table))

    def novel(self, rows: DataFrame, key: str, table: str = "") -> DataFrame:
        """``rows`` whose ``key`` the stored ``table`` does not hold yet
        (all of them before the first write): an executor-side left-anti
        join, never a driver-side key list."""
        spark = rows.sparkSession
        recover_dir(spark, self._p(table))
        if not exists(spark, self._p(table)):
            return rows
        return rows.join(self._read(spark, table).select(key), key, "left_anti")

    def total_size(self) -> int:
        return dir_size(self.path)
