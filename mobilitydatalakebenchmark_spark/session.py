"""SparkSession factory.

Local testing runs on ``local[N]`` (single JVM); the configuration is chosen
so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition
  counts self-tune at any scale factor.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE coalesces from a higher initial number.
- Session timezone pinned to UTC so results compare bit-for-bit with the
  DuckDB oracle (duckdb timestamps are UTC-naive).
- Arrow enabled for pandas interchange (vectorized Pandas UDF path).
- Generated-code cache sized to the lake's query working set. Spark
  compiles every whole-stage-codegen stage, projection, predicate and
  ordering with Janino and caches the class by its source text, in
  ``spark.sql.codegen.cache.maxEntries`` entries (default 100). When a
  workload's distinct classes outnumber the cache, each pass evicts and
  recompiles the same classes, and the JVM loads and JIT-compiles each
  one again. Measured working sets: a perfbench ``lake_scan`` pass about
  250 classes, the eight mobility gates on sf0.001 about 150, an ingest
  cycle about 55. At 1024 each shape compiles once per JVM. To see how
  many classes a pass compiled, read
  ``org.apache.spark.metrics.source.CodegenMetrics
  .METRIC_COMPILATION_TIME().getCount()`` before and after it.
- One Parquet writer for every store: zstd with v2 data pages. Spark's
  default is snappy with v1 pages; v2 pages let the writer pick the delta
  encodings (``DELTA_BINARY_PACKED`` for integers, ``DELTA_BYTE_ARRAY``
  for strings without a dictionary) and zstd packs the pages tighter.
  Every store inherits it, so none sets a codec of its own; the gzip JSON
  store keeps gzip, the paper's gzip strategy. Measured on perfbench, ten
  seeds each, medians: ``bytes_per_input_byte`` 0.1118 -> 0.0808 (-28 %)
  on ``lake_ingest`` and 0.0787 -> 0.0558 (-29 %) on ``lake_scan``, with
  write and read CPU inside the run-to-run spread. Spark's vectorized
  reader and DuckDB 1.0 read these files.
- A 256 MB JIT code cache for the driver JVM. A JVM held to the first-tier
  compiler (``-XX:TieredStopAtLevel=1``, as perfbench runs it) reserves
  only 48 MB, and a ``lake_scan`` pass's compiled code reaches about
  47 MB; the JVM then flushes some 11k compiled methods and the next
  passes spend 6.5-8.6 s recompiling them instead of about 1 s. The flag
  goes in ``spark.driver.defaultJavaOptions``, which Spark puts in front of
  ``spark.driver.extraJavaOptions``, so a caller's own JVM options keep it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "mobilitydatalakebenchmark_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Scale posture: every knob here is either scale-invariant (AQE, UTC,
    Arrow, codegen cache, Parquet writer, JIT code cache) or derived from
    the machine (cores); nothing assumes the local test data size.

    The codegen cache size follows how many query shapes run, not how
    much data they read. 1024 is about four times the largest working set
    measured (a ``lake_scan`` pass, ~250 classes); 256 would sit at the
    edge. It is a static conf, so it can only be set here, before the
    JVM's first session; ``extra_conf`` overrides it like any other key.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the driver's events table is parquet TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert (see plans.t)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # compile each generated class once per JVM (see the module doc)
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # one Parquet writer for every store (see the module doc)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.hadoop.parquet.writer.version", "v2")
        .config("spark.driver.defaultJavaOptions", "-XX:ReservedCodeCacheSize=256m")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Below this size a parquet file is typically a single row group, so the
# scan cannot parallelize no matter how small the split size is.
_SMALL_SCAN_BYTES = 64 * 1024 * 1024


def local_df(spark: SparkSession, rows: list, schema: str):
    """Small driver-local DataFrame via the pandas/Arrow interchange.

    The plain python-list ``createDataFrame`` path executes its local
    relation roughly 10x slower PER ACTION on this stack (measured
    2.7-4.1 s vs 0.2-0.4 s for a one-row manifest write) — it pickles
    through the legacy parallelize path, while a pandas input rides
    Arrow. Every hot-path site (per-commit manifests, per-epoch stream
    state, per-query centroid tables) goes through here; ``rows`` is a
    list of tuples and ``schema`` a DDL string whose names are taken
    column-wise."""
    import pandas as pd
    from pyspark.sql import types as T

    # parse names through Spark's own DDL parser — a naive split(",")
    # breaks on any type carrying a comma (decimal(18,2), map<k,v>,
    # struct<...>) and silently misaligns the pandas columns
    names = T._parse_datatype_string(schema).fieldNames()
    pdf = pd.DataFrame(rows, columns=names)
    return spark.createDataFrame(pdf, schema)


def read_table(spark: SparkSession, sf_dir: str, name: str, heavy: bool = False):
    """Read one driver test table with the engine's normalizations applied
    (events.parquet stores TIMESTAMP(NANOS): read nanos-as-long — runtime-
    settable, so an externally-built session works — and rebuild micros via
    integer division).

    Small-file parallelism rescue (``heavy=True``): the driver's test
    tables are single row-group files, so the scan is one task regardless
    of split size and every per-row-heavy pipeline (shingles, minhash,
    per-vector kernels) runs on one core until its first shuffle. Callers
    whose pipeline is dominated by that pre-shuffle per-row work opt in
    with ``heavy=True``: the table is round-robin repartitioned to the
    session's core count right after the scan — filters still push down
    through the repartition. It is opt-in, NOT table-keyed, because for a
    plain scan->agg pipeline the extra exchange (full text columns) costs
    more than the single-task scan it rescues (measured +20-35% on the
    sf0.1 text gates in round 3). At production scale (multi-row-group /
    multi-file tables over the size cutoff) the branch never triggers."""
    import os as _os

    from pyspark.sql import functions as F

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Newer driver generations store ts as TIMESTAMP(isAdjustedToUTC=false),
    # which Spark 4 reads as TIMESTAMP_NTZ — a type that supports neither
    # cast("long") nor unix_micros(). The session timezone is pinned UTC, so
    # casting NTZ -> TIMESTAMP preserves every value bit-for-bit and keeps
    # DuckDB-oracle parity. Applied to any NTZ column so all tables and both
    # data generations (nanos-as-bigint and NTZ-micros) read identically.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    if heavy:
        try:
            size = (
                _os.path.getsize(path)
                if _os.path.isfile(path)
                else sum(
                    _os.path.getsize(_os.path.join(root, f))
                    for root, _, files in _os.walk(path)
                    for f in files
                )
            )
        except OSError:
            size = _SMALL_SCAN_BYTES
        if size < _SMALL_SCAN_BYTES:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df
