"""Training-shard export — the terminal stage of the data pipeline.

After filter -> dedup -> split -> pack, a trainer wants (a) the corpus
laid out as size-balanced shard files it can stream independently, and
(b) a manifest it can trust without re-scanning the data. ``write_shards``
produces both:

    <path>/data.parquet/shard=<n>/...   one directory per shard
    <path>/manifest.parquet             one row per shard: n_docs,
                                        n_tokens, min/max doc id, md5 of
                                        the sorted doc-id list

Shard assignment reuses the packing placement (pack_sequences): docs are
laid end-to-end in deterministic md5(id) order within each source shard
key, and a shard boundary falls every ``shard_tokens`` tokens — so shard
sizes are balanced by TOKENS (what the trainer's step cost follows), not
by document count, and the layout is reproducible bit-for-bit across
runs, partitionings and engines (pure hash order, no RNG, no timestamps).

Scale posture: one window per source key for the running offset (state
never crosses keys), then a partitionBy("shard") write — Spark's dynamic
partition writer streams each shard to its own directory; no shard ever
has to fit in memory. The manifest is a groupBy over the same columns —
one extra shuffle of (shard, n_tokens) short rows. The content hash uses
``md5(concat sorted ids)`` via a sort-within-group collect_list, bounded
by the ids of one shard; at extreme shard sizes swap for the commutative
xor-of-md5s (same guarantee, no list) — noted inline.

Manifest writes swap through ``maintenance.replace_dir``: a reader sees
the previous manifest or the new one, never a torn or missing one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .maintenance import exists, recover_dir, replace_dir


def _content_md5(id_col: str):
    """Order-canonical content fingerprint: md5 over the sorted id list.
    Bounded by one shard's ids; for shards too large even for that, use
    bit_xor(md5 per id) — commutative, no list needed."""
    return F.md5(
        F.concat_ws(
            ",", F.sort_array(F.collect_list(F.col(id_col).cast("string")))
        )
    )


def _manifest_rows(df: DataFrame, source_col: str, id_col: str) -> DataFrame:
    """One manifest row per shard from placed data rows. The manifest's
    source column is always stored under the canonical name 'source'
    regardless of the caller's ``source_col`` (renamed at join sites)."""
    return df.groupBy("shard").agg(
        F.first(source_col).alias("source"),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min(id_col).alias("min_doc_id"),
        F.max(id_col).alias("max_doc_id"),
        _content_md5(id_col).alias("content_md5"),
    )


def _read_manifest(spark, path: str) -> DataFrame | None:
    """The committed manifest, or None before the first one."""
    manifest = f"{path}/manifest.parquet"
    recover_dir(spark, manifest)
    return spark.read.parquet(manifest) if exists(spark, manifest) else None


def _write_manifest(new_manifest: DataFrame, path: str) -> None:
    # the plan may read the live manifest: it stays until the swap
    replace_dir(
        new_manifest.sparkSession,
        f"{path}/manifest.parquet",
        new_manifest.coalesce(1).write.mode("overwrite").parquet,
    )


def assign_shards(
    docs: DataFrame,
    shard_tokens: int = 4096,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-balanced shard id per document: global shard = (source key,
    start_offset // shard_tokens) densified into an integer via the
    source's stable ordering. A doc is assigned to the shard its FIRST
    token lands in (start_bin), matching pack_sequences semantics."""
    from .text_analysis import pack_sequences

    placed = pack_sequences(
        docs,
        capacity=shard_tokens,
        shard_col=source_col,
        id_col=id_col,
        text_col=text_col,
    )
    return placed.select(
        source_col,
        id_col,
        "n_tokens",
        "pack_order",
        "start_offset",
        F.concat_ws(
            "-", F.col(source_col), F.col("start_bin").cast("string")
        ).alias("shard"),
    )


def write_shards(
    docs: DataFrame,
    path: str,
    shard_tokens: int = 4096,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Write token-balanced shard directories plus a per-shard manifest.

    The assigned table feeds two actions (the partitioned data write and
    the manifest aggregate); localCheckpoint materializes the packing
    window + text join once instead of executing the whole upstream plan
    twice. The manifest therefore records the INTENDED content —
    verify_shards then proves the written files match it, which is what
    makes a truncated or lost write detectable."""
    assigned = (
        assign_shards(docs, shard_tokens, source_col, id_col, text_col)
        .join(docs.select(id_col, text_col), id_col)
        .localCheckpoint(eager=False)
    )
    (
        assigned.repartition("shard")
        .sortWithinPartitions("pack_order")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(f"{path}/data.parquet")
    )
    _write_manifest(_manifest_rows(assigned, source_col, id_col), path)


def append_shards(
    docs: DataFrame,
    path: str,
    shard_tokens: int = 4096,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental shard export: place a batch of NEW documents after each
    source's current fill level and update the manifest — the arrival path
    for a living corpus (a full ``write_shards`` repacks everything; this
    touches only the batch plus the shards it lands in).

    Placement: per source, the batch is packed in deterministic md5(id)
    order (the ``pack_sequences`` layout) and laid down starting at the
    source's persisted total-token offset — so each source's LAST OPEN
    shard is filled before a new one is cut, and shard boundaries keep
    falling every ``shard_tokens`` tokens of the source's cumulative
    stream. Appending batches B1 then B2 therefore produces the same
    layout as streaming them through ``stream_to_shards`` in that order
    (pinned by test); it intentionally differs from repacking B1∪B2 in
    one pass, which would interleave the union's hash order.

    Manifest maintenance mirrors ``streaming/rollup_stream.py``: only the
    TOUCHED shards are re-derived (partition-pruned read of just those
    shard directories — the content md5 is not mergeable, so touched
    shards recompute from data); untouched manifest rows are carried
    over; the small manifest is swapped in last by ``replace_dir``, which
    also makes a crashed append detectable by ``verify_shards``."""
    spark = docs.sparkSession
    from .text_analysis import pack_sequences

    prev = None
    manifest = _read_manifest(spark, path)
    if manifest is not None:
        # fill level keyed under the CALLER's source_col (the manifest
        # stores the canonical 'source') so the placement join below
        # works for any source_col
        prev = manifest.groupBy(
            F.col("source").alias(source_col)
        ).agg(F.sum("n_tokens").alias("_prev_tokens"))
    placed = pack_sequences(
        docs,
        capacity=shard_tokens,
        shard_col=source_col,
        id_col=id_col,
        text_col=text_col,
    )
    if prev is not None:
        placed = placed.join(F.broadcast(prev), source_col, "left").withColumn(
            "start_offset",
            (
                F.coalesce(F.col("_prev_tokens"), F.lit(0))
                + F.col("start_offset")
            ).cast("long"),
        )
    assigned = (
        placed.withColumn(
            "start_bin", (F.col("start_offset") / shard_tokens).cast("long")
        )
        .select(
            source_col,
            id_col,
            "n_tokens",
            "pack_order",
            "start_offset",
            F.concat_ws(
                "-", F.col(source_col), F.col("start_bin").cast("string")
            ).alias("shard"),
        )
        .join(docs.select(id_col, text_col), id_col)
        .localCheckpoint(eager=False)
    )
    (
        assigned.repartition("shard")
        .sortWithinPartitions("start_offset")
        .write.mode("append")
        .partitionBy("shard")
        .parquet(f"{path}/data.parquet")
    )
    # touched-shard set as a broadcast DataFrame, never a driver list: a
    # backlog replay can touch backlog/shard_tokens shards, and an isin
    # of that many literals breaks plan compilation long before memory.
    # The semi-join on the partition column still prunes directories via
    # dynamic partition pruning.
    touched = assigned.select("shard").distinct()
    recomputed = _manifest_rows(
        spark.read.parquet(f"{path}/data.parquet").join(
            F.broadcast(touched), "shard", "left_semi"
        ),
        source_col,
        id_col,
    )
    if manifest is not None:
        new_manifest = manifest.join(
            F.broadcast(touched), "shard", "left_anti"
        ).unionByName(recomputed)
    else:
        new_manifest = recomputed
    _write_manifest(new_manifest, path)


def repair_manifest(
    spark,
    path: str,
    ids: DataFrame | None = None,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> None:
    """Re-derive manifest rows from the WRITTEN data for the shards
    containing ``ids`` (or every shard when ``ids`` is None) and rewrite
    the manifest. This heals the one non-atomic window in the shard
    store: a crash between ``append_shards``' data append and its
    manifest rewrite leaves the manifest understating per-source fill
    levels, which would place the next batch at overlapping offsets and
    silently break the token-balanced layout. The data directory is the
    write-ahead artifact, so recomputing from it is always correct; the
    streaming sink calls this on replay whenever it detects the batch
    was (partially) already written."""
    if not exists(spark, f"{path}/data.parquet"):
        return  # nothing written yet -> nothing to repair
    data = spark.read.parquet(f"{path}/data.parquet")
    if ids is not None:
        touched = (
            data.join(
                F.broadcast(ids.select(id_col).distinct()), id_col, "left_semi"
            )
            .select("shard")
            .distinct()
        )
    else:
        touched = data.select("shard").distinct()
    recomputed = _manifest_rows(
        data.join(F.broadcast(touched), "shard", "left_semi"),
        source_col,
        id_col,
    )
    new_manifest = recomputed
    manifest = _read_manifest(spark, path)
    if manifest is not None:
        new_manifest = manifest.join(
            F.broadcast(touched), "shard", "left_anti"
        ).unionByName(recomputed)
    _write_manifest(new_manifest, path)


def verify_shards(
    spark,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Re-derive the manifest from the written shard data and join it
    against the stored manifest — one row per shard with booleans; any
    False means the written files do not match what the manifest claims
    (truncated write, lost shard directory, post-hoc tampering)."""
    from .text_analysis import token_count

    data = spark.read.parquet(f"{path}/data.parquet")
    manifest = f"{path}/manifest.parquet"
    recover_dir(spark, manifest)
    stored = spark.read.parquet(manifest)
    derived = (
        data.groupBy("shard")
        .agg(
            F.count("*").alias("d_n_docs"),
            F.sum(token_count(F.col(text_col))).cast("long").alias("d_n_tokens"),
            _content_md5(id_col).alias("d_content_md5"),
        )
    )
    return (
        stored.join(derived, "shard", "full")
        .select(
            "shard",
            (F.col("n_docs") == F.col("d_n_docs")).alias("ok_docs"),
            (F.col("n_tokens") == F.col("d_n_tokens")).alias("ok_tokens"),
            (F.col("content_md5") == F.col("d_content_md5")).alias("ok_content"),
        )
        .orderBy("shard")
    )
