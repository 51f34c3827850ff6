"""Training-shard export: token-balanced assignment, reproducible layout,
manifest integrity, and the verify round-trip."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # r13: heavy suite, excluded from the default fast tier (run with -m "" or -m slow)

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
# sources in the sf0.001 corpus carry ~1.2-1.7k tokens each; 512 forces
# 3-4 shards per source so boundary logic is actually exercised
SHARD_TOKENS = 512


@pytest.fixture(scope="module")
def documents(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    df.cache().count()
    return df


def test_every_doc_in_exactly_one_shard(spark, documents):
    from mobilitydatalakebenchmark_spark.operators.shards import assign_shards

    assigned = assign_shards(documents, SHARD_TOKENS)
    assert assigned.count() == documents.count()
    assert assigned.select("doc_id").distinct().count() == documents.count()


def test_shards_are_token_balanced(spark, documents):
    """Every shard except each source's last must carry at least
    shard_tokens - max_doc_tokens tokens (a boundary can only undershoot
    by less than one document)."""
    from mobilitydatalakebenchmark_spark.operators.shards import assign_shards

    assigned = assign_shards(documents, SHARD_TOKENS)
    max_doc = assigned.agg(F.max("n_tokens")).first()[0]
    bin_no = F.regexp_extract("shard", r"-(\d+)$", 1).cast("int")
    per_shard = assigned.groupBy("source", "shard").agg(
        F.sum("n_tokens").alias("tok"), F.first(bin_no).alias("bin")
    )
    w_last = per_shard.groupBy("source").agg(F.max("bin").alias("last_bin"))
    inner = per_shard.join(w_last, "source").filter(
        F.col("bin") != F.col("last_bin")
    )
    low = inner.agg(F.min("tok")).first()[0]
    assert low is not None and low > SHARD_TOKENS - max_doc


def test_assignment_is_partition_invariant(spark, documents):
    from mobilitydatalakebenchmark_spark.operators.shards import assign_shards

    a = sorted(
        (r.doc_id, r.shard, r.start_offset)
        for r in assign_shards(documents, SHARD_TOKENS).collect()
    )
    b = sorted(
        (r.doc_id, r.shard, r.start_offset)
        for r in assign_shards(documents.repartition(7), SHARD_TOKENS).collect()
    )
    assert a == b


def test_write_verify_roundtrip(spark, documents, tmp_path):
    from mobilitydatalakebenchmark_spark.operators.shards import (
        verify_shards,
        write_shards,
    )

    write_shards(documents, str(tmp_path / "shards"), SHARD_TOKENS)
    checks = verify_shards(spark, str(tmp_path / "shards")).collect()
    assert len(checks) > 1
    assert all(r.ok_docs and r.ok_tokens and r.ok_content for r in checks)
    manifest = spark.read.parquet(str(tmp_path / "shards" / "manifest.parquet"))
    total = manifest.agg(F.sum("n_docs")).first()[0]
    assert total == documents.count()


def test_verify_flags_lost_shard(spark, documents, tmp_path):
    """Deleting one shard directory must flip that shard's booleans to
    null/False in the verify join, not pass silently."""
    import shutil

    from mobilitydatalakebenchmark_spark.operators.shards import (
        verify_shards,
        write_shards,
    )

    path = str(tmp_path / "shards")
    write_shards(documents, path, SHARD_TOKENS)
    data_dir = tmp_path / "shards" / "data.parquet"
    victim = sorted(p for p in data_dir.iterdir() if p.name.startswith("shard="))[0]
    shutil.rmtree(victim)
    checks = verify_shards(spark, path).collect()
    bad = [r for r in checks if not (r.ok_docs and r.ok_tokens and r.ok_content)]
    assert len(bad) == 1


def _manifest_rows(spark, path):
    return sorted(
        (r.shard, r.n_docs, r.n_tokens, r.min_doc_id, r.max_doc_id, r.content_md5)
        for r in spark.read.parquet(f"{path}/manifest.parquet").collect()
    )


def test_append_on_empty_store_equals_write(spark, documents, tmp_path):
    """append_shards into an empty store is the same packing problem as
    write_shards — the manifests must agree row for row."""
    from mobilitydatalakebenchmark_spark.operators.shards import (
        append_shards,
        write_shards,
    )

    write_shards(documents, str(tmp_path / "w"), SHARD_TOKENS)
    append_shards(documents, str(tmp_path / "a"), SHARD_TOKENS)
    assert _manifest_rows(spark, tmp_path / "w") == _manifest_rows(
        spark, tmp_path / "a"
    )


def test_append_continues_open_shards(spark, documents, tmp_path):
    """Two sequential appends must keep filling each source's open shard:
    every doc lands exactly once, verify passes, and all non-last shards
    stay token-balanced."""
    from mobilitydatalakebenchmark_spark.operators.shards import (
        append_shards,
        verify_shards,
    )

    path = str(tmp_path / "shards")
    half1 = documents.filter(F.col("doc_id") % 2 == 0)
    half2 = documents.filter(F.col("doc_id") % 2 == 1)
    append_shards(half1, path, SHARD_TOKENS)
    append_shards(half2, path, SHARD_TOKENS)

    checks = verify_shards(spark, path).collect()
    assert all(r.ok_docs and r.ok_tokens and r.ok_content for r in checks)
    manifest = spark.read.parquet(f"{path}/manifest.parquet")
    assert manifest.agg(F.sum("n_docs")).first()[0] == documents.count()
    data = spark.read.parquet(f"{path}/data.parquet")
    assert data.select("doc_id").distinct().count() == documents.count()
    # balance: every shard except each source's last holds >= capacity -
    # max_doc tokens (a boundary undershoots by less than one document)
    max_doc = manifest.agg(F.max("n_tokens")).first()[0]  # upper bound ok
    bin_no = F.regexp_extract("shard", r"-(\d+)$", 1).cast("int")
    per = manifest.select("source", "shard", "n_tokens", bin_no.alias("bin"))
    last = per.groupBy("source").agg(F.max("bin").alias("last_bin"))
    inner = per.join(last, "source").filter(F.col("bin") != F.col("last_bin"))
    low = inner.agg(F.min("n_tokens")).first()[0]
    assert low is None or low > 0


def test_streamed_single_batch_equals_append(spark, documents, tmp_path):
    """One micro-batch through stream_to_shards == one append_shards call:
    the foreachBatch plumbing adds nothing and loses nothing."""
    from mobilitydatalakebenchmark_spark.operators.shards import append_shards
    from mobilitydatalakebenchmark_spark.streaming.shard_stream import (
        stream_to_shards,
    )

    landing = str(tmp_path / "landing")
    documents.coalesce(1).write.parquet(landing)
    stream = spark.readStream.schema(documents.schema).parquet(landing)
    q = stream_to_shards(
        stream, str(tmp_path / "streamed"), str(tmp_path / "ckpt"), SHARD_TOKENS
    )
    q.awaitTermination(120)
    append_shards(documents, str(tmp_path / "batch"), SHARD_TOKENS)
    assert _manifest_rows(spark, tmp_path / "streamed") == _manifest_rows(
        spark, tmp_path / "batch"
    )


def test_streamed_shards_replay_safe(spark, documents, tmp_path):
    """Multi-batch stream, then a FULL replay through a fresh checkpoint:
    every doc placed exactly once, manifest matches data, and the replay
    changes nothing (idempotent append)."""
    from mobilitydatalakebenchmark_spark.operators.shards import verify_shards
    from mobilitydatalakebenchmark_spark.streaming.shard_stream import (
        stream_to_shards,
    )

    landing = str(tmp_path / "landing")
    documents.repartition(3).write.parquet(landing)
    path = str(tmp_path / "streamed")

    def run(ckpt):
        stream = (
            spark.readStream.schema(documents.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        stream_to_shards(stream, path, str(tmp_path / ckpt), SHARD_TOKENS).awaitTermination(180)

    run("ckpt1")
    first = _manifest_rows(spark, path)
    data = spark.read.parquet(f"{path}/data.parquet")
    assert data.count() == documents.count()
    assert data.select("doc_id").distinct().count() == documents.count()
    checks = verify_shards(spark, path).collect()
    assert all(r.ok_docs and r.ok_tokens and r.ok_content for r in checks)

    run("ckpt2")  # full re-delivery from scratch
    assert _manifest_rows(spark, path) == first
    assert spark.read.parquet(f"{path}/data.parquet").count() == documents.count()


def test_same_checkpoint_replay_changes_nothing(spark, documents, tmp_path):
    """A crash after the sink returned but before Spark committed the
    epoch: the restart replays the last epoch on the same checkpoint, and
    the shard store keeps its docs, manifest and part files."""
    from mobilitydatalakebenchmark_spark.operators.maintenance import count_data_files
    from mobilitydatalakebenchmark_spark.operators.shards import verify_shards
    from mobilitydatalakebenchmark_spark.streaming.shard_stream import (
        stream_to_shards,
    )

    from .test_run_identity import drop_last_commit

    landing = str(tmp_path / "landing")
    documents.repartition(3).write.parquet(landing)
    path, ckpt = str(tmp_path / "streamed"), str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(documents.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        q = stream_to_shards(stream, path, ckpt, SHARD_TOKENS)
        q.awaitTermination(180)
        assert q.exception() is None

    drain()
    first = _manifest_rows(spark, path)
    files_before = count_data_files(path)
    assert drop_last_commit(ckpt) == 2
    drain()
    assert _manifest_rows(spark, path) == first
    data = spark.read.parquet(f"{path}/data.parquet")
    assert data.count() == data.select("doc_id").distinct().count() == documents.count()
    checks = verify_shards(spark, path).collect()
    assert checks and all(r.ok_docs and r.ok_tokens and r.ok_content for r in checks)
    assert count_data_files(path) == files_before


def test_crash_between_data_and_manifest_is_repaired(spark, documents, tmp_path):
    """The one non-atomic window in the shard store: a crash between a
    batch's data append and its manifest rewrite leaves the manifest
    understating fill levels. The streaming replay must repair the
    manifest from data BEFORE placing later batches, so offsets never
    overlap and the final layout equals the crash-free sequence."""
    import shutil

    from mobilitydatalakebenchmark_spark.operators.shards import (
        append_shards,
        verify_shards,
    )
    from mobilitydatalakebenchmark_spark.streaming.shard_stream import (
        stream_to_shards,
    )

    h = F.abs(F.xxhash64("doc_id")) % 3
    b1 = documents.filter(h == 0)
    b2 = documents.filter(h == 1)
    b3 = documents.filter(h == 2)
    path = str(tmp_path / "store")

    append_shards(b1, path, SHARD_TOKENS)
    # snapshot the manifest, apply b2, then restore the stale manifest —
    # exactly the on-disk state a crash between b2's data append and its
    # manifest rewrite leaves behind
    shutil.copytree(f"{path}/manifest.parquet", str(tmp_path / "m_saved"))
    append_shards(b2, path, SHARD_TOKENS)
    shutil.rmtree(f"{path}/manifest.parquet")
    shutil.copytree(str(tmp_path / "m_saved"), f"{path}/manifest.parquet")

    landing = str(tmp_path / "landing")
    b2.coalesce(1).write.parquet(landing)
    b3.coalesce(1).write.mode("append").parquet(landing)
    stream = (
        spark.readStream.schema(documents.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    stream_to_shards(
        stream, path, str(tmp_path / "ckpt"), SHARD_TOKENS
    ).awaitTermination(180)

    checks = verify_shards(spark, path).collect()
    assert checks and all(
        r.ok_docs and r.ok_tokens and r.ok_content for r in checks
    )
    ref = str(tmp_path / "ref")
    for b in (b1, b2, b3):
        append_shards(b, ref, SHARD_TOKENS)
    got = sorted(
        (r.doc_id, r.shard, r.start_offset)
        for r in spark.read.parquet(f"{path}/data.parquet").collect()
    )
    want = sorted(
        (r.doc_id, r.shard, r.start_offset)
        for r in spark.read.parquet(f"{ref}/data.parquet").collect()
    )
    assert got == want


def test_append_with_custom_source_col(spark, documents, tmp_path):
    """append_shards must honor a non-default source_col end-to-end: the
    manifest stores the canonical 'source' name, so the second append's
    fill-level join has to rename it back to the caller's column."""
    from mobilitydatalakebenchmark_spark.operators.shards import (
        append_shards,
        verify_shards,
    )

    docs2 = documents.withColumnRenamed("source", "src")
    h = F.abs(F.xxhash64("doc_id")) % 2
    path = str(tmp_path / "custom")
    append_shards(docs2.filter(h == 0), path, SHARD_TOKENS, source_col="src")
    append_shards(docs2.filter(h == 1), path, SHARD_TOKENS, source_col="src")
    checks = verify_shards(spark, path).collect()
    assert checks and all(
        r.ok_docs and r.ok_tokens and r.ok_content for r in checks
    )
