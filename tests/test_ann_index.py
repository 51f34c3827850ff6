"""PQIndexStore lifecycle: build -> persist -> load -> probe.

The persisted probe must be bit-identical to the in-plan operator chain
(pq_codebook -> pq_encode -> pq_adc_topk) so the knn_pq_adc_seeded gate's
oracle also certifies the store; plus meta round-trip, codebook reuse on
a grown corpus, and the trained-codebook path.
"""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # r13: heavy suite, excluded from the default fast tier (run with -m "" or -m slow)

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
GEOM = dict(m_subspaces=4, dsub=16, n_codewords=8)


@pytest.fixture(scope="module")
def embeddings(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    df.cache().count()
    return df


@pytest.fixture()
def probes(embeddings):
    return embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )


def _rows(df):
    return sorted(
        (r.probe_id, r.vec_id, r.adc_d2, r.rk)
        for r in df.select("probe_id", "vec_id", "adc_d2", "rk").collect()
    )


def test_persisted_probe_equals_in_plan(spark, embeddings, probes, tmp_path):
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore
    from mobilitydatalakebenchmark_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    store = PQIndexStore(str(tmp_path / "pq"), **GEOM)
    store.build(embeddings)
    loaded = PQIndexStore.load(spark, str(tmp_path / "pq"))
    assert (loaded.m_subspaces, loaded.dsub, loaded.n_codewords) == (4, 16, 8)

    cb = pq_codebook(embeddings, **GEOM)
    fresh = pq_adc_topk(
        pq_encode(embeddings, cb, 4, 16), cb, probes, k=5, m_subspaces=4, dsub=16
    )
    assert _rows(loaded.topk(probes, k=5)) == _rows(fresh)


def test_meta_records_corpus_size(spark, embeddings, tmp_path):
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore

    store = PQIndexStore(str(tmp_path / "pq"), **GEOM)
    store.build(embeddings)
    meta = store.meta(spark)
    assert meta["n_vectors"] == embeddings.count()
    assert meta["train_iters"] == 0


def test_codes_store_ints_only(spark, embeddings, tmp_path):
    """The searchable corpus must be code rows only — no raw vectors
    (that's the 64x compression the index exists for)."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore

    store = PQIndexStore(str(tmp_path / "pq"), **GEOM)
    store.build(embeddings)
    codes = spark.read.parquet(str(tmp_path / "pq" / "codes.parquet"))
    assert set(codes.columns) == {"vec_id", "m", "codeword_id"}
    assert not any("array" in t for _, t in codes.dtypes)
    assert codes.count() == embeddings.count() * 4


def test_reuse_codebook_on_grown_corpus(spark, embeddings, probes, tmp_path):
    """Re-encoding a grown corpus against the persisted codebook must keep
    the codebook bytes identical and index the new vectors."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore

    half = embeddings.filter(F.col("vec_id") % 2 == 0)
    store = PQIndexStore(str(tmp_path / "pq"), **GEOM)
    store.build(half)
    cb_before = sorted(
        (r.m, r.codeword_id, tuple(r.cvec))
        for r in spark.read.parquet(str(tmp_path / "pq" / "codebook.parquet")).collect()
    )
    store.build(embeddings, reuse_codebook=True)
    cb_after = sorted(
        (r.m, r.codeword_id, tuple(r.cvec))
        for r in spark.read.parquet(str(tmp_path / "pq" / "codebook.parquet")).collect()
    )
    assert cb_before == cb_after
    assert store.meta(spark)["n_vectors"] == embeddings.count()
    out = store.topk(probes, k=5)
    assert out.groupBy("probe_id").count().agg(F.min("count")).first()[0] == 5


def test_trained_index_reduces_quantization_error(spark, embeddings, tmp_path):
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore
    from mobilitydatalakebenchmark_spark.operators.similarity import (
        pq_quantization_error,
    )

    seeded = PQIndexStore(str(tmp_path / "pq0"), **GEOM)
    seeded.build(embeddings, train_iters=0)
    trained = PQIndexStore(str(tmp_path / "pq2"), **GEOM)
    trained.build(embeddings, train_iters=2)
    err0 = pq_quantization_error(
        embeddings, seeded._read(spark, "codebook"), 4, 16
    )
    err2 = pq_quantization_error(
        embeddings, trained._read(spark, "codebook"), 4, 16
    )
    assert err2 < err0


# ---------------------------------------------------------------------------
# IVFIndexStore
# ---------------------------------------------------------------------------


def test_ivf_persisted_probe_matches_in_memory(spark, embeddings, probes, tmp_path):
    """Probing the persisted index must equal ivf_topk over the in-memory
    index built with the same seed/lloyd parameters."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import IVFIndexStore
    from mobilitydatalakebenchmark_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
    )

    store = IVFIndexStore(str(tmp_path / "ivf"), n_centroids=8)
    store.build(embeddings, lloyd_iters=1)
    loaded = IVFIndexStore.load(spark, str(tmp_path / "ivf"))
    got = sorted(
        (r.probe_id, r.vec_id, r.rk)
        for r in loaded.topk(probes, k=5, nprobe=2).collect()
    )
    indexed, cents = ivf_index(embeddings, n_centroids=8, lloyd_iters=1)
    want = sorted(
        (r.probe_id, r.vec_id, r.rk)
        for r in ivf_topk(indexed, cents, probes, k=5, nprobe=2).collect()
    )
    assert got == want
    assert len(got) == 3 * 5


def test_ivf_probe_prunes_partitions(spark, embeddings, probes, tmp_path):
    """The probe plan must dynamic-partition-prune the lists scan — only
    the routed centroid partitions may be read. This is the store's whole
    reason to exist; assert it from the physical plan."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import IVFIndexStore

    store = IVFIndexStore(str(tmp_path / "ivf"), n_centroids=8)
    store.build(embeddings, lloyd_iters=0)
    df = store.topk(probes, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_ivf_lists_cover_corpus_disjointly(spark, embeddings, tmp_path):
    from mobilitydatalakebenchmark_spark.operators.ann_index import IVFIndexStore

    store = IVFIndexStore(str(tmp_path / "ivf"), n_centroids=8)
    store.build(embeddings)
    lists = spark.read.parquet(str(tmp_path / "ivf" / "lists.parquet"))
    assert lists.count() == embeddings.count()
    assert lists.select("vec_id").distinct().count() == embeddings.count()
    assert store.meta(spark)["n_vectors"] == embeddings.count()


def test_external_probes_can_retrieve_colliding_id(spark, embeddings, tmp_path):
    """exclude_self=False: an external probe whose id collides with a
    corpus id must still retrieve that corpus vector. With the default
    (corpus-probe convention) the colliding row is dropped."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore

    store = PQIndexStore(str(tmp_path / "pq"), **GEOM)
    store.build(embeddings)
    # external probe: id 0 collides with corpus vec_id 0, vector IS vec 0
    probe = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    with_self = store.topk(probe, k=3, exclude_self=False)
    ids = [r.vec_id for r in with_self.collect()]
    assert 0 in ids  # its own (distance-0) row is retrievable
    without = store.topk(probe, k=3)  # default drops it
    assert 0 not in [r.vec_id for r in without.collect()]


def test_reuse_codebook_refuses_geometry_mismatch(spark, embeddings, tmp_path):
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore

    PQIndexStore(str(tmp_path / "pq"), **GEOM).build(embeddings)
    wrong = PQIndexStore(str(tmp_path / "pq"), m_subspaces=8, dsub=8)
    with pytest.raises(ValueError, match="geometry"):
        wrong.build(embeddings, reuse_codebook=True)


def test_reuse_codebook_preserves_train_provenance(spark, embeddings, tmp_path):
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore

    store = PQIndexStore(str(tmp_path / "pq"), **GEOM)
    store.build(embeddings, train_iters=2)
    store.build(embeddings, reuse_codebook=True)  # codes-only rebuild
    assert store.meta(spark)["train_iters"] == 2


def test_append_equals_full_rebuild(spark, embeddings, probes, tmp_path):
    """build(half) + append(other half) must answer probes identically to
    build(full): the frozen codebook makes encoding per-vector
    deterministic, so the union of code rows is the same set."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore

    half_a = embeddings.filter(F.col("vec_id") % 2 == 0)
    half_b = embeddings.filter(F.col("vec_id") % 2 == 1)

    inc = PQIndexStore(str(tmp_path / "inc"), **GEOM)
    inc.build(half_a)
    inc.append(half_b)

    full = PQIndexStore(str(tmp_path / "full"), **GEOM)
    # same codebook seeds: build full from the SAME seed corpus (half_a's
    # codebook) to isolate the append path — copy codebook via reuse
    full.build(half_a)
    full.build(embeddings, reuse_codebook=True)

    assert inc.meta(spark)["n_vectors"] == embeddings.count()
    assert _rows(inc.topk(probes, k=5)) == _rows(full.topk(probes, k=5))


def test_append_refuses_geometry_mismatch(spark, embeddings, tmp_path):
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore

    PQIndexStore(str(tmp_path / "pq"), **GEOM).build(embeddings)
    wrong = PQIndexStore(str(tmp_path / "pq"), m_subspaces=8, dsub=8)
    with pytest.raises(ValueError, match="geometry"):
        wrong.append(embeddings)


def test_streaming_append_matches_batch_rebuild(spark, embeddings, probes, tmp_path):
    """File-stream the second half of the corpus in multiple micro-batches
    into a pre-built index; probes must answer identically to the batch
    build(half)+append(rest) path (itself pinned equal to a full rebuild)."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore
    from mobilitydatalakebenchmark_spark.streaming.ingest import stream_to_ann_index

    half_a = embeddings.filter(F.col("vec_id") % 2 == 0)
    half_b = embeddings.filter(F.col("vec_id") % 2 == 1)

    # landing dir with several files so availableNow runs >1 micro-batch
    landing = str(tmp_path / "landing")
    half_b.repartition(3).write.parquet(landing)

    streamed = PQIndexStore(str(tmp_path / "stream_idx"), **GEOM)
    streamed.build(half_a)
    stream = (
        spark.readStream.schema(half_b.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    q = stream_to_ann_index(stream, streamed, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    batch = PQIndexStore(str(tmp_path / "batch_idx"), **GEOM)
    batch.build(half_a)
    batch.append(half_b)

    assert streamed.meta(spark)["n_vectors"] == embeddings.count()
    assert _rows(streamed.topk(probes, k=5)) == _rows(batch.topk(probes, k=5))


def test_ivf_append_assigns_to_nearest_frozen_centroid(
    spark, embeddings, tmp_path
):
    """Appended vectors must land in the list of their nearest PERSISTED
    centroid (frozen artifact — not re-trained), meta must advance, and a
    probe drawn from the appended half must find itself top-1 (its own
    list is always its rank-1 route)."""
    import numpy as np

    from mobilitydatalakebenchmark_spark.operators.ann_index import IVFIndexStore

    half_a = embeddings.filter(F.col("vec_id") % 2 == 0)
    half_b = embeddings.filter(F.col("vec_id") % 2 == 1)
    store = IVFIndexStore(str(tmp_path / "ivf"), n_centroids=8)
    store.build(half_a, lloyd_iters=1)
    cents = {
        r.centroid_id: np.array(r.centroid_vec)
        for r in spark.read.parquet(str(tmp_path / "ivf" / "centroids.parquet")).collect()
    }
    store.append(half_b)

    lists = spark.read.parquet(str(tmp_path / "ivf" / "lists.parquet"))
    assert lists.count() == embeddings.count()
    assert store.meta(spark)["n_vectors"] == embeddings.count()

    # spot-check 20 appended vectors against an independent numpy argmax
    sample = lists.join(
        half_b.select("vec_id"), "vec_id"
    ).limit(20).collect()
    for r in sample:
        v = np.array(r.embedding, dtype="float64")
        sims = {
            cid: float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
            for cid, c in cents.items()
        }
        best = max(sims, key=lambda c: (sims[c], -c))
        assert abs(sims[r.centroid_id] - sims[best]) < 1e-9

    # a probe from the appended half finds itself top-1 at nprobe=1
    probe = half_b.limit(1).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    top = store.topk(probe, k=1, nprobe=1, exclude_self=False).first()
    assert top.vec_id == probe.first().probe_id


def test_streaming_append_is_replay_safe(spark, embeddings, probes, tmp_path):
    """Re-running the stream with a FRESH checkpoint re-delivers every
    epoch; the id anti-join must drop the already-appended vectors
    instead of double-appending code rows (which would double adc_d2 for
    those vectors and corrupt every subsequent ranking)."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore
    from mobilitydatalakebenchmark_spark.streaming.ingest import stream_to_ann_index

    half_a = embeddings.filter(F.col("vec_id") % 2 == 0)
    half_b = embeddings.filter(F.col("vec_id") % 2 == 1)
    landing = str(tmp_path / "landing")
    half_b.repartition(2).write.parquet(landing)

    store = PQIndexStore(str(tmp_path / "idx"), **GEOM)
    store.build(half_a)
    stream = lambda: (
        spark.readStream.schema(half_b.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    stream_to_ann_index(stream(), store, str(tmp_path / "ckpt1")).awaitTermination(120)
    before = _rows(store.topk(probes, k=5))
    n_before = store.meta(spark)["n_vectors"]

    # replay: fresh checkpoint => epochs 0..n re-delivered from scratch
    stream_to_ann_index(stream(), store, str(tmp_path / "ckpt2")).awaitTermination(120)
    assert store.meta(spark)["n_vectors"] == n_before
    assert _rows(store.topk(probes, k=5)) == before


def test_same_checkpoint_replay_changes_nothing(spark, embeddings, probes, tmp_path):
    """A crash after the sink returned but before Spark committed the
    epoch: the restart replays the last epoch on the same checkpoint, and
    the id anti-join leaves the index as it was, with no new part file."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore
    from mobilitydatalakebenchmark_spark.operators.maintenance import count_data_files
    from mobilitydatalakebenchmark_spark.streaming.ingest import stream_to_ann_index

    from .test_run_identity import drop_last_commit

    half_a = embeddings.filter(F.col("vec_id") % 2 == 0)
    half_b = embeddings.filter(F.col("vec_id") % 2 == 1)
    landing = str(tmp_path / "landing")
    half_b.repartition(2).write.parquet(landing)

    store = PQIndexStore(str(tmp_path / "idx"), **GEOM)
    store.build(half_a)
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(half_b.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        q = stream_to_ann_index(stream, store, ckpt)
        q.awaitTermination(120)
        assert q.exception() is None

    drain()
    before = _rows(store.topk(probes, k=5))
    files_before = count_data_files(store.path)
    assert store.meta(spark)["n_vectors"] == embeddings.count()
    assert drop_last_commit(ckpt) == 1
    drain()
    assert store.meta(spark)["n_vectors"] == embeddings.count()
    assert store.indexed_ids(spark).count() == embeddings.count()
    assert _rows(store.topk(probes, k=5)) == before
    assert count_data_files(store.path) == files_before


def test_streaming_append_into_ivf_index(spark, embeddings, tmp_path):
    """The streaming append helper is store-agnostic: streaming the second
    half into a pre-built IVF index must land every vector in its
    nearest-frozen-centroid list with meta advanced — same contract as the
    PQ path."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import IVFIndexStore
    from mobilitydatalakebenchmark_spark.streaming.ingest import stream_to_ann_index

    half_a = embeddings.filter(F.col("vec_id") % 2 == 0)
    half_b = embeddings.filter(F.col("vec_id") % 2 == 1)
    landing = str(tmp_path / "landing")
    half_b.repartition(2).write.parquet(landing)

    store = IVFIndexStore(str(tmp_path / "ivf"), n_centroids=8)
    store.build(half_a, lloyd_iters=1)
    stream = (
        spark.readStream.schema(half_b.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    stream_to_ann_index(stream, store, str(tmp_path / "ckpt")).awaitTermination(120)

    lists = spark.read.parquet(str(tmp_path / "ivf" / "lists.parquet"))
    assert lists.count() == embeddings.count()
    assert store.meta(spark)["n_vectors"] == embeddings.count()
    probe = half_b.limit(1).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    top = store.topk(probe, k=1, nprobe=1, exclude_self=False).first()
    assert top.vec_id == probe.first().probe_id


def test_streaming_append_survives_crash_window(spark, embeddings, probes, tmp_path):
    """The ADVICE-flagged crash shape: an epoch's append COMMITS but the
    offset commit does not (crash between the two), so the restarted
    query re-delivers the same rows. Simulated by appending the streamed
    half directly (the 'committed append') and then streaming the same
    data with a checkpoint that has no state: the idempotence anti-join
    must drop every already-present id instead of double-appending."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore
    from mobilitydatalakebenchmark_spark.streaming.ingest import stream_to_ann_index

    half_a = embeddings.filter(F.col("vec_id") % 2 == 0)
    half_b = embeddings.filter(F.col("vec_id") % 2 == 1)
    landing = str(tmp_path / "landing")
    half_b.repartition(2).write.parquet(landing)

    store = PQIndexStore(str(tmp_path / "idx"), **GEOM)
    store.build(half_a)
    store.append(half_b)  # the epoch whose state write was lost
    before = _rows(store.topk(probes, k=5))
    n_before = store.meta(spark)["n_vectors"]

    stream = (
        spark.readStream.schema(half_b.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    stream_to_ann_index(stream, store, str(tmp_path / "ckpt")).awaitTermination(120)
    assert store.meta(spark)["n_vectors"] == n_before
    assert _rows(store.topk(probes, k=5)) == before


def test_new_stream_on_existing_store_keeps_new_data(spark, embeddings, tmp_path):
    """The second ADVICE-flagged shape: epoch ids are checkpoint-scoped,
    but a store-scoped high-water mark would make a NEW stream (fresh
    checkpoint, genuinely new data) restart at epoch 0 and silently DROP
    its first batches. State is keyed by checkpoint now: stream thirds b
    and c through two different checkpoints — both must land in full."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import PQIndexStore
    from mobilitydatalakebenchmark_spark.streaming.ingest import stream_to_ann_index

    third_a = embeddings.filter(F.col("vec_id") % 3 == 0)
    third_b = embeddings.filter(F.col("vec_id") % 3 == 1)
    third_c = embeddings.filter(F.col("vec_id") % 3 == 2)
    store = PQIndexStore(str(tmp_path / "idx"), **GEOM)
    store.build(third_a)

    for name, part in (("b", third_b), ("c", third_c)):
        landing = str(tmp_path / f"landing_{name}")
        part.repartition(2).write.parquet(landing)
        stream = (
            spark.readStream.schema(part.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        stream_to_ann_index(
            stream, store, str(tmp_path / f"ckpt_{name}")
        ).awaitTermination(120)

    assert store.meta(spark)["n_vectors"] == embeddings.count()
    ids = {r.vec_id for r in store.indexed_ids(spark).collect()}
    assert ids == {r.vec_id for r in embeddings.select("vec_id").collect()}


# ---------------------------------------------------------------------------
# Round-7: persisted IVF+PQ residual index (IVFADC / IVFADC+R)
# ---------------------------------------------------------------------------

IVFPQ_GEOM = dict(n_centroids=8, m_subspaces=8, dsub=8, n_codewords=16)


def test_ivfpq_persisted_probe_equals_in_plan(
    spark, embeddings, probes, tmp_path
):
    from mobilitydatalakebenchmark_spark.operators.ann_index import (
        IVFPQIndexStore,
    )
    from mobilitydatalakebenchmark_spark.operators.similarity import (
        ivfpq_adc_topk,
        ivfpq_index,
        ivfpq_refine_topk,
    )

    store = IVFPQIndexStore(str(tmp_path / "ivfpq"), **IVFPQ_GEOM)
    store.build(embeddings, pq_lloyd=1)
    loaded = IVFPQIndexStore.load(spark, str(tmp_path / "ivfpq"))
    assert loaded.n_codewords == 16 and loaded.m_subspaces == 8

    codes, cents, cb = ivfpq_index(
        embeddings, coarse_lloyd=1, pq_lloyd=1, **IVFPQ_GEOM
    )
    fresh_adc = ivfpq_adc_topk(
        codes, cents, cb, probes, k=5, nprobe=4, m_subspaces=8, dsub=8
    )
    got_adc = loaded.topk(probes, k=5, nprobe=4)
    assert _rows(got_adc) == _rows(fresh_adc)

    fresh_ref = ivfpq_refine_topk(
        codes, cents, cb, probes, embeddings, k=5, nprobe=4, shortlist=20,
        m_subspaces=8, dsub=8,
    )
    got_ref = loaded.topk(
        probes, k=5, nprobe=4, shortlist=20, corpus=embeddings
    )
    rows = lambda df: sorted(  # noqa: E731
        (r.probe_id, r.vec_id, round(r.cos_sim, 9), r.rk)
        for r in df.collect()
    )
    assert rows(got_ref) == rows(fresh_ref)


def test_ivfpq_probe_prunes_partitions(spark, embeddings, probes, tmp_path):
    """The routed LUT join against the centroid-partitioned codes must
    dynamic-partition-prune — sub-linear probe I/O over 8-byte codes is
    the store's reason to exist."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import (
        IVFPQIndexStore,
    )

    store = IVFPQIndexStore(str(tmp_path / "ivfpq"), **IVFPQ_GEOM)
    store.build(embeddings, pq_lloyd=0)
    df = store.topk(probes, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_ivfpq_append_encodes_against_frozen_artifacts(
    spark, embeddings, tmp_path
):
    """Appended codes must equal what a build-time encode of those
    vectors would produce: same centroid assignment, same residual
    codes (the artifacts are frozen, so this is exact)."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import (
        IVFPQIndexStore,
    )

    a = embeddings.filter(F.col("vec_id") % 2 == 0)
    b = embeddings.filter(F.col("vec_id") % 2 == 1)
    grown = IVFPQIndexStore(str(tmp_path / "grown"), **IVFPQ_GEOM)
    grown.build(a, pq_lloyd=1)
    n_a = grown.meta(spark)["n_vectors"]
    grown.append(b)

    assert grown.meta(spark)["n_vectors"] == embeddings.count()
    assert grown.indexed_ids(spark).count() == embeddings.count()
    # re-encoding b through append on a COPY must be deterministic
    again = IVFPQIndexStore(str(tmp_path / "again"), **IVFPQ_GEOM)
    again.build(a, pq_lloyd=1)
    again.append(b)
    c1 = sorted(
        tuple(r)
        for r in spark.read.parquet(
            str(tmp_path / "grown" / "codes.parquet")
        ).collect()
    )
    c2 = sorted(
        tuple(r)
        for r in spark.read.parquet(
            str(tmp_path / "again" / "codes.parquet")
        ).collect()
    )
    assert c1 == c2 and n_a * 2 < len(c1)


def test_ivfpq_streaming_append_is_idempotent(
    spark, embeddings, probes, tmp_path
):
    """The generic streaming sink composes with the new store: arrivals
    indexed per micro-batch, full re-delivery through a fresh checkpoint
    changes nothing."""
    from mobilitydatalakebenchmark_spark.operators.ann_index import (
        IVFPQIndexStore,
    )
    from mobilitydatalakebenchmark_spark.streaming.ingest import (
        stream_to_ann_index,
    )

    a = embeddings.filter(F.col("vec_id") % 2 == 0)
    b = embeddings.filter(F.col("vec_id") % 2 == 1)
    store = IVFPQIndexStore(str(tmp_path / "s"), **IVFPQ_GEOM)
    store.build(a, pq_lloyd=1)

    landing = str(tmp_path / "landing")
    b.coalesce(1).write.parquet(landing)

    def run(ckpt):
        stream = spark.readStream.schema(b.schema).parquet(landing)
        stream_to_ann_index(
            stream, store, str(tmp_path / ckpt)
        ).awaitTermination(120)

    run("ckpt1")
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(
            str(tmp_path / "s" / "codes.parquet")
        ).collect()
    )
    assert store.indexed_ids(spark).count() == embeddings.count()
    run("ckpt2")  # full re-delivery
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(
            str(tmp_path / "s" / "codes.parquet")
        ).collect()
    )
    assert got == want


class TestFilteredProbe:
    """topk(where=...) — filtered ANN over metadata stored in the lists."""

    def _build(self, embeddings, tmp_path):
        from mobilitydatalakebenchmark_spark.operators.ann_index import (
            IVFIndexStore,
        )

        store = IVFIndexStore(str(tmp_path / "ivf"), n_centroids=8)
        store.build(embeddings, lloyd_iters=0, meta_cols=("label",))
        return store

    def test_lists_carry_metadata(self, spark, embeddings, tmp_path):
        store = self._build(embeddings, tmp_path)
        lists = spark.read.parquet(f"{store.path}/lists.parquet")
        assert "label" in lists.columns
        got = {(r.vec_id, r.label) for r in lists.collect()}
        want = {(r.vec_id, r.label) for r in embeddings.collect()}
        assert got == want

    def test_filtered_results_match_predicate(
        self, spark, embeddings, probes, tmp_path
    ):
        store = self._build(embeddings, tmp_path)
        out = store.topk(
            probes, k=5, nprobe=3, where=F.col("label") == 3
        ).collect()
        assert out  # the predicate keeps ~1/10 of every list
        labels = {
            r.vec_id: r.label for r in embeddings.select("vec_id", "label").collect()
        }
        assert all(labels[r.vec_id] == 3 for r in out)

    def test_full_scan_filtered_probe_is_exact(
        self, spark, embeddings, probes, tmp_path
    ):
        # nprobe = n_centroids scans every list, so filtered IVF must
        # equal brute-force top-k over the label-filtered corpus exactly
        from mobilitydatalakebenchmark_spark.operators.similarity import (
            brute_force_topk,
        )

        store = self._build(embeddings, tmp_path)
        got = {
            (r.probe_id, r.rk): r.vec_id
            for r in store.topk(
                probes, k=5, nprobe=8, where=F.col("label") == 3
            ).collect()
        }
        want = {
            (r.probe_id, r.rk): r.vec_id
            for r in brute_force_topk(
                embeddings.filter(F.col("label") == 3), probes, k=5
            ).collect()
        }
        assert got == want

    def test_post_filter_loses_matches_prefilter_keeps_k(
        self, spark, embeddings, probes, tmp_path
    ):
        # the reason filtered ANN exists: post-filtering an unfiltered
        # top-k returns fewer matching rows than filter-then-rank
        store = self._build(embeddings, tmp_path)
        pre = store.topk(probes, k=5, nprobe=8, where=F.col("label") == 3)
        post = store.topk(probes, k=5, nprobe=8).filter(F.col("label") == 3)
        assert post.count() < pre.count()

    def test_append_carries_metadata(self, spark, embeddings, tmp_path):
        store = self._build(embeddings, tmp_path)
        extra = embeddings.limit(5).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            "embedding",
            F.lit(3).alias("label"),
        )
        store.append(extra, meta_cols=("label",))
        lists = spark.read.parquet(f"{store.path}/lists.parquet")
        appended = lists.filter(F.col("vec_id") >= 100000)
        assert appended.count() == 5
        assert all(r.label == 3 for r in appended.collect())
