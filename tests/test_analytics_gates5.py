"""Round-9 session depth gates, batch 5: Markov next-event accuracy,
kNN-graph reciprocity, Flesch readability, source overlap matrix —
pinned against hand-computed references on constructed tables."""

from __future__ import annotations

import datetime

from mobilitydatalakebenchmark_spark.plans import load_registry


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/sf/events.parquet")
    return str(tmp_path / "sf")


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/sf/documents.parquet")
    return str(tmp_path / "sf")


class TestMarkovAccuracy:
    def test_argmax_fit_and_heldout_score(self, spark, tmp_path):
        base = datetime.datetime(2024, 1, 10)
        late = datetime.datetime(2024, 1, 20)
        rows = []
        eid = 0

        def seq(uid, t0, types):
            nonlocal eid
            for i, et in enumerate(types):
                eid += 1
                rows.append(
                    (eid, t0 + datetime.timedelta(minutes=i), uid, et, 1.0)
                )

        # training transitions (before Jan 16): view->click twice,
        # view->error once => model: view -> click
        seq(1, base, ["view", "click", "view", "click"])
        seq(2, base, ["view", "error"])
        # test transitions (after Jan 16): view->click, view->error
        seq(3, late, ["view", "click", "view", "error"])
        sf = _write_events(spark, tmp_path, rows)
        q = load_registry()["markov_accuracy"].spark
        got = {r.prev: r for r in q(spark, sf).collect()}
        v = got["view"]
        assert v.pred == "click"
        # user 3's chain: view->click, click->view, view->error
        assert v.n_test == 2 and v.n_correct == 1
        assert float(v.accuracy) == 0.5
        assert got["click"].pred == "view" and got["click"].n_correct == 1

    def test_tie_breaks_lexicographic(self, spark, tmp_path):
        base = datetime.datetime(2024, 1, 10)
        late = datetime.datetime(2024, 1, 20)
        rows = [
            (1, base, 1, "view", 1.0),
            (2, base + datetime.timedelta(minutes=1), 1, "click", 1.0),
            (3, base, 2, "view", 1.0),
            (4, base + datetime.timedelta(minutes=1), 2, "error", 1.0),
            (5, late, 3, "view", 1.0),
            (6, late + datetime.timedelta(minutes=1), 3, "click", 1.0),
        ]
        sf = _write_events(spark, tmp_path, rows)
        q = load_registry()["markov_accuracy"].spark
        got = {r.prev: r for r in q(spark, sf).collect()}
        # view->click and view->error tie at 1: 'click' < 'error'
        assert got["view"].pred == "click"


class TestKnnGraphReciprocity:
    def test_mutual_pairs_by_construction(self, spark, tmp_path):
        # sampled nodes are vec_id % 20 == 0; build 40 ids so nodes are
        # {0, 20}. With two nodes, each one's k=3 list is just the other
        # -> 2 directed edges, both mutual, reciprocity 1.
        rows = []
        for vid in range(40):
            vec = [1.0 if i % 2 else -1.0 for i in range(64)]
            if vid == 20:
                vec[0] = 1.0  # one differing sign bit vs node 0
            rows.append((vid, vec, 0))
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(f"{tmp_path}/sf/embeddings.parquet")
        q = load_registry()["knn_graph_reciprocity"].spark
        got = q(spark, str(tmp_path / "sf")).collect()[0]
        assert got.n_nodes == 2
        assert got.n_edges == 2 and got.n_mutual == 2
        assert float(got.reciprocity) == 1.0
        assert got.max_in_degree == 1

    def test_edges_capped_at_k(self, spark, tmp_path):
        import random

        rng = random.Random(5)
        rows = [
            (vid, [rng.choice([-1.0, 1.0]) for _ in range(64)], 0)
            for vid in range(0, 200)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(f"{tmp_path}/sf/embeddings.parquet")
        q = load_registry()["knn_graph_reciprocity"].spark
        got = q(spark, str(tmp_path / "sf")).collect()[0]
        assert got.n_nodes == 10  # ids 0,20,...,180
        assert got.n_edges == 30  # k=3 per node
        assert 0 <= got.n_mutual <= 30
        assert got.n_mutual % 2 == 0  # mutual edges come in pairs


class TestFleschReadability:
    def test_formula_by_hand(self, spark, tmp_path):
        text = "The cat sat. The dog ran!"
        # words=6 (split on space), sentence-end marks: 2, vowel groups:
        # e,a,a,e,o,a -> 6
        sf = _write_docs(spark, tmp_path, [(0, text, "A", len(text))])
        q = load_registry()["text_readability_flesch"].spark
        got = q(spark, sf).collect()[0]
        assert got.n_words == 6
        assert got.n_sentences == 2
        assert got.n_syll == 6
        want = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
        assert abs(float(got.flesch) - want) < 1e-6

    def test_no_punctuation_clamps_sentences(self, spark, tmp_path):
        sf = _write_docs(spark, tmp_path, [(0, "no marks here", "A", 13)])
        q = load_registry()["text_readability_flesch"].spark
        got = q(spark, sf).collect()[0]
        assert got.n_sentences == 1  # greatest(0, 1)

    def test_vowel_groups_not_vowels(self, spark, tmp_path):
        sf = _write_docs(spark, tmp_path, [(0, "queue aa b", "A", 10)])
        q = load_registry()["text_readability_flesch"].spark
        got = q(spark, sf).collect()[0]
        # "queue" -> 'ueue' is ONE group; "aa" -> one group
        assert got.n_syll == 2


class TestSourceOverlapMatrix:
    def test_shared_shingles_by_hand(self, spark, tmp_path):
        rows = [
            (0, "a b c d", "S1", 1),   # shingles: "a b c", "b c d"
            (1, "a b c x", "S2", 1),   # "a b c", "b c x"
            (2, "p q r", "S3", 1),     # "p q r"
        ]
        sf = _write_docs(spark, tmp_path, rows)
        q = load_registry()["source_overlap_matrix"].spark
        got = {
            (r.src_a, r.src_b): r for r in q(spark, sf).collect()
        }
        # only S1xS2 share a shingle ("a b c"): jaccard 1/(2+2-1)
        assert set(got) == {("S1", "S2")}
        r = got[("S1", "S2")]
        assert r.n_shared == 1 and r.n_a == 2 and r.n_b == 2
        assert abs(float(r.jaccard) - 1 / 3) < 1e-6

    def test_identical_sources_full_overlap(self, spark, tmp_path):
        rows = [
            (0, "x y z w", "A", 1),
            (1, "x y z w", "B", 1),
        ]
        sf = _write_docs(spark, tmp_path, rows)
        q = load_registry()["source_overlap_matrix"].spark
        got = q(spark, sf).collect()
        assert len(got) == 1
        assert float(got[0].jaccard) == 1.0
