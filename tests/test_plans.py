"""Physical-plan quality gates (the 'would this survive 100 TB' checks):
filters push into scans, projections prune columns, dimension joins
broadcast, point reads prune partitions."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # r13: heavy suite, excluded from the default fast tier (run with -m "" or -m slow)

from mobilitydatalakebenchmark_spark.plans import explain, load_registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_registry()


def test_point_lookup_pushes_filter(spark, registry):
    df = registry["f1_point_lookup"].spark(spark, SF)
    assert explain.has_pushed_filter(df, "l_orderkey"), explain.formatted_plan(df)


def test_projection_prunes_columns(spark, registry):
    df = registry["f1_point_lookup"].spark(spark, SF)
    cols = explain.scan_read_schema(df)
    assert "l_extendedprice" not in cols  # unused fact columns never read
    assert "l_shipdate" not in cols


def test_snowflake_broadcasts_dims(spark, registry):
    df = registry["j4_snowflake_revenue"].spark(spark, SF)
    # customer/nation/region are explicit broadcasts; orders may also
    # broadcast at this SF — at least the 3 hinted dims must be BHJ
    assert explain.count_broadcast_joins(df) >= 3, explain.physical_plan(df)


def test_flagship_single_shuffle_agg(spark, registry):
    df = registry["flagship_pricing_summary"].spark(spark, SF)
    plan = explain.physical_plan(df)
    # partial_ aggregation before the exchange = map-side combine
    assert "partial_sum" in plan
    assert explain.count_shuffles(df) <= 2  # agg exchange + final sort


def test_topk_uses_takeordered_or_window(spark, registry):
    df = registry["s1_scan_order_limit"].spark(spark, SF)
    # orderBy+limit must not global-sort: TakeOrderedAndProject expected
    assert "TakeOrderedAndProject" in explain.physical_plan(df)


def test_flat_store_partition_pruning(spark, tmp_path, documents_df):
    from mobilitydatalakebenchmark_spark.operators.flat_store import (
        FlatParquetStore,
        at_snapshot,
    )

    store = FlatParquetStore(str(tmp_path / "t"))
    store.write(documents_df)
    ts = documents_df.select("timestamp").orderBy("timestamp").limit(1).collect()[0][0]
    flat = at_snapshot(store.scan(), ts)
    assert explain.has_partition_filter(flat, "ts_bucket")
    assert explain.has_pushed_filter(flat, "timestamp")


@pytest.fixture(scope="module")
def gate_dfs(spark, registry):
    """One DataFrame per gate, built once: QueryExecution caches the
    analyzed/optimized/physical plans, so the registry-wide plan tests
    below share a single planning pass instead of re-planning all 313
    gates per test."""
    return {name: q.spark(spark, SF) for name, q in registry.items()}


def test_gate_queries_stay_jvm_side(registry, gate_dfs):
    """No gate query may fall back to a row-at-a-time Python UDF
    (BatchEvalPython); Arrow-batched plans (ArrowEvalPython/MapInPandas)
    are allowed only for declared kernel operators (none in the gate)."""
    for name, q in registry.items():
        plan = explain.physical_plan(gate_dfs[name])
        assert "BatchEvalPython" not in plan, f"{name} uses a Python UDF"
        if "kernel" not in q.tags:  # declared Arrow-batched kernels excepted
            assert "InPandas" not in plan, f"{name} unexpectedly uses pandas"


def test_codegen_covers_flagship(spark, registry):
    df = registry["flagship_pricing_summary"].spark(spark, SF)
    assert explain.codegen_stage_count(df) >= 1


# Gates allowed to keep a partition-less Window: each one's window input
# is bounded by CONSTRUCTION (a fixed panel, a calendar span, a post-
# limit top-k, a replicate count), never by data volume. Everything
# data-proportional was re-planned in r12 onto the range-partitioned
# surrogate_keys / prefix_sums patterns (functions/codecs.py).
_BOUNDED_GLOBAL_WINDOW_GATES = {
    "attribution_time_decay",  # per-channel panel (enum of channels)
    "bootstrap_ci_mean",  # fixed bootstrap replicate count
    "budget_apportion_sources",  # per-source panel
    "delta_bitwidth_histogram",  # <= 64 bit-width keys
    "dow_hour_heatmap",  # 168 dow x hour keys
    "group_kfold_assign",  # 5 folds
    "retrieval_mrr_eval",  # 30-query panel
    "text_collocation_lift",  # post-limit top-20
    "text_zipf_slope",  # post-limit top-100
    # r13: the three calendar-span entries (cumulative_reach_daily,
    # retention_kaplan_meier, seasonal_decompose_additive) were
    # re-planned onto prefix_sums and left the whitelist (r12 verdict
    # item 7)
}


def test_no_partitionless_window_over_unbounded_input(registry, gate_dfs):
    """The 100 TB scale-killer class (r11 verdict): a Window with no
    partitionSpec moves its ENTIRE input into one task's sort. Every
    gate whose window input grows with data volume was re-planned onto
    the range-partitioned rank / prefix-sum patterns in r12; this pins
    the class shut — a new partition-less window may only appear on the
    documented bounded-input whitelist above."""
    offenders = {}

    def nodes(p):
        yield p
        for i in range(p.children().size()):
            yield from nodes(p.children().apply(i))

    for name in registry:
        plan = gate_dfs[name]._jdf.queryExecution().optimizedPlan()
        n = sum(
            1
            for nd in nodes(plan)
            if nd.getClass().getSimpleName() == "Window"
            and nd.partitionSpec().isEmpty()
        )
        if n and name not in _BOUNDED_GLOBAL_WINDOW_GATES:
            offenders[name] = n
    assert not offenders, (
        "partition-less Window over a data-proportional input (one-task "
        f"sort at scale): {offenders} — re-plan on codecs.surrogate_keys/"
        "prefix_sums or document the bound in the whitelist"
    )


# Gates allowed to keep a Window partitioned ONLY by the documents
# corpus's low-cardinality `source` column (the r12-verdict item-1
# class: a handful of partitions each sorting ~n/|sources| rows on one
# task — the partition-less scale-killer divided by a constant).
# quantile_normalization was re-planned onto
# codecs.grouped_surrogate_keys in r13; the remaining entries are
# documented debt — their windows are running-sum/packing shaped, so the
# known next step is a grouped prefix_sums variant.
_SOURCE_WINDOW_GATES = {
    "pack_sequences_contiguous",  # per-source greedy packing cumsum
    "pack_shard_manifest",  # per-source shard numbering
    "sample_weighted_ares",  # per-source weighted reservoir rank
}


def test_no_source_partitioned_window_without_whitelist(registry, gate_dfs):
    """A Window partitioned solely by `source` sorts ~n/|sources| rows
    per task — data-proportional whenever the gate feeds it raw
    documents (r12 verdict item 1). quantile_normalization was
    re-planned onto grouped_surrogate_keys (r13); any NEW gate wanting
    a per-source window must use the grouped range-rank pattern or
    document itself here."""
    offenders = {}

    def nodes(p):
        yield p
        for i in range(p.children().size()):
            yield from nodes(p.children().apply(i))

    for name in registry:
        plan = gate_dfs[name]._jdf.queryExecution().optimizedPlan()
        n = 0
        for nd in nodes(plan):
            if nd.getClass().getSimpleName() != "Window":
                continue
            ps = nd.partitionSpec()
            cols = {
                ps.apply(i).toString().split("#")[0] for i in range(ps.size())
            }
            if cols == {"source"}:
                n += 1
        if n and name not in _SOURCE_WINDOW_GATES:
            offenders[name] = n
    assert not offenders, (
        "Window partitioned only by low-cardinality `source` (one-task "
        f"sort of ~n/|sources| rows at scale): {offenders} — use "
        "codecs.grouped_surrogate_keys or document the bound here"
    )
