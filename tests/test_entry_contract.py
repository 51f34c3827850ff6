"""Driver-contract regression guard: entry/queries/oracle_sql shapes."""

from __future__ import annotations

import pytest

import importlib.util


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_queries_and_oracles_consistent(spark):
    mod = _load_entry()
    qs, osql = mod.queries(), mod.oracle_sql()
    assert len(qs) >= 50
    # every oracle key must have a query, and EVERY query has an oracle —
    # the approximate operators (HLL, GK sketch, IVF/SimHash) carry
    # error-bound twins, so the registry has zero rows-only entries and
    # a gate silently losing its oracle is a contract break
    assert set(osql) <= set(qs)
    assert set(qs) == set(osql), sorted(set(qs) - set(osql))
    for name, sql in osql.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


@pytest.mark.slow  # r13: plans all 313 gates (~4 min); fast tier relies on
# test_queries_and_oracles_consistent + the slow-tier plan suite
def test_all_queries_plan_without_execution(spark):
    """Every registered query must at least resolve its plan (catches
    schema drift / bad column refs without paying full execution)."""
    mod = _load_entry()
    for name, fn in mod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        _ = df.schema  # forces analysis


def test_rotation_names_all_exist():
    """Every name in the driver-window ordering tuples must be a real
    registry entry — a typo would silently shrink the first-50 window."""
    from mobilitydatalakebenchmark_spark import plans
    from mobilitydatalakebenchmark_spark.plans import load_registry

    reg = set(load_registry())
    for block in (
        plans.DRIVER_VERIFIED_R4,
        plans.DRIVER_VERIFIED_R5,
        plans.DRIVER_VERIFIED_R6,
        plans.DRIVER_VERIFIED_R7,
        plans.DRIVER_VERIFIED_R8,
        plans.DRIVER_VERIFIED_R9,
        plans.DRIVER_VERIFIED_R10,
        plans.WINDOW_NEWEST,
        plans.WINDOW_DEFERRED,
        plans.WINDOW_CODE_TOUCHED,
    ):
        missing = set(block) - reg
        assert not missing, missing
    # the first 50 (the driver window) are exactly 50 distinct names
    first50 = list(load_registry())[:50]
    assert len(set(first50)) == 50
    # a name must appear in exactly one verified block (graduation moves
    # it; duplicates would mis-state verdict freshness)
    all_names = (
        plans.DRIVER_VERIFIED_R4 + plans.DRIVER_VERIFIED_R5
        + plans.DRIVER_VERIFIED_R6 + plans.DRIVER_VERIFIED_R7
        + plans.DRIVER_VERIFIED_R8 + plans.DRIVER_VERIFIED_R9
        + plans.DRIVER_VERIFIED_R10
    )
    assert len(all_names) == len(set(all_names))


def test_window_prefix_matches_declared_order():
    """The honesty invariant the r10 judge checked by hand, pinned: the
    driver window's prefix must equal flagship + WINDOW_NEWEST exactly
    (no silent re-ordering), and every gate that has never had a driver
    verdict must be either inside the first-50 window or explicitly
    declared in WINDOW_DEFERRED — a never-verified gate can hide from
    the driver only by being named in the deferral list."""
    from mobilitydatalakebenchmark_spark import plans
    from mobilitydatalakebenchmark_spark.plans import load_registry

    reg = load_registry()
    window = list(reg)[:50]
    declared = [
        "flagship_pricing_summary",
        *plans.WINDOW_NEWEST,
        *plans.WINDOW_CODE_TOUCHED,
    ]
    assert window[: len(declared)] == declared
    never_verified = set(reg) - set(plans.DRIVER_VERIFIED)
    hidden = never_verified - set(window) - set(plans.WINDOW_DEFERRED)
    assert not hidden, sorted(hidden)
    # the deferral list never names an already-verified gate
    assert not set(plans.WINDOW_DEFERRED) & set(plans.DRIVER_VERIFIED)
    # and the fill after the declared prefix is the staleness rotation:
    # oldest verified blocks first, in block order
    fill = window[len(declared):]
    rotation = [
        n
        for block in (
            plans.DRIVER_VERIFIED_R4, plans.DRIVER_VERIFIED_R5,
            plans.DRIVER_VERIFIED_R6, plans.DRIVER_VERIFIED_R7,
            plans.DRIVER_VERIFIED_R8, plans.DRIVER_VERIFIED_R9,
            plans.DRIVER_VERIFIED_R10,
        )
        for n in block
        if n in reg and n not in declared
    ]
    assert fill == rotation[: len(fill)]


def test_all_oracles_plan_in_duckdb():
    """The DuckDB twin of test_all_queries_plan_without_execution: every
    oracle must EXPLAIN against the real table schemas — catches SQL
    syntax/typing breakage in seconds instead of waiting for the next
    full check_oracle run.

    It also binds every oracle's RESULT TYPES (lazy, no execution) and
    fails on any HUGEINT/UHUGEINT/DECIMAL column: DuckDB widens
    sum(BIGINT) — window sums included — to int128, and the driver's
    hash is TYPE-sensitive, so an un-cast outer aggregate goes red at
    the driver while every value is bit-exact (the r7 18-red-row
    class). Cast the OUTERMOST aggregate: CAST(sum(...) AS BIGINT)."""
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo")
    from tools.oracle_types import type_problems

    mod = _load_entry()
    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.001/{t}.parquet'"
        )
    bad_types = {}
    for name, sql in mod.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # pragma: no cover - the message is the point
            raise AssertionError(f"oracle for {name} fails to plan: {e}")
        probs = type_problems(con, sql, name)
        if probs:
            bad_types[name] = probs
    assert not bad_types, (
        "driver-unhashable oracle result types (cast the outermost "
        f"aggregate to BIGINT): {bad_types}"
    )


def test_type_guard_catches_uncast_aggregate():
    """The verdict-r7 'done' criterion: a deliberately un-cast sum() in
    an oracle must fail locally. DuckDB types sum(BIGINT) — window sums
    included — as HUGEINT; the guard must flag both, and pass the
    CAST-wrapped forms."""
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo")
    from tools.oracle_types import type_problems

    con = duckdb.connect()
    con.execute("CREATE TABLE tt AS SELECT range AS v FROM range(10)")
    # plain aggregate widens
    assert type_problems(con, "SELECT sum(v) AS s FROM tt", "g")
    # window sum widens too (the trajectory_trip_segments shape)
    assert type_problems(
        con, "SELECT sum(v) OVER (ORDER BY v) AS s FROM tt", "g"
    )
    # the fix is accepted
    assert not type_problems(
        con, "SELECT CAST(sum(v) AS BIGINT) AS s FROM tt", "g"
    )
    assert not type_problems(
        con,
        "SELECT CAST(sum(v) OVER (ORDER BY v) AS BIGINT) AS s FROM tt",
        "g",
    )
    # DECIMAL is banned unless the Spark twin column is decimal
    assert type_problems(con, "SELECT CAST(1.5 AS DECIMAL(4,2)) AS d", "g")
    assert not type_problems(
        con,
        "SELECT CAST(1.5 AS DECIMAL(4,2)) AS d",
        "g",
        spark_decimal_cols={"d"},
    )
