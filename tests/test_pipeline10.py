"""Behavioral tests for the round-6 pipeline10 SQL-surface keys —
the macro-inlining and parameter-pushdown claims the oracle
hash-match alone can't pin."""

from __future__ import annotations

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def test_sql_udf_scalar_inlines_as_macro(key_plan):
    """The SQL-bodied function must disappear into the plan: no
    Python eval stage, decimal partial aggregation intact — identical
    shape to writing the expression inline."""
    plan = key_plan("sql_udf_scalar").plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "partial_sum" in plan
    assert "HashAggregate" in plan


def test_sql_udf_table_pushes_parameter_filter(key_plan):
    """The TVF's region parameter must reach the nation scan as a
    pushed filter — proof the body inlined as a parameterized view
    rather than materializing."""
    plan = key_plan("sql_udf_table").plan
    assert "PushedFilters" in plan
    assert "EqualTo(n_regionkey,2)" in plan
    assert "BroadcastHashJoin" in plan


def test_sql_scripting_variable_matches_independent_mean(spark):
    """The script's threshold variable must equal the independently
    computed exact-decimal mean, and the returned counts must match a
    direct filtered aggregation at that threshold."""
    import decimal

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    # same arithmetic as both engines: exact decimal SUM -> double,
    # then ONE IEEE division by the count
    mean = float(
        sum(decimal.Decimal(str(round(v, 2))) for v in o["o_totalprice"])
    ) / len(o)
    above = o[o["o_totalprice"] > mean]
    expect = above.groupby("o_orderpriority").size().to_dict()
    got = {
        r.o_orderpriority: r.n_above
        for r in REGISTRY["sql_scripting_batch"].fn(spark, SF).collect()
    }
    assert got == expect


def test_sql_execute_immediate_binds_reach_scan(key_plan):
    """The USING binds must land in the orders scan as pushed filters
    (typed constants, not post-scan predicates)."""
    plan = key_plan("sql_execute_immediate").plan
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(o_totalprice,150000.0)" in plan
    # the status bind is also pushed, but FileScan's toString truncates
    # the filter list — assert it on the Filter condition instead
    assert "= F)" in plan or "EqualTo(o_orderstatus,F)" in plan
