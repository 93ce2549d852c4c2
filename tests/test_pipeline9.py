"""Behavioral tests for the round-6 pipeline9 keys — invariants the
oracle hash-match alone can't pin (independent weighted-median
recomputation, distributed-row-number correctness vs a driver-side
enumeration, CSV multiline round-trip equality, fallback-level
non-vacuity) plus the plan gates for their scale shapes."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


# ---------------------------------------------------------------------------
# agg_weighted_median
# ---------------------------------------------------------------------------


def test_weighted_median_matches_independent_sweep(spark):
    """The cumulative-crossing weighted median must equal an
    independent pandas computation: sort by price, accumulate
    weights, take the first price where 2*cum >= total."""
    rows = {r.l_returnflag: r for r in _df(spark, "agg_weighted_median").collect()}
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .toPandas()
    )
    li["price"] = li["l_extendedprice"].round(2)
    li["w"] = li["l_quantity"].round(2).astype("int64")
    for flag, g in li.groupby("l_returnflag"):
        s = g.groupby("price")["w"].sum().sort_index()
        cum = s.cumsum()
        total = int(s.sum())
        median = float(cum.index[(2 * cum >= total).to_numpy().argmax()])
        assert rows[flag].w_median == median, flag
        assert rows[flag].total_qty == total


def test_weighted_median_plan_two_level_bounded_windows(key_plan):
    """The scale shape: NO window runs over the full distinct-price
    cell table.  Exactly two windows — the bucket cumulative sum
    (bounded by groups × NB) and the in-bucket crossing (bounded by
    distinct/NB) — and the crossing bucket reaches the cells via a
    broadcast join.  A partial aggregate below everything bounds the
    only row-scale shuffle by the distinct-value count."""
    plan = key_plan("agg_weighted_median").plan
    assert plan.count("Window [") == 2
    assert "BroadcastHashJoin" in plan  # crossing-bucket broadcast
    wpos = plan.index("Window")
    assert "partial_sum" in plan[wpos:], "pre-agg must feed the windows"
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# sample_systematic_distributed_index
# ---------------------------------------------------------------------------


def test_systematic_sample_matches_enumeration(spark):
    """The sampled set must be exactly every 20th doc_id of the
    doc_id-sorted corpus, with the correct global row numbers."""
    rows = sorted(
        _df(spark, "sample_systematic_distributed_index").collect(),
        key=lambda r: r.rn,
    )
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id")
        .collect()
    )
    expect = [(i + 1, d) for i, d in enumerate(ids) if i % 20 == 0]
    assert [(r.rn, r.doc_id) for r in rows] == expect


def test_systematic_doc_id_unique_fixture_invariant(spark):
    """The total order relies on doc_id uniqueness — pin it."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert docs.count() == docs.select("doc_id").distinct().count()


def test_systematic_plan_no_global_row_number_window(key_plan):
    """The scale point of the key: document row numbers come from
    PER-BUCKET windows plus a bounded offset table — the only
    unpartitioned window is the bucket-count-row prefix sum, and the
    per-document window is partitioned by bucket."""
    plan = key_plan("sample_systematic_distributed_index").plan
    assert "windowspecdefinition(bucket" in plan
    # exactly two windows: per-bucket row_number + NB-row offset cumsum
    assert plan.count("Window [") == 2
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# scan_csv_multiline_quoted
# ---------------------------------------------------------------------------


def test_csv_multiline_roundtrips_every_field(spark):
    """Stronger than the aggregate: every (doc_id, lang, text) row —
    including the newline-injected ones — must read back EQUAL.  A
    mis-split would shift rows and break the join."""
    _df(spark, "scan_csv_multiline_quoted").collect()  # (re)writes the file
    from s3spark.io import scratch_dir, table

    out = scratch_dir("csv_multiline")
    back = (
        spark.read.schema("doc_id long, lang string, text string")
        .option("header", "true")
        .option("multiLine", "true")
        .csv(out)
    )
    src = table(spark, SF, "documents").select(
        "doc_id",
        F.col("lang").alias("s_lang"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.regexp_replace(F.col("text"), " ", "\n"),
        )
        .otherwise(F.col("text"))
        .alias("s_text"),
    )
    j = back.join(src, "doc_id", "full")
    bad = j.filter(
        F.col("s_text").isNull()
        | F.col("text").isNull()
        | (F.col("text") != F.col("s_text"))
        | (F.col("lang") != F.col("s_lang"))
    )
    assert bad.count() == 0
    # non-vacuity: the multiline docs really contain newlines
    n_ml = back.filter(F.col("text").contains("\n")).count()
    assert n_ml == src.filter(F.col("s_text").contains("\n")).count() > 0


# ---------------------------------------------------------------------------
# join_fallback_hierarchy
# ---------------------------------------------------------------------------


def test_fallback_all_three_levels_fire_at_sf001(spark):
    """Non-vacuity at the driver gate fixture: nation, region AND
    global levels must each resolve at least one order (18 of 25
    nations publish; 2 of 5 regions fall below the region threshold,
    so their unpublished-nation orders drop through to global)."""
    rows = {r.level: r for r in _df(spark, "join_fallback_hierarchy").collect()}
    assert set(rows) == {"nation", "region", "global"}
    assert all(rows[lv].n_orders > 0 for lv in rows)
    # conservation: levels partition the orders exactly
    n_orders = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert sum(r.n_orders for r in rows.values()) == n_orders


def test_fallback_resolution_respects_priority(spark):
    """Recompute the expected level per order independently (pandas
    joins) and compare counts — most-specific-match-wins, never a
    region rate where a nation rate exists."""
    cust = spark.read.parquet(f"{SF}/customer.parquet").toPandas()
    nat = spark.read.parquet(f"{SF}/nation.parquet").toPandas()
    orders = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    nc = cust.groupby("c_nationkey").size()
    pub_nations = set(nc[nc >= 55].index)
    cr = cust.merge(
        nat, left_on="c_nationkey", right_on="n_nationkey"
    ).groupby("n_regionkey").size()
    pub_regions = set(cr[cr >= 300].index)
    m = orders.merge(cust, left_on="o_custkey", right_on="c_custkey").merge(
        nat, left_on="c_nationkey", right_on="n_nationkey"
    )
    lvl = np.where(
        m["c_nationkey"].isin(pub_nations),
        "nation",
        np.where(m["n_regionkey"].isin(pub_regions), "region", "global"),
    )
    expect = dict(zip(*np.unique(lvl, return_counts=True)))
    got = {
        r.level: r.n_orders
        for r in _df(spark, "join_fallback_hierarchy").collect()
    }
    assert got == {k: int(v) for k, v in expect.items()}


def test_fallback_plan_single_fact_scan_all_broadcast(key_plan):
    """ONE orders scan; every rate level joins via broadcast (hash or
    the declared 1-row BNLJ); no shuffle of the fact table."""
    plan = key_plan("join_fallback_hierarchy").plan
    assert plan.count("FileScan parquet [o_") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning(o_" not in plan
