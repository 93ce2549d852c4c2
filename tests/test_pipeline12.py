"""Behavioral tests for the round-6 pipeline12 keys — independent
recomputations (scipy-free numpy entropy, a procedural CUSUM loop,
a python NDCG scorer, a pandas k-anonymity audit) and plan gates
for their scale shapes."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


# ---------------------------------------------------------------------------
# agg_entropy_gini
# ---------------------------------------------------------------------------


def test_entropy_gini_matches_numpy(spark):
    """Entropy/Gini per segment must match a direct numpy computation
    on the joined counts (entropy to the decimal-partials rounding
    tolerance, Gini exactly)."""
    from s3spark.io import table

    out = {r.mktsegment: r for r in _df(spark, "agg_entropy_gini").collect()}
    cust = table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    orders = table(spark, SF, "orders").select("o_custkey", "o_orderpriority")
    pdf = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .count()
        .toPandas()
    )
    for seg, g in pdf.groupby("c_mktsegment"):
        n = g["count"].to_numpy(dtype=np.int64)
        tot = int(n.sum())
        p = n / tot
        ent = float(-(p * np.log2(p)).sum())
        gini = 1.0 - float((n.astype(object) ** 2).sum()) / tot**2
        r = out[seg]
        assert r.n_orders == tot
        assert r.n_priorities == len(n)
        # each decimal(25,6) term is within 5e-7 of the true term
        assert abs(r.entropy_bits - ent) <= 5e-7 * len(n) + 1e-12, seg
        assert abs(r.gini_impurity - gini) <= 1e-15, seg


def test_entropy_bounds_and_plan(spark, key_plan):
    """0 ≤ gini < 1, 0 ≤ entropy ≤ log2(k); the fact side must NOT
    shuffle for the dim join (broadcast) and no Python stage runs."""
    rows = _df(spark, "agg_entropy_gini").collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 <= r.gini_impurity < 1.0
        assert -1e-9 <= r.entropy_bits <= math.log2(r.n_priorities) + 1e-9
    plan = key_plan("agg_entropy_gini").plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# timeseries_changepoint_cusum
# ---------------------------------------------------------------------------


def test_cusum_matches_procedural_loop(spark):
    """The closed-form prefix computation must equal the literal
    recursive definition C_t = max(0, C_{t-1} + (n·x_t − total))
    replayed in exact python integers."""
    rows = _df(spark, "timeseries_changepoint_cusum").collect()
    xs = [int(r.day_cents) for r in rows]
    tot, nn = sum(xs), len(xs)
    c = 0
    for r, x in zip(rows, xs):
        c = max(0, c + nn * x - tot)
        assert int(r.cusum_scaled) == c, r.d
        assert int(r.alarm) == (1 if 100 * c > tot * nn else 0)


def test_cusum_both_alarm_states_and_plan(spark, key_plan):
    """The 1%-of-total threshold fires on some but not all days at
    sf0.01; the plan must partial-aggregate to the daily series
    BELOW the (calendar-bounded) global windows."""
    pdf = _df(spark, "timeseries_changepoint_cusum").toPandas()
    assert 0 < int(pdf.alarm.sum()) < len(pdf)
    plan = key_plan("timeseries_changepoint_cusum").plan
    wpos = plan.index("Window")
    assert "partial_sum" in plan[wpos:]
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# rank_metrics_ndcg
# ---------------------------------------------------------------------------


def test_ndcg_matches_python_scorer(spark):
    """NDCG@10 must match an independent python ranking + scorer over
    the same label definition (weights recomputed from math.log2,
    tolerance = the 12-decimal literal rounding)."""
    from s3spark.io import table

    out = {r.nationkey: r for r in _df(spark, "rank_metrics_ndcg").collect()}
    cust = table(spark, SF, "customer").toPandas()
    orders = table(spark, SF, "orders").toPandas()
    rel = set(
        orders[
            (orders.o_orderdate.dt.year == 1998)
            & (orders.o_orderpriority == "1-URGENT")
        ].o_custkey
    )
    for nk, g in cust.groupby("c_nationkey"):
        g = g.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        )
        labels = [1 if k in rel else 0 for k in g.c_custkey]
        dcg = sum(
            l / math.log2(i + 2) for i, l in enumerate(labels[:10])
        )
        nrel = sum(labels)
        r = out[int(nk)]
        assert r.n_relevant == nrel
        assert r.rel_in_top10 == sum(labels[:10])
        assert abs(r.dcg - dcg) <= 1e-10
        if nrel:
            idcg = sum(1 / math.log2(i + 2) for i in range(min(nrel, 10)))
            assert abs(r.ndcg - dcg / idcg) <= 1e-10
        else:
            assert r.ndcg is None


def test_ndcg_plan_windowgrouplimit_and_bounds(spark, key_plan):
    """The rank ≤ 10 filter must plan as WindowGroupLimit (distributed
    partial top-K, not a full per-nation sort pushed to one pass) and
    NDCG ∈ [0, 1]."""
    plan = key_plan("rank_metrics_ndcg").plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan
    for r in _df(spark, "rank_metrics_ndcg").collect():
        if r.ndcg is not None:
            assert -1e-12 <= r.ndcg <= 1.0 + 1e-12


# ---------------------------------------------------------------------------
# privacy_k_anonymity
# ---------------------------------------------------------------------------


def test_k_anonymity_audit_invariants(spark):
    """Conservation + threshold invariants: every customer lands in
    exactly one published-or-suppressed group; level-1/2 groups meet
    k=3; suppressed groups don't; level-2/0 groups aggregate ONLY
    rows from violating level-1 groups (recomputed in pandas)."""
    from s3spark.io import table

    pdf = _df(spark, "privacy_k_anonymity").toPandas()
    cust = table(spark, SF, "customer").toPandas()
    nation = table(spark, SF, "nation").toPandas()

    assert int(pdf.n.sum()) == len(cust)
    assert (pdf[pdf.anon_level.isin([1, 2])].n >= 3).all()
    assert (pdf[pdf.anon_level == 0].n < 3).all()
    assert pdf[pdf.anon_level == 1].nationkey.notna().all()
    assert pdf[pdf.anon_level != 1].nationkey.isna().all()
    # all three levels exercised at sf0.01
    assert set(pdf.anon_level) == {0, 1, 2}

    # independent pandas recomputation of the full audit
    cents = (cust.c_acctbal * 100).round().astype(np.int64)
    cust = cust.assign(b=np.floor(cents / 100000).astype(np.int64))
    cust = cust.merge(
        nation[["n_nationkey", "n_regionkey"]],
        left_on="c_nationkey",
        right_on="n_nationkey",
    )
    g1 = (
        cust.groupby(["c_nationkey", "c_mktsegment", "b"])
        .agg(n=("c_custkey", "size"), r=("n_regionkey", "first"))
        .reset_index()
    )
    lvl1 = g1[g1.n >= 3]
    g2 = (
        g1[g1.n < 3]
        .groupby(["r", "c_mktsegment", "b"])
        .n.sum()
        .reset_index()
    )
    assert len(pdf[pdf.anon_level == 1]) == len(lvl1)
    assert len(pdf[pdf.anon_level == 2]) == int((g2.n >= 3).sum())
    assert len(pdf[pdf.anon_level == 0]) == int((g2.n < 3).sum())
    got2 = pdf[pdf.anon_level == 2].sort_values(
        ["regionkey", "mktsegment", "bal_bucket"]
    )
    exp2 = g2[g2.n >= 3].sort_values(["r", "c_mktsegment", "b"])
    assert list(got2.n) == list(exp2.n)


def test_k_anonymity_plan_broadcasts_dim(key_plan):
    """The nation dim joins by broadcast; the only fact shuffle is
    the quasi-identifier aggregation (partial-aggregated)."""
    plan = key_plan("privacy_k_anonymity").plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
