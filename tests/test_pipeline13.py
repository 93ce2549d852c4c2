"""Behavioral tests for the round-6 pipeline13 keys — independent
recomputations (numpy ACF, a plain-python z-test, a pandas RFM replay,
a pandas orphan audit) and plan gates for their scale shapes."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


def _daily_cents(spark):
    from s3spark.io import table

    pdf = (
        table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("x")
        )
        .orderBy("d")
        .toPandas()
    )
    return pdf["x"].to_numpy(dtype=np.int64)


# ---------------------------------------------------------------------------
# timeseries_autocorrelation
# ---------------------------------------------------------------------------


def test_autocorrelation_matches_numpy(spark):
    """ACF values must match the direct numpy biased estimator
    r_k = sum((x_t - mean)(x_{t-k} - mean)) / sum((x_t - mean)^2)
    to float noise (the engine path is exact integer sums; numpy's
    float path accumulates rounding, hence the 1e-9 rel tolerance)."""
    x = _daily_cents(spark).astype(np.float64)
    xc = x - x.mean()
    den = float((xc * xc).sum())
    out = _df(spark, "timeseries_autocorrelation").collect()
    assert [r.lag for r in out] == list(range(1, 8))
    for r in out:
        k = r.lag
        num = float((xc[k:] * xc[:-k]).sum())
        assert abs(r.acf - num / den) <= 1e-9 * max(1.0, abs(num / den)), k
        assert r.n_days == len(x)
    # daily revenue is dominated by day-to-day noise: |acf| well below 1
    assert all(abs(r.acf) < 0.2 for r in out)


def test_autocorrelation_plan_reduces_before_windows(key_plan):
    """The orders scan must collapse to the calendar-bounded daily
    series (partial aggregate) BEFORE any window — the unpartitioned
    lag/total windows run over <=2,400 rows regardless of fact scale
    (same shape argument as timeseries_seasonal_decompose)."""
    plan = key_plan("timeseries_autocorrelation").plan
    wpos = plan.index("Window")
    assert "partial_sum" in plan[wpos:]
    assert "BatchEvalPython" not in plan
    # all 7 lags share ONE sort: a single window operator computes them
    assert plan.count("Window") <= 2  # lag window + global-total window


# ---------------------------------------------------------------------------
# stats_ab_proportion_ztest
# ---------------------------------------------------------------------------


def test_ztest_matches_plain_python(spark):
    """The z statistic and CI must equal a plain-python recomputation
    from the same integer counts BIT-FOR-BIT: both sides perform the
    identical sequence of IEEE-754 operations on exact integers."""
    r = _df(spark, "stats_ab_proportion_ztest").collect()[0]
    n1, x1, n2, x2 = r.n1, r.x1, r.n2, r.x2
    assert n1 + n2 == 15000 and n1 > 0 and n2 > 0  # sf0.01 orders
    p1, p2 = x1 / n1, x2 / n2
    pp = (x1 + x2) / (n1 + n2)
    z = (p1 - p2) / math.sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2))
    se_u = math.sqrt(p1 * (1.0 - p1) / n1 + p2 * (1.0 - p2) / n2)
    assert r.p1 == p1 and r.p2 == p2
    assert r.z == z
    assert r.lift == p1 - p2
    assert r.ci95_lo == p1 - p2 - 1.959964 * se_u
    assert r.ci95_hi == p1 - p2 + 1.959964 * se_u
    assert r.sig_90 == (1 if abs(z) > 1.644854 else 0)
    assert r.sig_95 == (1 if abs(z) > 1.959964 else 0)
    # the md5 split is ~50/50 (binomial: 3-sigma band around 7500)
    assert abs(n1 - 7500) < 3 * math.sqrt(15000 * 0.25)


def test_ztest_plan_is_one_scan_no_join(key_plan):
    """The whole key must be one scan + one map-side-combined
    reduction: no join, no window, no Python, no extra shuffle beyond
    the single-row final aggregation."""
    plan = key_plan("stats_ab_proportion_ztest").plan
    for op in ("Join", "Window", "BatchEvalPython", "CartesianProduct"):
        assert op not in plan, op
    assert "partial_sum" in plan  # map-side combine before the 1-row agg


# ---------------------------------------------------------------------------
# rfm_customer_segments
# ---------------------------------------------------------------------------


def _rfm_replay(spark):
    from s3spark.io import table

    pdf = (
        table(spark, SF, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("monetary_cents"),
        )
        .toPandas()
    )
    pdf["recency_days"] = (pdf["last_d"].max() - pdf["last_d"]).map(
        lambda td: td.days
    )
    scores = {}
    for col, invert in [("recency_days", True), ("frequency", False),
                        ("monetary_cents", False)]:
        q1, q2, q3 = np.percentile(
            pdf[col].to_numpy(dtype=np.int64), [25, 50, 75],
            method="linear",
        )
        v = pdf[col].to_numpy(dtype=np.int64)
        if invert:  # lower recency = better score
            scores[col] = 1 + (v < q3).astype(int) + (v < q2).astype(int) + (
                v < q1
            ).astype(int)
        else:
            scores[col] = 1 + (v > q1).astype(int) + (v > q2).astype(int) + (
                v > q3
            ).astype(int)
    pdf["r_score"] = scores["recency_days"]
    pdf["f_score"] = scores["frequency"]
    pdf["m_score"] = scores["monetary_cents"]

    def seg(row):
        r, f, m = row.r_score, row.f_score, row.m_score
        if r == 4 and f >= 3 and m >= 3:
            return "champions"
        if r >= 3 and f >= 3:
            return "loyal"
        if r >= 3 and m >= 3:
            return "big_spenders"
        if r <= 2 and f >= 3:
            return "at_risk"
        if r == 1 and f == 1:
            return "hibernating"
        return "regular"

    pdf["segment"] = pdf.apply(seg, axis=1)
    return pdf


def test_rfm_matches_pandas_replay(spark):
    """Segment memberships and per-segment averages must match an
    independent pandas/numpy replay (numpy 'linear' percentile is the
    same interpolation as Spark percentile / DuckDB quantile_cont)."""
    out = {r.segment: r for r in _df(spark, "rfm_customer_segments").collect()}
    pdf = _rfm_replay(spark)
    counts = pdf.groupby("segment").size().to_dict()
    assert set(out) == set(counts)
    for s, g in pdf.groupby("segment"):
        r = out[s]
        assert r.n_customers == len(g), s
        assert r.avg_frequency == int(g["frequency"].sum()) / len(g), s
        assert r.avg_monetary_cents == int(g["monetary_cents"].sum()) / len(g), s
        assert r.avg_recency_days == int(g["recency_days"].sum()) / len(g), s


def test_rfm_segments_non_vacuous(spark):
    """At sf0.01 the CASE ladder must fire on >=4 distinct segments
    (a 1-segment result would mean the quartile gates are vacuous),
    and every customer with an order lands in exactly one segment."""
    out = _df(spark, "rfm_customer_segments").collect()
    assert len(out) >= 4
    assert sum(r.n_customers for r in out) == 1500  # every customer ordered
    assert {r.segment for r in out} <= {
        "champions", "loyal", "big_spenders", "at_risk", "hibernating", "regular"
    }


def test_rfm_plan_broadcasts_scalars(key_plan):
    """The per-customer metric table is materialized once (lineage
    break — orders is scanned exactly once, in the write job), so the
    returned plan reads only the compact scratch table: ONE 1-row
    quartile-bounds broadcast (declared constant-build BNLJ), no
    orders scan, no re-shuffle of the metric rows before scoring."""
    plan = key_plan("rfm_customer_segments").plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "orders.parquet" not in plan  # fact scanned only in the write job
    assert plan.count("percentile") >= 1  # bounds computed off scratch


# ---------------------------------------------------------------------------
# dq_referential_orphans
# ---------------------------------------------------------------------------


def test_orphans_match_pandas_audit(spark):
    """All five audit columns must match a pandas replay for every
    relationship; the two real FKs are clean and the simulated
    late-arriving snapshot shows ~10% orphans."""
    from s3spark.io import table

    out = {r.relationship: r for r in _df(spark, "dq_referential_orphans").collect()}
    li = table(spark, SF, "lineitem").select("l_orderkey").toPandas()["l_orderkey"]
    ok = table(spark, SF, "orders").select("o_orderkey").toPandas()["o_orderkey"]
    oc = table(spark, SF, "orders").select("o_custkey").toPandas()["o_custkey"]
    ck = table(spark, SF, "customer").select("c_custkey").toPandas()["c_custkey"]
    ev = table(spark, SF, "events").select("user_id").toPandas()["user_id"]
    cases = {
        "lineitem->orders": (li, set(ok)),
        "orders->customer_snapshot": (oc, {k for k in ck if k % 10 != 7}),
        "events->customer": (ev, set(ck)),
    }
    assert set(out) == set(cases)
    for rel, (fk, pks) in cases.items():
        r = out[rel]
        orphan_mask = ~fk.isin(pks)
        assert r.n_rows == len(fk), rel
        assert r.n_keys == fk.nunique(), rel
        assert r.orphan_rows == int(orphan_mask.sum()), rel
        assert r.orphan_keys == fk[orphan_mask].nunique(), rel
        assert r.orphan_row_share == int(orphan_mask.sum()) / len(fk), rel
    # the audit is non-vacuous: real FKs clean, snapshot leaks ~10%
    assert out["lineitem->orders"].orphan_rows == 0
    assert out["events->customer"].orphan_rows == 0
    assert 0.05 < out["orders->customer_snapshot"].orphan_row_share < 0.15


def test_orphans_plan_shapes(key_plan):
    """Every audit must be a hash-based EQUI-join on the FK (the
    planner is free to broadcast the key-only dim side at fixture
    scale and to shuffle it at 100 TB — the lineitem->orders audit
    passes no broadcast hint for exactly that reason); no nested
    loops, no Python, and the dim builds carry only the key column."""
    plan = key_plan("dq_referential_orphans").plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    n_hash_joins = plan.count("BroadcastHashJoin") + plan.count(
        "SortMergeJoin"
    ) + plan.count("ShuffledHashJoin")
    assert n_hash_joins >= 3  # one equi-join per relationship
    # explicit broadcasts on the two customer-dim audits survive planning
    assert plan.count("BroadcastHashJoin") >= 2
