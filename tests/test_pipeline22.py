"""Behavioral tests for the round-10 pipeline22 keys: a pandas
basket-rules replay, a direct-sort AUC recompute, an lgamma-based
Fisher cross-check (independent of the engines' truncated-decimal
ln-factorial table), and calibration-bin invariants."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


# ---------------------------------------------------------------------------
# basket_association_lift
# ---------------------------------------------------------------------------


def test_basket_lift_matches_pandas_replay(spark):
    """Exact replay: baskets from a pandas join, pair/marginal counts
    from itertools, ratio identities re-derived from the counts."""
    from itertools import combinations

    from s3spark.io import table

    li = table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    pt = table(spark, SF, "part").select("p_partkey", "p_brand")
    pdf = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .select("l_orderkey", "p_brand")
        .toPandas()
    )
    baskets = {}
    for okey, brand in zip(pdf["l_orderkey"], pdf["p_brand"]):
        baskets.setdefault(okey, set()).add(brand)
    n_orders = len(baskets)
    item_n: dict = {}
    pair_n: dict = {}
    for items in baskets.values():
        for it in items:
            item_n[it] = item_n.get(it, 0) + 1
        for a, b in combinations(sorted(items), 2):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    want = {
        (a, b): n
        for (a, b), n in pair_n.items()
        if n >= 3  # _BA_MINSUP
    }
    rows = _df(spark, "basket_association_lift").collect()
    got = {(r.item_a, r.item_b): r.n_both for r in rows}
    assert got == want
    for r in rows:
        assert r.n_a == item_n[r.item_a] and r.n_b == item_n[r.item_b]
        assert r.n_orders == n_orders
        assert 0 < r.confidence <= 1
        assert abs(r.lift - r.n_both * n_orders / (r.n_a * r.n_b)) < 1e-12
        assert r.n_both <= min(r.n_a, r.n_b)


# ---------------------------------------------------------------------------
# rank_metrics_auc
# ---------------------------------------------------------------------------


def test_auc_matches_direct_midrank_sort(spark):
    """Direct recompute: sort (score, label) pairs in python, assign
    midranks over ties, AUC = (R1 − n1(n1+1)/2)/(n1·n0) — a different
    code path from the engine's two-level distributed prefix."""
    from s3spark.io import table

    pdf = (
        table(spark, SF, "orders")
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("s"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("y"),
        )
        .toPandas()
    )
    vals = sorted(zip(pdf["s"], pdf["y"]))
    n = len(vals)
    r1 = 0.0
    i = 0
    while i < n:
        j = i
        while j < n and vals[j][0] == vals[i][0]:
            j += 1
        midrank = (i + 1 + j) / 2.0  # average of ranks i+1..j
        r1 += midrank * sum(y for _, y in vals[i:j])
        i = j
    n1 = int(sum(y for _, y in vals))
    n0 = n - n1
    want = (r1 - n1 * (n1 + 1) / 2.0) / (n1 * n0)
    row = _df(spark, "rank_metrics_auc").collect()[0]
    assert row.n_pos == n1 and row.n_neg == n0
    assert abs(row.auc - want) < 1e-12, (row.auc, want)
    assert abs(row.gini - (2 * want - 1)) < 1e-12
    assert 0.0 <= row.auc <= 1.0


def test_auc_single_class_is_null_not_throw(spark, tmp_path):
    """Degenerate guard: an all-positive label column leaves AUC/Gini
    NULL on a corpus where every order is urgent."""
    from s3spark.io import table

    src = table(spark, SF, "orders").withColumn(
        "o_orderpriority", F.lit("1-URGENT")
    )
    src.write.mode("overwrite").parquet(str(tmp_path) + "/orders.parquet")
    row = REGISTRY["rank_metrics_auc"].fn(spark, str(tmp_path)).collect()[0]
    assert row.n_neg == 0
    assert row.auc is None and row.gini is None


# ---------------------------------------------------------------------------
# stats_fisher_exact
# ---------------------------------------------------------------------------


def _fisher_two_sided(a, r1, c1, n):
    """Textbook Fisher two-sided p via math.lgamma — full double
    precision, INDEPENDENT of the engines' 6-dp truncated-decimal
    ln-factorial table."""

    def lnpmf(k):
        return (
            math.lgamma(r1 + 1)
            - math.lgamma(k + 1)
            - math.lgamma(r1 - k + 1)
            + math.lgamma(n - r1 + 1)
            - math.lgamma(c1 - k + 1)
            - math.lgamma(n - r1 - c1 + k + 1)
            - (math.lgamma(n + 1) - math.lgamma(c1 + 1) - math.lgamma(n - c1 + 1))
        )
    lo, hi = max(0, r1 + c1 - n), min(r1, c1)
    base = lnpmf(a)
    return sum(
        math.exp(lnpmf(k))
        for k in range(lo, hi + 1)
        if lnpmf(k) <= base + 1e-7
    )


def test_fisher_exact_near_lgamma_reference(spark):
    """The engine p (6-dp decimal ln table) must sit within 1% of the
    full-precision lgamma computation, include the observed table in
    the sum, and the count structure must match the raw cohort."""
    from s3spark.io import table

    pdf = (
        table(spark, SF, "customer")
        .filter(F.col("c_custkey") < 1500)
        .select("c_mktsegment", "c_acctbal")
        .toPandas()
    )
    a = int(
        ((pdf["c_mktsegment"] == "BUILDING") & (pdf["c_acctbal"] > 0)).sum()
    )
    r1 = int((pdf["c_mktsegment"] == "BUILDING").sum())
    c1 = int((pdf["c_acctbal"] > 0).sum())
    n = len(pdf)
    row = _df(spark, "stats_fisher_exact").collect()[0]
    assert (row.a, row.r1, row.c1, row.n) == (a, r1, c1, n)
    want = _fisher_two_sided(a, r1, c1, n)
    assert 0.0 < row.p_two_sided <= 1.0 + 1e-12
    assert abs(row.p_two_sided - want) <= 0.01 * max(want, 1e-12), (
        row.p_two_sided,
        want,
    )
    assert row.n_terms >= 1  # the observed table always qualifies
    assert row.sig_95 == (1 if row.p_two_sided < 0.05 else 0)


def test_fisher_exact_planted_association_is_significant(spark, tmp_path):
    """A cohort built with a strong planted association must reject
    independence; the engine p must also track lgamma on it."""
    import pandas as pd

    rows = []
    # group A: 90/100 success; group B: 30/100 success
    for i in range(200):
        in_a = i < 100
        succ = (i % 10 != 0) if in_a else (i % 10 < 3)
        rows.append(
            {
                "c_custkey": i,
                "c_name": f"c{i}",
                "c_nationkey": 0,
                "c_acctbal": 10.0 if succ else -10.0,
                "c_mktsegment": "BUILDING" if in_a else "OTHER",
            }
        )
    spark.createDataFrame(pd.DataFrame(rows)).write.mode(
        "overwrite"
    ).parquet(str(tmp_path) + "/customer.parquet")
    row = REGISTRY["stats_fisher_exact"].fn(spark, str(tmp_path)).collect()[0]
    assert (row.a, row.r1, row.c1, row.n) == (90, 100, 120, 200)
    want = _fisher_two_sided(90, 100, 120, 200)
    assert row.sig_95 == 1 and row.p_two_sided < 1e-6
    assert abs(row.p_two_sided - want) <= 0.01 * want


# ---------------------------------------------------------------------------
# ml_calibration_bins
# ---------------------------------------------------------------------------


def test_calibration_bins_match_hashlib_replay(spark):
    """Exact replay: hashlib md5 scores + python binning must
    reproduce every bin's n, mean_score, pos_rate, and Brier."""
    from s3spark.io import table

    pdf = table(spark, SF, "documents").select("text", "n_chars").toPandas()
    bins: dict = {}
    for text, n_chars in zip(pdf["text"], pdf["n_chars"]):
        s = int(hashlib.md5(text.encode()).hexdigest()[:6], 16) % 1000
        y = 1 if n_chars > 300 else 0
        b = bins.setdefault(s // 100, [0, 0, 0, 0])  # n, sum_s, pos, brier2
        b[0] += 1
        b[1] += s
        b[2] += y
        b[3] += (s - 1000 * y) ** 2
    rows = {r.bin: r for r in _df(spark, "ml_calibration_bins").collect()}
    assert set(rows) == set(bins)
    assert sum(r.n for r in rows.values()) == len(pdf)
    for k, (n, sum_s, pos, brier2) in bins.items():
        r = rows[k]
        assert r.n == n
        assert abs(r.mean_score - sum_s / (1000.0 * n)) < 1e-12
        assert abs(r.pos_rate - pos / n) < 1e-12
        assert abs(r.brier - brier2 / (1e6 * n)) < 1e-12
        # mean predicted score sits inside its own bin's bounds
        assert k / 10.0 <= r.mean_score < (k + 1) / 10.0
