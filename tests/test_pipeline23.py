"""Behavioral tests for the round-10 pipeline23 keys: python
moment/rank replays for ANOVA and Kruskal-Wallis, degenerate-input
guards, a pandas profile replay, and the single-scan plan gate."""

from __future__ import annotations

from pyspark.sql import functions as F

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


def _cents(spark):
    from s3spark.io import table

    return (
        table(spark, SF, "orders")
        .select(
            "o_orderpriority",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("v"),
        )
        .toPandas()
    )


# ---------------------------------------------------------------------------
# stats_anova_oneway
# ---------------------------------------------------------------------------


def test_anova_matches_python_moments(spark):
    pdf = _cents(spark)
    groups = {
        g: list(sub["v"]) for g, sub in pdf.groupby("o_orderpriority")
    }
    n = len(pdf)
    k = len(groups)
    mean = sum(pdf["v"]) / n
    ssw = sum(
        sum((x - sum(xs) / len(xs)) ** 2 for x in xs)
        for xs in groups.values()
    )
    ssb = sum(
        len(xs) * (sum(xs) / len(xs) - mean) ** 2 for xs in groups.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    row = _df(spark, "stats_anova_oneway").collect()[0]
    assert (row.k_groups, row.n) == (k, n)
    assert abs(row.ss_within - ssw) <= 1e-9 * ssw
    assert abs(row.ss_between - ssb) <= 1e-6 * max(ssb, 1.0)
    assert abs(row.f_stat - f) <= 1e-6 * max(abs(f), 1.0)
    assert abs(row.eta_sq - ssb / (ssb + ssw)) <= 1e-9


def test_anova_single_group_is_null(spark, tmp_path):
    from s3spark.io import table

    table(spark, SF, "orders").withColumn(
        "o_orderpriority", F.lit("ONLY")
    ).write.mode("overwrite").parquet(str(tmp_path) + "/orders.parquet")
    row = (
        REGISTRY["stats_anova_oneway"].fn(spark, str(tmp_path)).collect()[0]
    )
    assert row.k_groups == 1 and row.f_stat is None


# ---------------------------------------------------------------------------
# stats_kruskal_wallis
# ---------------------------------------------------------------------------


def test_kruskal_matches_python_midranks(spark):
    pdf = _cents(spark)
    vals = sorted(zip(pdf["v"], pdf["o_orderpriority"]))
    n = len(vals)
    # midranks over ties
    rsum: dict = {}
    cnts: dict = {}
    tie_sum = 0
    i = 0
    while i < n:
        j = i
        while j < n and vals[j][0] == vals[i][0]:
            j += 1
        t = j - i
        tie_sum += t * t * t - t
        midrank = (i + 1 + j) / 2.0
        for _, g in vals[i:j]:
            rsum[g] = rsum.get(g, 0.0) + midrank
            cnts[g] = cnts.get(g, 0) + 1
        i = j
    h = (12.0 / (n * (n + 1))) * sum(
        r * r / cnts[g] for g, r in rsum.items()
    ) - 3 * (n + 1)
    h /= 1.0 - tie_sum / (n**3 - n)
    row = _df(spark, "stats_kruskal_wallis").collect()[0]
    assert row.k_groups == len(cnts) and row.n == n
    assert abs(row.h_stat - h) <= 1e-6 * max(abs(h), 1.0), (row.h_stat, h)
    assert row.sig_95 == (1 if h > 9.487729 else 0)


def test_kruskal_all_tied_is_null_not_throw(spark, tmp_path):
    """Every value identical: the tie correction hits zero — NULL H,
    sig 0, no DIVIDE_BY_ZERO on either engine."""
    from s3spark.io import table

    table(spark, SF, "orders").withColumn(
        "o_totalprice", F.lit(100.0)
    ).write.mode("overwrite").parquet(str(tmp_path) + "/orders.parquet")
    row = (
        REGISTRY["stats_kruskal_wallis"].fn(spark, str(tmp_path)).collect()[0]
    )
    assert row.h_stat is None and row.sig_95 == 0


# ---------------------------------------------------------------------------
# dq_column_profile
# ---------------------------------------------------------------------------


def test_column_profile_matches_pandas(spark):
    from s3spark.io import table

    pdf = table(spark, SF, "orders").toPandas()
    rows = {r.col: r for r in _df(spark, "dq_column_profile").collect()}
    assert set(rows) == {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    }
    for c, r in rows.items():
        assert r.n_rows == len(pdf)
        assert r.n_null == int(pdf[c].isna().sum())
        assert r.n_distinct == pdf[c].nunique()
    assert rows["o_orderstatus"].min_s == min(pdf["o_orderstatus"])
    assert rows["o_orderpriority"].max_s == max(pdf["o_orderpriority"])
    assert rows["o_orderkey"].n_distinct == len(pdf)  # key uniqueness
    # r10 ADVICE regression guards: numeric/date extremes are TRUE
    # extremes, not lexicographic string extremes
    assert rows["o_orderkey"].min_s == str(int(pdf["o_orderkey"].min()))
    assert rows["o_orderkey"].max_s == str(int(pdf["o_orderkey"].max()))
    assert rows["o_totalprice"].min_s == f"{float(pdf['o_totalprice'].min()):.2f}"
    assert rows["o_totalprice"].max_s == f"{float(pdf['o_totalprice'].max()):.2f}"
    assert rows["o_orderdate"].min_s == str(pdf["o_orderdate"].min())[:10]


def test_column_profile_two_scans_one_expand(key_plan):
    """The 6 exact COUNT(DISTINCT)s must compile to ONE Expand pass
    over ONE scan (six separate distinct jobs is the naive plan this
    key exists to avoid); the plain rows/nulls/min-max aggregate is a
    SECOND scan with no Expand — measured 2.6x cheaper than hauling
    the plain aggregates through the x7 fan-out (PLANS.md
    "Round-11 additions")."""
    plan = key_plan("dq_column_profile").plan
    assert plan.count("orders.parquet") == 2, plan
    assert plan.count("Expand") == 1, plan
