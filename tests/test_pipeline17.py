"""Behavioral tests for the round-7 pipeline17 keys (batch eleven):
an exact-integer numpy replay of the Theil-Sen median slope, a
plain-python Zipf regression replay, a pandas l-diversity audit, and
plan gates for their scale shapes."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


# ---------------------------------------------------------------------------
# timeseries_theil_sen
# ---------------------------------------------------------------------------


def test_theil_sen_matches_exact_integer_replay(spark):
    """The selected order statistics and the final slope must match a
    vectorized numpy replay BIT-FOR-BIT: quantized slopes are exact
    integers, the median is pure selection, and the only float op is
    the shared (v1+v2)/2/1e6 tail."""
    from s3spark.io import table

    pdf = (
        table(spark, SF, "orders")
        .groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
            )
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("y")
        )
        .orderBy("d")
        .toPandas()
    )
    d = pdf["d"].to_numpy(dtype=np.int64)
    y = pdf["y"].to_numpy(dtype=np.int64)
    i, j = np.triu_indices(len(d), k=1)
    dy = y[j] - y[i]
    dd = d[j] - d[i]
    q = np.where(dy < 0, -1, 1) * ((np.abs(dy) * 1_000_000) // dd)
    q.sort()
    n_pairs = len(q)
    v1 = int(q[(n_pairs + 1) // 2 - 1])
    v2 = int(q[(n_pairs + 2) // 2 - 1])
    slope = (float(v1) + float(v2)) / 2.0 / 1000000.0
    r = _df(spark, "timeseries_theil_sen").collect()[0]
    assert r.n_days == len(d)
    assert r.n_pairs == n_pairs
    assert (r.slope_q_lo, r.slope_q_hi) == (v1, v2)
    assert r.slope_cents_per_day == slope
    assert r.trend_sign == (1 if slope > 0 else -1 if slope < 0 else 0)
    # the fixture's daily revenue is stationary noise: the robust
    # trend is tiny relative to the daily level (~1e8 cents)
    assert abs(slope) < 1e6


def test_theil_sen_plan_shapes(key_plan):
    """The returned plan reads only the checkpointed bucketed slopes
    (orders was reduced to the calendar-bounded daily rows at build
    time and the pair join + range bucketing ran inside the checkpoint
    job); selection filters to the ≤2 target buckets, ranks only
    those, and attaches the bucket offsets as LITERALS (round-12 —
    no offset-table join at all) — no fact rescan, no Python, no
    nested loop, no join of any kind in the returned plan."""
    plan = key_plan("timeseries_theil_sen").plan
    assert "orders.parquet" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan  # offsets are literals, not a join
    assert "Window" in plan  # in-bucket rank over the target buckets


# ---------------------------------------------------------------------------
# text_zipf_fit
# ---------------------------------------------------------------------------


def test_zipf_fit_matches_python_regression(spark):
    """slope/intercept/r2 must match a plain-python least-squares
    replay over the same deterministic rank/frequency pairs to the
    decimal(25,6) partial-sum band; the synthetic corpus must FAIL
    the Zipf screen (near-uniform 31-token vocabulary)."""
    from s3spark.io import table

    texts = table(spark, SF, "documents").select("text").toPandas()["text"]
    counts = Counter()
    for t in texts:
        counts.update(t.split(" "))
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:500]
    k = len(top)
    xs = [math.log(float(i + 1)) for i in range(k)]
    ys = [math.log(float(c)) for _, c in top]
    sx, sy = sum(xs), sum(ys)
    sxx = sum(v * v for v in xs)
    syy = sum(v * v for v in ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    inter = (sy - slope * sx) / k
    r2 = ((k * sxy - sx * sy) ** 2) / ((k * sxx - sx * sx) * (k * syy - sy * sy))
    r = _df(spark, "text_zipf_fit").collect()[0]
    assert r.n_tokens == k == 31
    assert abs(r.zipf_slope - slope) <= 1e-5
    assert abs(r.zipf_intercept - inter) <= 1e-4
    assert abs(r.r2 - r2) <= 1e-5
    assert 0.0 <= r.r2 <= 1.0
    # templated corpus: slope far above -0.5 -> screen fires
    assert -0.5 < r.zipf_slope < 0.0
    assert r.zipf_like == 0


def test_zipf_plan_distributed_topk(key_plan):
    """The top-K cut must be TakeOrderedAndProject (distributed
    partial top-K — the tokenizer_vocab_coverage rewrite pattern),
    with the rank window running only on the bounded post-limit rows;
    token counting partial-aggregates map-side; no Python."""
    plan = key_plan("text_zipf_fit").plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan
    # the only Window sits above the limit: it must appear AFTER (i.e.
    # upstream operators below it include) the TakeOrdered cut
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


# ---------------------------------------------------------------------------
# privacy_l_diversity
# ---------------------------------------------------------------------------


def test_l_diversity_matches_pandas_audit(spark):
    """Every (l -> n_groups, n_rows, releasable) row must match a
    pandas replay; the audit must be non-vacuous at sf0.01: both
    violating (l < 3) and passing (l >= 3) strata exist, and row
    conservation holds."""
    from s3spark.io import table

    cust = table(spark, SF, "customer").toPandas()
    orders = table(spark, SF, "orders").toPandas()
    cust["bal_bucket"] = np.floor(
        (cust["c_acctbal"] * 100).round().astype(np.int64).astype(np.float64)
        / 100000
    ).astype(np.int64)
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    g = j.groupby(["c_nationkey", "c_mktsegment", "bal_bucket"]).agg(
        n_rows=("o_orderkey", "size"),
        l=("o_orderpriority", "nunique"),
    )
    dist = {}
    for lv, grp in g.groupby("l"):
        dist[int(lv)] = (
            len(grp),
            int(grp["n_rows"].sum()),
            int(grp["n_rows"].sum()) if lv >= 3 else 0,
        )
    rows = {int(r.l): r for r in _df(spark, "privacy_l_diversity").collect()}
    assert set(rows) == set(dist)
    for lv, (ng, nr, rel) in dist.items():
        r = rows[lv]
        assert (r.n_groups, r.n_rows, r.releasable_rows) == (ng, nr, rel), lv
        assert r.meets_l3 == (1 if lv >= 3 else 0)
    assert sum(r.n_rows for r in rows.values()) == len(orders)
    # non-vacuity: the sparse QI produces both violating and passing strata
    assert any(lv < 3 for lv in rows) and any(lv >= 3 for lv in rows)


def test_l_diversity_plan_shapes(key_plan):
    """Fact broadcast-joins the dim; ONE map-side-combined QI shuffle;
    the l-distribution rollup runs on the bounded group table; no
    nested loop, no Python."""
    plan = key_plan("privacy_l_diversity").plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan
