"""Behavioral tests for the round-6 pipeline15 keys (batch nine —
distribution testing / drift detection): independent recomputations
(plain-python chi-square, exact-integer KS, numpy PSI) and plan gates
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


def _cohort_cents(spark):
    """(value_cents, is_urgent) arrays shared by the KS and PSI replays."""
    from s3spark.io import table

    pdf = (
        table(spark, SF, "orders")
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("v"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("is_a"),
        )
        .toPandas()
    )
    return pdf["v"].to_numpy(dtype=np.int64), pdf["is_a"].to_numpy(dtype=np.int64)


# ---------------------------------------------------------------------------
# stats_chi2_independence
# ---------------------------------------------------------------------------


def test_chi2_matches_plain_python(spark):
    """chi2 must match an exact-integer plain-python recomputation of
    (o·n − r·c)²/(n·r·c) per cell to the decimal(25,6) partial-sum
    rounding band (25 cells × 0.5e-6 quantization each)."""
    from s3spark.io import table

    pdf = (
        table(spark, SF, "orders")
        .join(
            table(spark, SF, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("o"))
        .toPandas()
    )
    cells = {
        (r.c_mktsegment, r.o_orderpriority): int(r.o) for r in pdf.itertuples()
    }
    rows = {}
    cols = {}
    for (s, p), o in cells.items():
        rows[s] = rows.get(s, 0) + o
        cols[p] = cols.get(p, 0) + o
    n = sum(cells.values())
    chi2 = 0.0
    for (s, p), o in cells.items():
        num = (o * n - rows[s] * cols[p]) ** 2  # exact python int
        den = n * rows[s] * cols[p]
        chi2 += float(num) / float(den)
    r = _df(spark, "stats_chi2_independence").collect()[0]
    assert r.n_obs == n == 15000  # every sf0.01 order joins a customer
    assert r.n_cells == len(cells) == 25
    assert r.dof == 16
    assert abs(r.chi2 - chi2) <= 5e-7 * 25 + 1e-12
    assert r.reject_independence_05 == (1 if r.chi2 > 26.296228 else 0)
    # segment and priority are assigned independently by the generator:
    # the test must NOT reject at alpha=0.05-ish scale (sanity band)
    assert r.chi2 < 3 * 26.296228


def test_chi2_plan_broadcasts_dim_one_fact_shuffle(key_plan):
    """The fact side joins the customer dim via broadcast hash join and
    partial-aggregates map-side; every window runs on the bounded
    25-cell table — no nested loop, no Python, no extra fact shuffle."""
    plan = key_plan("stats_chi2_independence").plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan  # map-side combine before the cell shuffle


# ---------------------------------------------------------------------------
# stats_ks_two_sample
# ---------------------------------------------------------------------------


def test_ks_matches_exact_integer_replay(spark):
    """D must equal the exact-integer numpy/python replay BIT-FOR-BIT:
    the argmax runs on scaled integers (no float), and the reported
    statistic is one IEEE division of exact integers — identical on
    both sides."""
    v, is_a = _cohort_cents(spark)
    order = np.argsort(v, kind="stable")
    vs, aa = v[order], is_a[order]
    uniq, idx = np.unique(vs, return_index=True)
    ca = np.add.reduceat(aa, idx)
    cb = np.add.reduceat(1 - aa, idx)
    cuma = np.cumsum(ca.astype(object))  # python-int exact
    cumb = np.cumsum(cb.astype(object))
    na, nb = int(cuma[-1]), int(cumb[-1])
    dscaled = np.abs(cuma * nb - cumb * na)
    dmax = int(max(dscaled))
    at_value = int(uniq[np.flatnonzero(dscaled == dmax)[0]])  # MIN(v) tie-break
    r = _df(spark, "stats_ks_two_sample").collect()[0]
    assert (r.na, r.nb) == (na, nb)
    assert r.n_cells == len(uniq)
    assert r.at_value == at_value
    assert r.d_stat == float(dmax) / (float(na) * float(nb))  # bit-for-bit
    crit = 1.358 * math.sqrt((float(na) + float(nb)) / (float(na) * float(nb)))
    assert r.ks_crit_05 == crit
    assert r.drift_flag == (1 if r.d_stat > crit else 0)
    # non-vacuity: both cohorts populated, D strictly positive
    assert na > 1000 and nb > 1000 and 0.0 < r.d_stat < 1.0


def test_ks_plan_never_single_partition_sorts_cells(spark, key_plan):
    """The distinct-value cell table must NEVER pass through a global
    unpartitioned window: the cumsum is per-bucket windows (partitioned
    by bkt) plus a ≤64-row offset table.  The checkpoint jobs carry the
    windows, so gate the returned plan for the cheap tail reads and
    rebuild the mid-pipeline window stage over an equivalent cell
    table (round-12: the cells are a localCheckpoint now, not parquet
    scratch, so derive them from orders directly)."""
    import re

    from s3spark.io import table

    # returned plan: reads the checkpointed diff table only — the fact
    # is scanned exactly once, inside the cell checkpoint job
    plan = key_plan("stats_ks_two_sample").plan
    assert "orders.parquet" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # rebuild the mid-pipeline window stage the operator executes and
    # assert its Window is partitioned by the bucket id (the two-level
    # scheme), not a global ORDER BY over all cells
    cell = (
        table(spark, SF, "orders")
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("v"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("is_a"),
        )
        .groupBy("v")
        .agg(F.sum("is_a").cast("bigint").alias("ca"))
    )
    assert cell.count() > 1000  # distinct order values at sf0.01
    from pyspark.sql import Window

    wb = Window.partitionBy("bkt").orderBy("v")
    staged = (
        cell.withColumn("bkt", (F.col("v") % 64).cast("bigint"))
        .select("v", F.sum("ca").over(wb).alias("la"))
    )
    sp = staged._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Window .*partitionBy|Window \[.*windowspecdefinition\(bkt", sp)


# ---------------------------------------------------------------------------
# dq_drift_psi
# ---------------------------------------------------------------------------


def test_psi_matches_numpy_replay(spark):
    """Per-bin counts must match a numpy replay exactly; psi terms and
    the total to the decimal(25,6) rounding band (10 bins)."""
    v, is_a = _cohort_cents(spark)
    lo, hi = int(v.min()), int(v.max())
    bins = np.minimum(9, (v - lo) * 10 // (hi - lo + 1))
    out = {int(r.bin): r for r in _df(spark, "dq_drift_psi").collect()}
    assert set(out) == set(range(10))  # all 10 bins non-empty
    na, nb = int(is_a.sum()), int((1 - is_a).sum())
    psi = 0.0
    for b in range(10):
        ca = int(is_a[bins == b].sum())
        cb = int((1 - is_a[bins == b]).sum())
        assert (out[b].n_a, out[b].n_b) == (ca, cb), b
        assert ca > 0 and cb > 0, b  # the docstring's no-smoothing claim
        pa, pb = ca / na, cb / nb
        term = (pa - pb) * math.log(pa / pb)
        assert abs(out[b].psi_term - term) <= 5e-7 + 1e-12, b
        psi += term
    r0 = out[0]
    assert abs(r0.psi_total - psi) <= 5e-7 * 10 + 1e-12
    # urgent orders are a uniform random slice of order values: the two
    # distributions are identical by construction, so NO drift warning
    assert r0.drift_warning == 0
    assert r0.psi_total < 0.1


def test_psi_plan_one_fact_shuffle_to_bins(key_plan):
    """One scan, row-local bin ids off the 1-row broadcast, ONE
    map-side-combined shuffle to 10 bins; exactly one declared
    constant-build BNLJ (the min/max broadcast), no Python."""
    plan = key_plan("dq_drift_psi").plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_sum" in plan  # map-side combine before the bin shuffle
