"""Behavioral tests for the round-7 pipeline16 keys (batch ten):
bit-for-bit plain-python/numpy replays of the Welch, Mann-Whitney and
Spearman statistics, a hashlib replay of the portable HLL registers,
and plan gates for their scale shapes."""

from __future__ import annotations

import hashlib
import math

import numpy as np
from pyspark.sql import functions as F

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


def _cohorts(spark):
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
# stats_welch_ttest
# ---------------------------------------------------------------------------


def test_welch_matches_plain_python_bit_for_bit(spark):
    """Every double output must equal a plain-python recomputation
    from the same exact integers BIT-FOR-BIT: both sides perform the
    identical sequence of correctly-rounded casts and IEEE ops."""
    v, is_a = _cohorts(spark)
    a, b = v[is_a == 1], v[is_a == 0]
    n1, n2 = len(a), len(b)
    s1, s2 = int(a.sum()), int(b.sum())
    q1 = sum(int(x) * int(x) for x in a)
    q2 = sum(int(x) * int(x) for x in b)
    m1, m2 = float(s1) / float(n1), float(s2) / float(n2)
    var1 = float(n1 * q1 - s1 * s1) / float(n1 * (n1 - 1))
    var2 = float(n2 * q2 - s2 * s2) / float(n2 * (n2 - 1))
    a1, a2 = var1 / float(n1), var2 / float(n2)
    t = (m1 - m2) / math.sqrt(a1 + a2)
    dof = ((a1 + a2) * (a1 + a2)) / (
        (a1 * a1) / float(n1 - 1) + (a2 * a2) / float(n2 - 1)
    )
    r = _df(spark, "stats_welch_ttest").collect()[0]
    assert (r.n1, r.n2) == (n1, n2)
    assert r.mean1 == m1 and r.mean2 == m2
    assert r.var1 == var1 and r.var2 == var2
    assert r.t_stat == t
    assert r.dof_welch == dof
    assert r.sig_95 == (1 if abs(t) > 1.959964 else 0)
    # urgent orders are a uniform slice: same distribution, huge dof
    assert abs(t) < 5.0 and dof > 1000.0


def test_welch_plan_is_one_reduction(key_plan):
    """One scan → one map-side-combined 2-group reduction → 1-row
    pivot.  No join, no window, no Python, no nested loop."""
    plan = key_plan("stats_welch_ttest").plan
    for op in ("Join", "Window", "BatchEvalPython", "CartesianProduct"):
        assert op not in plan, op
    assert "partial_" in plan  # map-side combine


# ---------------------------------------------------------------------------
# stats_mann_whitney_u
# ---------------------------------------------------------------------------


def test_mann_whitney_matches_exact_integer_replay(spark):
    """U, z, and the rank-biserial effect size must equal an
    exact-integer replay BIT-FOR-BIT (doubled midranks keep every
    intermediate integral; the float tail is the same op sequence)."""
    v, is_a = _cohorts(spark)
    order = np.argsort(v, kind="stable")
    vs, aa = v[order], is_a[order]
    uniq, idx = np.unique(vs, return_index=True)
    ca = np.add.reduceat(aa, idx).astype(object)
    cnt = np.diff(np.append(idx, len(vs))).astype(object)
    cb = cnt - ca
    cl = np.concatenate([[0], np.cumsum(cnt)[:-1]])
    na, nb = int(sum(ca)), int(sum(cb))
    n = na + nb
    r2a = int(sum(int(c) * (2 * int(l) + int(t) + 1) for c, l, t in zip(ca, cl, cnt)))
    u2 = r2a - na * (na + 1)
    t3 = int(sum(int(t) ** 3 - int(t) for t in cnt))
    ud = float(u2) / 2.0
    mu = float(na) * float(nb) / 2.0
    sg = math.sqrt(
        (float(na) * float(nb) / 12.0)
        * ((float(n) + 1.0) - float(t3) / (float(n) * (float(n) - 1.0)))
    )
    z = (ud - mu) / sg
    rb = 1.0 - float(u2) / (float(na) * float(nb))
    r = _df(spark, "stats_mann_whitney_u").collect()[0]
    assert (r.na, r.nb, r.n_cells) == (na, nb, len(uniq))
    assert r.u_stat == ud
    assert r.z == z
    assert r.rank_biserial == rb
    assert r.sig_95 == (1 if abs(z) > 1.959964 else 0)
    # same underlying distribution: |z| small, effect size near zero
    assert abs(z) < 5.0 and abs(rb) < 0.1


def test_mann_whitney_plan_shapes(key_plan):
    """The returned plan reads the materialized cell table (the fact
    is scanned exactly once, in the write job); exactly one declared
    1-row stats BNLJ; the rank windows are bucket-partitioned."""
    plan = key_plan("stats_mann_whitney_u").plan
    assert "orders.parquet" not in plan
    # the 1-row range-stats crossJoin appears TWICE: the bucketed cell
    # table has two consumers (local windows + bucket totals) and Spark
    # plans are trees — both copies scan the bounded, materialized cell
    # scratch, which is exactly why _with_cum_less materializes it
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "windowspecdefinition(bkt" in plan  # two-level, not global


# ---------------------------------------------------------------------------
# stats_spearman_corr
# ---------------------------------------------------------------------------


def test_spearman_matches_exact_rank_replay(spark):
    """rho and t must equal the doubled-midrank exact-integer replay
    BIT-FOR-BIT, and agree with pandas' independent float-path
    spearman to 1e-9 relative."""
    from s3spark.io import table

    pdf = (
        table(spark, SF, "lineitem")
        .selectExpr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x",
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " * (100 - CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT))"
            " * (100 + CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT)) AS y",
        )
        .toPandas()
    )
    rx = (pdf["x"].rank(method="average") * 2).astype(np.int64).to_numpy()
    ry = (pdf["y"].rank(method="average") * 2).astype(np.int64).to_numpy()
    n = len(pdf)
    sx = int(rx.astype(object).sum())
    sy = int(ry.astype(object).sum())
    sxx = int((rx.astype(object) * rx.astype(object)).sum())
    syy = int((ry.astype(object) * ry.astype(object)).sum())
    sxy = int((rx.astype(object) * ry.astype(object)).sum())
    num = n * sxy - sx * sy
    d1 = n * sxx - sx * sx
    d2 = n * syy - sy * sy
    rho = float(num) / math.sqrt(float(d1) * float(d2))
    t = rho * math.sqrt((float(n) - 2.0) / (1.0 - rho * rho))
    r = _df(spark, "stats_spearman_corr").collect()[0]
    assert r.n_rows == n
    assert r.n_distinct_x == pdf["x"].nunique()
    assert r.n_distinct_y == pdf["y"].nunique()
    assert r.rho_spearman == rho
    assert r.t_stat == t
    assert r.sig_95 == (1 if abs(t) > 1.959964 else 0)
    # independent cross-check: numpy's float Pearson over the midranks
    # (scipy is not in this container, so no pandas spearman)
    ref = float(np.corrcoef(rx.astype(np.float64), ry.astype(np.float64))[0, 1])
    assert abs(rho - ref) <= 1e-9 * max(1.0, abs(ref))
    # gross charge = ext*(1-disc)*(1+tax): near-perfect rank agreement,
    # but the +-10% noise must actually reshuffle some ranks (rho < 1)
    assert 0.9 < rho < 0.99999 and r.sig_95 == 1


def test_spearman_plan_shapes(key_plan):
    """The returned plan reads the materialized row/cell scratch
    tables (ONE lineitem scan total, in the row write job); the two
    1-row range-stats broadcasts are the only BNLJs; the x rank map
    joins by broadcast; no Python."""
    plan = key_plan("stats_spearman_corr").plan
    assert "lineitem.parquet" not in plan
    # two rank maps x two plan-tree copies of each 1-row range-stats
    # crossJoin (see the Mann-Whitney gate) = 4, plus the two 1-row
    # distinct-count broadcasts — all over bounded materialized
    # cell/rows scratch
    assert 4 <= plan.count("BroadcastNestedLoopJoin") <= 8
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") >= 1  # the explicit x-map broadcast


# ---------------------------------------------------------------------------
# agg_hll_hand_portable
# ---------------------------------------------------------------------------


def _hll_replay(spark):
    from s3spark.io import table

    ords = (
        table(spark, SF, "orders")
        .select("o_orderpriority", "o_custkey")
        .toPandas()
    )
    parts = table(spark, SF, "part").select("p_type", "p_brand").toPandas()
    elems = [
        ("ord:" + p, str(k))
        for p, k in zip(ords["o_orderpriority"], ords["o_custkey"])
    ] + [
        ("brand:" + ty.split(" ")[0], b)
        for ty, b in zip(parts["p_type"], parts["p_brand"])
    ]
    regs: dict = {}
    for grp, e in elems:
        h = int(hashlib.md5(e.encode()).hexdigest()[:15], 16)
        idx, rest = h >> 52, h & ((1 << 52) - 1)
        rho = 53 if rest == 0 else 53 - rest.bit_length()
        regs[(grp, idx)] = max(regs.get((grp, idx), 0), rho)
    merged: dict = {}
    for (grp, idx), m in regs.items():
        if grp.startswith("ord:"):
            merged[idx] = max(merged.get(idx, 0), m)
    for idx, m in merged.items():
        regs[("ord:ALL", idx)] = m
    out = {}
    for grp in {g for g, _ in regs}:
        ms = [m for (g, i), m in regs.items() if g == grp]
        v_zero = 256 - len(ms)
        s = v_zero * (1 << 53) + sum(1 << (53 - m) for m in ms)
        raw = 4.2399330249068963e20 / float(s)
        est = (
            256.0 * math.log(256.0 / float(v_zero))
            if raw <= 640.0 and v_zero > 0
            else raw
        )
        out[grp] = (v_zero, est)
    exact = {
        "ord:" + p: g["o_custkey"].nunique()
        for p, g in ords.groupby("o_orderpriority")
    }
    exact["ord:ALL"] = ords["o_custkey"].nunique()
    parts["tg"] = parts["p_type"].str.split(" ").str[0]
    for m, g in parts.groupby("tg"):
        exact["brand:" + m] = g["p_brand"].nunique()
    return out, exact


def test_hll_registers_match_hashlib_replay(spark):
    """Register contents are deterministic: v_zero matches the hashlib
    replay exactly and the estimate to the decimal(25,6) quantization;
    the merged 'ord:ALL' row proves max-merge; both estimator branches
    fire (raw HLL for the ~1,300-key groups, linear counting for the
    5-brand groups); relative error within the ~1.04/sqrt(256) band."""
    rep, exact = _hll_replay(spark)
    rows = {r.grp: r for r in _df(spark, "agg_hll_hand_portable").collect()}
    assert set(rows) == set(rep) == set(exact)
    for grp, r in rows.items():
        v_zero, est = rep[grp]
        assert r.v_zero == v_zero, grp
        assert abs(r.est_distinct - est) <= 1e-6, grp
        assert r.exact_distinct == exact[grp], grp
        assert r.rel_err < 0.25, grp  # ~3.8 sigma at m=256
    # branch coverage: every brand group used linear counting (tiny n,
    # most registers empty), every ord group used the raw HLL path
    for grp, r in rows.items():
        if grp.startswith("brand:"):
            assert r.v_zero > 200 and r.exact_distinct <= 30, grp
        else:
            assert r.v_zero < 50 and r.exact_distinct > 1000, grp
    # mergeability: the union estimate is >= every per-group estimate
    all_est = rows["ord:ALL"].est_distinct
    assert all(
        all_est >= rows[g].est_distinct - 1e-9 for g in rows if g.startswith("ord:")
    )


def test_hll_plan_shapes(key_plan):
    """The returned plan reads the materialized register table (the
    union scan runs once, in the write job) plus the single exact-side
    rollup scan; hash equi-joins only; no Python, no nested loop."""
    plan = key_plan("agg_hll_hand_portable").plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("orders.parquet") <= 1  # exact-side rollup only


def test_with_cum_less_overflow_guard(spark):
    """Round-8 ADVICE pin: with_cum_less's bucket arithmetic assumes
    the value spread (hi - lo) fits BIGINT.  A cell table spanning
    more than 2^63 must FAIL with the raise_error message, never wrap
    silently into corrupt bucket ids; values inside the safe range
    still rank exactly."""
    import pytest

    from s3spark.queries._prefix import with_cum_less

    # spread = (2^62) - (-2^62) = 2^63 -> wraps negative in BIGINT
    bad = spark.createDataFrame(
        [(-(2**62), 1), (2**62, 1)], "v long, cnt long"
    )
    with pytest.raises(Exception, match="value spread exceeds BIGINT"):
        with_cum_less(spark, bad, "prefix_guard_bad").collect()

    # a wide-but-safe spread (just under 2^63) still ranks exactly
    lo, hi = -(2**61), 2**61
    ok = spark.createDataFrame(
        [(lo, 2), (0, 3), (hi, 1)], "v long, cnt long"
    )
    got = {
        r["v"]: r["cum_less"]
        for r in with_cum_less(spark, ok, "prefix_guard_ok").collect()
    }
    assert got == {lo: 0, 0: 2, hi: 5}
