"""Behavioral tests for the round-6 pipeline11 keys — independent
recomputations (python interval sweeps, pandas prefix sums, numpy
decomposition) and the plan gates for their scale shapes."""

from __future__ import annotations

import numpy as np
import pandas as pd

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


def _events(spark):
    from s3spark.io import table

    return table(spark, SF, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    ).toPandas()


# ---------------------------------------------------------------------------
# interval_subtract_measure
# ---------------------------------------------------------------------------


def _union_measure_us(starts, ends):
    """Measure of the union of [start, end) intervals, microseconds."""
    iv = sorted(zip(starts, ends))
    total = 0
    cur_s = cur_e = None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += int((cur_e - cur_s).value // 1000)
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += int((cur_e - cur_s).value // 1000)
    return total


def test_interval_subtract_matches_bruteforce(spark):
    """active/blacked/effective must equal an independent python
    union-measure computation: active = |union(A)|, blacked =
    |union(A) ∩ union(B)| via |A| + |B| − |A ∪ B|."""
    rows = {r.user_id: r for r in _df(spark, "interval_subtract_measure").collect()}
    ev = _events(spark)
    for uid, g in ev.groupby("user_id"):
        a = g[g.event_type == "purchase"]["ts"]
        b = g[g.event_type == "error"]["ts"]
        if a.empty and b.empty:
            assert uid not in rows
            continue
        am = _union_measure_us(a, a + pd.Timedelta(minutes=30))
        bm = _union_measure_us(b, b + pd.Timedelta(hours=2))
        both = _union_measure_us(
            list(a) + list(b),
            list(a + pd.Timedelta(minutes=30)) + list(b + pd.Timedelta(hours=2)),
        )
        inter = am + bm - both
        r = rows[uid]
        assert r.active_us == am, uid
        assert r.blacked_us == inter, uid
        assert r.effective_us == am - inter, uid


def test_interval_subtract_plan_single_window_single_exchange(key_plan):
    """Both coverage cumsums and the lead share ONE Window operator
    on one user_id hash exchange; the per-user aggregate reuses it."""
    plan = key_plan("interval_subtract_measure").plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window [") == 1
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# window_cumulative_reset
# ---------------------------------------------------------------------------


def test_cumulative_reset_matches_pandas(spark):
    """Segment labels and running sums must equal a pandas groupby
    recomputation: segments increment AT each signup (inclusive) and
    the running total restarts there."""
    got = (
        _df(spark, "window_cumulative_reset")
        .toPandas()
        .set_index("event_id")
        .sort_index()
    )
    ev = _events(spark).sort_values(["user_id", "ts", "event_id"])
    ev["seg"] = (
        (ev.event_type == "signup")
        .astype(int)
        .groupby(ev.user_id)
        .cumsum()
    )
    ev["v"] = ev["value"].round(2)
    ev["cum"] = ev.groupby(["user_id", "seg"])["v"].cumsum()
    for _, r in ev.sample(n=500, random_state=7).iterrows():
        g = got.loc[r.event_id]
        assert g.segment == r.seg
        assert abs(g.cum_since_reset - r.cum) < 1e-6
    # every signup row starts its own segment with its own value
    signups = ev[ev.event_type == "signup"]
    for _, r in signups.sample(n=50, random_state=7).iterrows():
        assert abs(got.loc[r.event_id].cum_since_reset - r.v) < 1e-6


def test_cumulative_reset_plan_shares_user_exchange(key_plan):
    """The segment window and the per-segment running sum must share
    the user_id hash partitioning — one exchange, two windows."""
    plan = key_plan("window_cumulative_reset").plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# event_transition_matrix
# ---------------------------------------------------------------------------


def test_transition_matrix_matches_pandas_and_normalizes(spark):
    rows = _df(spark, "event_transition_matrix").collect()
    ev = _events(spark).sort_values(["user_id", "ts", "event_id"])
    ev["prev"] = ev.groupby("user_id")["event_type"].shift(1)
    pairs = (
        ev.dropna(subset=["prev"])
        .groupby(["prev", "event_type"])
        .size()
        .to_dict()
    )
    got = {(r.prev, r.curr): r.n for r in rows}
    assert got == pairs
    # row-normalization: probabilities per prev sum to 1
    byprev = {}
    for r in rows:
        byprev.setdefault(r.prev, []).append(r.p)
    for prev, ps in byprev.items():
        assert abs(sum(ps) - 1.0) < 1e-12, prev


# ---------------------------------------------------------------------------
# timeseries_seasonal_decompose
# ---------------------------------------------------------------------------


def test_seasonal_decompose_matches_numpy(spark):
    """The seasonal profile must equal an independent numpy
    recomputation of the same definition (hourly decimal sums,
    centered ±12 rolling mean with shrinking edge frames,
    hour-of-day means of the detrended series)."""
    rows = _df(spark, "timeseries_seasonal_decompose").collect()
    ev = _events(spark)
    ev["h"] = ev["ts"].dt.floor("h")
    hourly = (
        ev.assign(v=ev["value"].round(2))
        .groupby("h")["v"]
        .sum()
        .sort_index()
    )
    v = hourly.to_numpy()
    n = len(v)
    trend = np.array(
        [v[max(0, i - 12) : min(n, i + 13)].mean() for i in range(n)]
    )
    det = v - trend
    hod = hourly.index.hour.to_numpy()
    for r in rows:
        mask = hod == r.hour_of_day
        assert r.n_hours == int(mask.sum())
        assert abs(r.seasonal - det[mask].mean()) < 1e-6, r.hour_of_day
    assert len(rows) == 24


def test_seasonal_decompose_plan_reduces_before_windows(key_plan):
    """The raw event scan must collapse to the hourly series (partial
    aggregate) BEFORE any window: the unpartitioned windows run over
    the calendar-bounded table only."""
    plan = key_plan("timeseries_seasonal_decompose").plan
    wpos = plan.index("Window")
    assert "partial_sum" in plan[wpos:]
    assert "BatchEvalPython" not in plan
