"""Behavioral tests for the round-6 pipeline14 keys — independent
recomputations (hashlib bootstrap replay, a python RAKE scorer, a
pandas calendar audit, numpy percent changes) and plan gates."""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


# ---------------------------------------------------------------------------
# stats_bootstrap_ci_poisson
# ---------------------------------------------------------------------------

_THRESH = [1580030168, 3160060337, 3950075421, 4213413783, 4279248373]


def _poisson_w(doc_id: int, b: int) -> int:
    u = int(hashlib.md5(f"{doc_id}|{b}".encode()).hexdigest()[:8], 16)
    w = 0
    for t in _THRESH:
        if u >= t:
            w += 1
    return w


def test_bootstrap_matches_hashlib_replay(spark):
    """All 64 resample means replayed in plain-python hashlib must
    reproduce the engine's order-statistic CI and extremes EXACTLY
    (integer sums + one IEEE division per mean on both paths)."""
    from s3spark.io import table

    pdf = table(spark, SF, "documents").select("doc_id", "n_chars").toPandas()
    means = []
    for b in range(64):
        sw = swx = 0
        for doc_id, n in zip(pdf["doc_id"], pdf["n_chars"]):
            w = _poisson_w(int(doc_id), b)
            sw += w
            swx += w * int(n)
        means.append((swx / sw, b))
    means.sort()
    vals = [m for m, _ in means]
    r = _df(spark, "stats_bootstrap_ci_poisson").collect()[0]
    assert r.b_count == 64
    assert r.ci95_lo == vals[1]  # rank 2
    assert r.ci95_hi == vals[62]  # rank 63
    assert r.min_mean == vals[0] and r.max_mean == vals[63]
    assert r.point_mean == int(pdf["n_chars"].sum()) / len(pdf)
    # sanity: the CI brackets the point estimate and is tight-ish
    assert r.ci95_lo < r.point_mean < r.ci95_hi
    assert (r.ci95_hi - r.ci95_lo) < 0.2 * r.point_mean


def test_bootstrap_plan_shapes(key_plan):
    """The fan-out must ride the scan: per-resample sums partial-
    aggregate BEFORE the (64-group) shuffle; the only unpartitioned
    window ranks the 64 means; the point estimate is a declared 1-row
    cross join; no Python anywhere."""
    plan = key_plan("stats_bootstrap_ci_poisson").plan
    assert "BatchEvalPython" not in plan
    assert "partial_sum" in plan
    assert plan.count("Window") == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1


# ---------------------------------------------------------------------------
# text_keyword_rake
# ---------------------------------------------------------------------------


def _rake_replay(texts):
    phrases = []
    for t in texts:
        for p in re.sub(r"\b(a|the)\b", "|", t).split("|"):
            p = re.sub(" +", " ", p).strip()
            if p:
                phrases.append(p)
    freq = Counter()
    deg = Counter()
    for p in phrases:
        ws = p.split(" ")
        for w in ws:
            freq[w] += 1
            deg[w] += len(ws)
    occ = Counter(phrases)
    scores = {}
    for p in set(phrases):
        # decimal(25,6) lift of each word score term, like the engine
        s = sum(round(deg[w] / freq[w] * 1e6) / 1e6 for w in p.split(" "))
        scores[p] = s
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    return top, occ


def test_rake_matches_python_replay(spark):
    """Top-20 phrases, occurrence counts, and scores must match a
    plain-python RAKE replay (scores to the decimal(25,6) term
    rounding; python round() is half-even vs decimal HALF_UP, so the
    per-term tolerance is 1e-6 × n_words)."""
    from s3spark.io import table

    texts = [r.text for r in table(spark, SF, "documents").select("text").collect()]
    top, occ = _rake_replay(texts)
    out = _df(spark, "text_keyword_rake").collect()
    assert len(out) == 20
    assert [r.phrase for r in out] == [p for p, _ in top]
    for r, (p, s) in zip(out, top):
        assert r.n_occurrences == occ[p]
        assert r.n_words == len(p.split(" "))
        assert abs(r.score - s) <= 1.5e-6 * r.n_words, p
    # structural: no stopword survives as a standalone phrase word
    for r in out:
        assert not ({"a", "the"} & set(r.phrase.split(" "))), r.phrase


def test_rake_plan_shapes(key_plan):
    """The top-20 must be a distributed partial top-K
    (TakeOrderedAndProject — never a single-partition window); word
    stats broadcast back to the phrase words; no Python; the returned
    plan reads only the materialized phrase table (document scan
    happens once, in the write job)."""
    plan = key_plan("text_keyword_rake").plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "documents.parquet" not in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# dq_freshness_calendar_gaps
# ---------------------------------------------------------------------------


def test_freshness_matches_pandas_audit(spark):
    """Both series rows must match a pandas replay of the calendar
    spine audit; the orders series has real gaps at sf0.01 (missing
    days > 0) and the hourly events series is clean — the audit
    exercises both the gap path and the PASS path."""
    from s3spark.io import table

    out = {r.series: r for r in _df(spark, "dq_freshness_calendar_gaps").collect()}
    # orders daily replay
    od = sorted(
        {d.date() for d in pd.to_datetime(
            table(spark, SF, "orders").select("o_orderdate").toPandas()["o_orderdate"]
        )}
    )
    spine = pd.date_range(od[0], od[-1], freq="D").date
    present = set(od)
    missing = [d for d in spine if d not in present]
    runs = []
    for d in missing:
        if runs and (d - runs[-1][-1]).days == 1:
            runs[-1].append(d)
        else:
            runs.append([d])
    r = out["orders_daily"]
    assert r.span_periods == len(spine)
    assert r.present_periods == len(present)
    assert r.missing_periods == len(missing)
    assert r.missing_periods > 0  # non-vacuous gap path
    assert r.longest_gap_run == (max(len(x) for x in runs) if runs else 0)
    assert r.n_gap_runs == len(runs)
    assert r.first_period.date() == od[0] and r.last_period.date() == od[-1]
    # events hourly replay (clean series)
    ev = table(spark, SF, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).distinct().toPandas()["h"]
    e = out["events_hourly"]
    full = pd.date_range(ev.min(), ev.max(), freq="h")
    assert e.span_periods == len(full)
    assert e.present_periods == ev.nunique()
    assert e.missing_periods == len(full) - ev.nunique()
    assert e.missing_periods == 0 and e.n_gap_runs == 0 and e.longest_gap_run == 0


def test_freshness_plan_shapes(key_plan):
    """Spines are GENERATED from 1-row min/max aggregates (no join
    against the fact); every cross join is a declared 1-row
    constant build; windows run only over calendar-bounded tables."""
    plan = key_plan("dq_freshness_calendar_gaps").plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 4  # gaps+bounds per series
    assert "explode" in plan.lower() or "Generate" in plan  # generated spine


# ---------------------------------------------------------------------------
# timeseries_pct_change
# ---------------------------------------------------------------------------


def test_pct_change_matches_numpy(spark):
    """DoD/WoW percent changes and the 28-day rolling sum must match
    a numpy replay BIT-FOR-BIT (exact integer series, one identical
    IEEE division per cell)."""
    from s3spark.io import table

    daily = (
        table(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("x")
        )
        .orderBy("d")
        .toPandas()
    )
    x = daily["x"].to_numpy(dtype=np.int64)
    out = _df(spark, "timeseries_pct_change").orderBy("d").collect()
    assert len(out) == len(x)
    for i, r in enumerate(out):
        assert r.day_cents == x[i]
        if i >= 1:
            assert r.pct_dod == (int(x[i]) - int(x[i - 1])) / int(x[i - 1])
        else:
            assert r.pct_dod is None
        if i >= 7:
            assert r.pct_wow == (int(x[i]) - int(x[i - 7])) / int(x[i - 7])
        else:
            assert r.pct_wow is None
        assert r.roll28_cents == int(x[max(0, i - 27): i + 1].sum())


def test_pct_change_plan_reduces_before_window(key_plan):
    """Orders must collapse to the calendar-bounded daily series
    before the single shared window sort (lag1/lag7/rolling-28 all
    ride one Window operator)."""
    plan = key_plan("timeseries_pct_change").plan
    wpos = plan.index("Window")
    assert "partial_sum" in plan[wpos:]
    assert plan.count("Window") == 1
    assert "BatchEvalPython" not in plan
