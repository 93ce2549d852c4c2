"""Behavioral tests for the round-7 pipeline18 keys (batch twelve):
a hashlib bit-for-bit replay of the permutation test, a pandas
trigram-novelty replay, a pandas sequence-audit replay, and plan
gates."""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


# ---------------------------------------------------------------------------
# stats_permutation_test
# ---------------------------------------------------------------------------


def test_permutation_test_matches_hashlib_replay(spark):
    """obs_diff, n_extreme and the p-value must match a plain-python
    hashlib replay BIT-FOR-BIT: integer sums are exact, the label
    threshold is exact, and every mean difference evaluates the same
    float op sequence."""
    from s3spark.io import table

    pdf = (
        table(spark, SF, "orders")
        .selectExpr(
            "o_orderkey AS k",
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x",
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a",
        )
        .toPandas()
    )
    k = pdf["k"].to_numpy(dtype=np.int64)
    x = pdf["x"].to_numpy(dtype=np.int64)
    ia = pdf["is_a"].to_numpy(dtype=np.int64)
    n1, n = int(ia.sum()), len(pdf)
    t32 = (n1 * 4294967296) // n
    sa, ca = int((x * ia).sum()), n1
    sr, cr = int((x * (1 - ia)).sum()), n - n1
    obs = float(sa) / float(ca) - float(sr) / float(cr)
    n_extreme = 0
    hexes = {
        g: [hashlib.md5(f"{ki}|{g}".encode()).hexdigest() for ki in k]
        for g in range(16)
    }
    for b in range(64):
        g, w = b // 4, b % 4
        lab = np.array(
            [int(hx[8 * w : 8 * w + 8], 16) < t32 for hx in hexes[g]],
            dtype=np.int64,
        )
        psa, pca = int((x * lab).sum()), int(lab.sum())
        psr, pcr = int((x * (1 - lab)).sum()), int((1 - lab).sum())
        d = float(psa) / float(pca) - float(psr) / float(pcr)
        if abs(d) >= abs(obs):
            n_extreme += 1
    p = float(1 + n_extreme) / float(65)
    r = _df(spark, "stats_permutation_test").collect()[0]
    assert (r.n1, r.n2) == (n1, n - n1)
    assert r.obs_diff == obs
    assert r.b_count == 64
    assert r.n_extreme == n_extreme
    assert r.p_value == p
    assert r.reject_05 == (1 if p <= 0.05 else 0)
    # urgent orders are a uniform slice: the test must NOT reject
    assert r.reject_05 == 0 and 0.0 < r.p_value <= 1.0


def test_permutation_plan_one_fanout_shuffle(key_plan):
    """The x64 fan-out rides the scan; one map-side-combined shuffle
    to 64 rows; 1-row broadcasts only; no Python."""
    plan = key_plan("stats_permutation_test").plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert 2 <= plan.count("BroadcastNestedLoopJoin") <= 6
    assert "partial_sum" in plan
    assert "Generate explode" in plan  # row-local fan-out, not a join


# ---------------------------------------------------------------------------
# text_ngram_novelty
# ---------------------------------------------------------------------------


def test_novelty_matches_pandas_replay(spark):
    """Per-source novelty stats must match a pandas replay through the
    same decimal(25,6) share quantization."""
    from s3spark.io import table

    d = table(spark, SF, "documents").select("doc_id", "source", "text").toPandas()
    df_count: dict = {}
    doc_tris: dict = {}
    for r in d.itertuples():
        toks = r.text.split(" ")
        if len(toks) < 3:
            continue
        tris = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        doc_tris[(r.doc_id, r.source)] = tris
        for t in tris:
            df_count[t] = df_count.get(t, 0) + 1
    per_source: dict = {}
    q = Decimal("0.000001")
    for (doc, src), tris in doc_tris.items():
        novel = sum(1 for t in tris if df_count[t] == 1)
        share = Decimal(repr(float(novel) / float(len(tris)))).quantize(
            q, ROUND_HALF_UP
        )
        per_source.setdefault(src, []).append(share)
    rows = {r.source: r for r in _df(spark, "text_ngram_novelty").collect()}
    assert set(rows) == set(per_source)
    for src, shares in per_source.items():
        r = rows[src]
        assert r.n_docs_scored == len(shares), src
        avg = float(sum(shares)) / float(len(shares))
        assert abs(r.avg_novelty - avg) <= 1e-9, src
        assert abs(r.min_novelty - float(min(shares))) <= 1e-9, src
        assert abs(r.max_novelty - float(max(shares))) <= 1e-9, src
        assert 0.0 <= r.avg_novelty <= 1.0
    # non-vacuity: the synthetic corpus repeats its 31-token vocabulary
    # heavily, so novelty must be strictly between the extremes overall
    assert any(0.0 < r.avg_novelty < 1.0 for r in rows.values())


def test_novelty_plan_shapes(key_plan):
    """One distinct (doc,trigram) shuffle, df attached as a WINDOW
    count over the trigram key (round 13 — the old groupBy +
    equi-join-back shape replayed the shingle subtree on both join
    sides; this gate previously pinned exactly 1 hash join and now
    pins the strictly better 0-join form), bounded source rollup;
    no nested loop, no Python."""
    plan = key_plan("text_ngram_novelty").plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan  # the per-doc/per-source aggregates
    assert "Window" in plan
    n_hash_joins = (
        plan.count("BroadcastHashJoin")
        + plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
    )
    assert n_hash_joins == 0  # df rides the window, no join back


# ---------------------------------------------------------------------------
# dq_sequence_id_audit
# ---------------------------------------------------------------------------


def test_sequence_audit_matches_pandas(spark):
    """All audit columns must match a pandas replay for the clean and
    the two simulated defect feeds; the defect columns fire."""
    from s3spark.io import table

    ok = table(spark, SF, "orders").select("o_orderkey").toPandas()["o_orderkey"]
    ev = table(spark, SF, "events").select("event_id").toPandas()["event_id"]
    series = {
        "orders_full": list(ok),
        "orders_gapped_feed": [i for i in ok if i % 97 != 13],
        "events_double_delivery": list(ev) + [i for i in ev if i % 50 == 7],
    }
    rows = {r.series: r for r in _df(spark, "dq_sequence_id_audit").collect()}
    assert set(rows) == set(series)
    for name, ids in series.items():
        r = rows[name]
        keys = set(ids)
        span = max(keys) - min(keys) + 1
        assert r.n_rows == len(ids), name
        assert r.n_keys == len(keys), name
        assert (r.min_id, r.max_id) == (min(keys), max(keys)), name
        assert r.span == span
        assert r.missing_ids == span - len(keys), name
        assert r.duplicate_rows == len(ids) - len(keys), name
        assert r.density == float(len(keys)) / float(span), name
        assert r.contiguous == (
            1 if span == len(keys) and len(ids) == len(keys) else 0
        ), name
    assert rows["orders_full"].contiguous == 1
    assert rows["orders_gapped_feed"].missing_ids > 100
    assert rows["events_double_delivery"].duplicate_rows > 100


def test_sequence_audit_plan_shapes(key_plan):
    """Union of scans into one map-side-combined aggregate per
    series; no join, no nested loop, no Python."""
    plan = key_plan("dq_sequence_id_audit").plan
    for op in ("Join", "CartesianProduct", "BatchEvalPython"):
        assert op not in plan, op
    assert "partial_count" in plan or "partial_min" in plan
