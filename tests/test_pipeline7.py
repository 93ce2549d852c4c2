"""Behavioral tests for the round-6 pipeline7 keys — invariants the
oracle hash-match alone can't pin (skyline completeness vs brute
force, interval-coverage algebra, PPS membership recomputation,
codepoint-collapse proof, leave-one-out identity, PMI bounds) plus
the plan gates for their scale shapes."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

import s3spark.queries  # noqa: F401  (registers everything)
from s3spark.registry import REGISTRY
from tests.conftest import SF_DIR as SF


def _df(spark, key):
    return REGISTRY[key].fn(spark, SF)


# ---------------------------------------------------------------------------
# pareto_frontier
# ---------------------------------------------------------------------------


def test_pareto_matches_bruteforce_and_is_staircase(spark):
    """The bucket-pruned skyline must equal the O(n²) brute-force
    skyline computed independently in numpy over the FULL part table,
    and must form a strict staircase: as price rises across distinct
    skyline prices, size strictly rises (a pricier point with no size
    gain would be dominated by the cheaper one)."""
    rows = _df(spark, "pareto_frontier").collect()
    p = (
        spark.read.parquet(f"{SF}/part.parquet")
        .select("p_partkey", "p_retailprice", "p_size")
        .toPandas()
    )
    price = p["p_retailprice"].to_numpy()
    size = p["p_size"].to_numpy()
    dominated = np.zeros(len(p), dtype=bool)
    for i in range(len(p)):
        dominated[i] = np.any(
            ((price < price[i]) & (size >= size[i]))
            | ((price <= price[i]) & (size > size[i]))
        )
    expect = set(p.loc[~dominated, "p_partkey"])
    got = {r.p_partkey for r in rows}
    assert got == expect
    # staircase: strictly increasing size across strictly rising price
    srows = sorted(rows, key=lambda r: (r.p_retailprice, r.p_size))
    for a, b in zip(srows, srows[1:]):
        if b.p_retailprice > a.p_retailprice:
            assert b.p_size > a.p_size


def test_pareto_prefilter_is_selective(spark):
    """The staircase prefilter must shrink the nested-loop input to a
    small candidate set — the whole point vs the O(n²) self-join.  The
    survivor predicate is recomputed here independently (per-unit-
    bucket running max)."""
    p = (
        spark.read.parquet(f"{SF}/part.parquet")
        .select("p_retailprice", "p_size")
        .toPandas()
    )
    p["bk"] = np.floor(p["p_retailprice"]).astype(int)
    bmax = p.groupby("bk")["p_size"].max().sort_index()
    prev_max = bmax.cummax().shift(1)
    surv = p[
        p["bk"].map(prev_max).isna()
        | (p["p_size"] > p["bk"].map(prev_max))
    ]
    assert len(surv) < 0.15 * len(p), (
        f"prefilter kept {len(surv)}/{len(p)} — staircase pruning "
        "is not selective; the BNLJ residual would not be bounded"
    )


# ---------------------------------------------------------------------------
# interval_coalesce
# ---------------------------------------------------------------------------


def test_interval_coalesce_coverage_algebra(spark):
    """Per-user invariants of a correct range-union: every event is
    absorbed exactly once (n_events sums to the user's event count);
    each maximal span covers at least one full 300 s interval and at
    most n_events of them; total coverage is bounded by the island
    count times the longest span."""
    rows = _df(spark, "interval_coalesce").collect()
    truth = dict(
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .count()
        .collect()
    )
    assert {r.user_id for r in rows} == set(truth)
    for r in rows:
        assert r.n_events == truth[r.user_id]
        assert 1 <= r.n_intervals <= r.n_events
        assert r.longest_secs >= 300
        assert r.covered_secs >= r.n_intervals * 300
        assert r.covered_secs <= r.n_intervals * r.longest_secs
        # spans are maximal and disjoint: coverage can never exceed
        # one 300 s window per event
        assert r.covered_secs <= r.n_events * 300


def test_interval_coalesce_single_exchange(key_plan):
    """Both windows and both aggregations must share ONE user_id hash
    partitioning — the whole key runs on a single big-side shuffle
    (plus the final presentation range sort)."""
    plan = key_plan("interval_coalesce").plan
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# sample_pps_poisson
# ---------------------------------------------------------------------------


def test_pps_membership_recomputed_and_sized(spark):
    """Recompute the exact-integer keep decision for EVERY document in
    plain Python (hashlib md5, integer compare) and require the
    sampled set to match exactly; the realized size must sit near the
    design size K=100 (deterministic given the fixture, loose
    binomial band), and inclusion probabilities must be valid."""
    rows = _df(spark, "sample_pps_poisson").collect()
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    )
    w_total = sum(d.n_chars for d in docs)
    expect = set()
    for d in docs:
        u = int(
            hashlib.md5(str(d.doc_id).encode()).hexdigest()[:8], 16
        )
        if u * w_total < 100 * d.n_chars * (1 << 32):
            expect.add(d.doc_id)
    assert {r.doc_id for r in rows} == expect
    assert 60 <= len(rows) <= 140
    for r in rows:
        assert 0.0 < r.incl_prob <= 1.0


def test_pps_is_map_only_over_big_side(key_plan):
    """The only shuffle is the 1-row weight total (single-partition
    exchange); the document side itself must never hash-repartition —
    the keep decision rides the scan."""
    plan = key_plan("sample_pps_poisson").plan
    assert "Exchange hashpartitioning" not in plan


# ---------------------------------------------------------------------------
# text_unicode_normalize
# ---------------------------------------------------------------------------


def test_nfc_collapses_every_planted_decomposition(spark):
    """Every fixture c_name contains 'e' (planted decomposition is
    non-vacuous for every row): NFC must shorten each string by
    exactly the number of planted combining marks, the output must
    contain the precomposed é (U+00E9) and ZERO bare U+0301 marks,
    and round-tripping through Python's unicodedata must agree."""
    import unicodedata

    rows = _df(spark, "text_unicode_normalize").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.changed is True
        n_marks = r.nfc.count("é")
        assert n_marks > 0
        assert r.len_before - r.len_after == n_marks
        assert "́" not in r.nfc
        assert unicodedata.is_normalized("NFC", r.nfc)


# ---------------------------------------------------------------------------
# feature_target_encode
# ---------------------------------------------------------------------------


def test_target_encode_leave_one_out_identity(spark):
    """For every reported row, loo_enc must equal the category mean
    computed over ALL OTHER rows — recomputed independently from the
    raw table in pandas (float64, then 6 dp like the key)."""
    rows = _df(spark, "feature_target_encode").collect()
    o = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .toPandas()
    )
    sums = o.groupby("o_orderpriority")["o_totalprice"].sum()
    ns = o.groupby("o_orderpriority")["o_totalprice"].count()
    by_key = o.set_index("o_orderkey")
    for r in rows[:200]:
        y = by_key.loc[r.o_orderkey, "o_totalprice"]
        cat = r.o_orderpriority
        expect = (sums[cat] - y) / (ns[cat] - 1)
        assert r.cat_n == ns[cat]
        assert abs(r.loo_enc - expect) < 1e-4


def test_target_encode_broadcasts_stats(key_plan):
    """Category stats must broadcast — the encode is a map-side join,
    no big-side shuffle for the probe table."""
    plan = key_plan("feature_target_encode").plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# cooccurrence_pmi
# ---------------------------------------------------------------------------


def test_pmi_bounds_and_support(spark):
    """Structural bounds every correct PMI table satisfies: pairs are
    canonically ordered, support respects the floor, co-occurrence
    can't exceed either marginal document frequency, and PMI respects
    its algebraic ceiling ln(N/max(df_a, df_b))."""
    import math

    rows = _df(spark, "cooccurrence_pmi").collect()
    assert len(rows) > 0
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    for r in rows:
        assert r.tok_a < r.tok_b
        assert r.c_ab >= 5
        assert r.c_ab <= min(r.df_a, r.df_b)
        ceiling = math.log(n_docs / max(r.df_a, r.df_b)) + 1e-9
        assert r.pmi <= round(ceiling, 6) + 1e-6


def test_pmi_vocab_cut_is_distributed_topk(spark, key_plan):
    """The vocab bound must plan as TakeOrderedAndProject (distributed
    partial top-K), never a single-partition global window — same gate
    as tokenizer_vocab_coverage.  Round 13: the presence relation is
    localCheckpoint'd (it fed three replayed consumers), which
    truncates the key's visible lineage — so the top-K is asserted on
    the vocab STAGE via the exact code object the key executes
    (pipeline7._pmi_vocab), and the key plan is asserted to read the
    checkpointed rows (ExistingRDD, the r12 pagerank gate precedent)."""
    from pyspark.sql import functions as F

    from s3spark.io import table
    from s3spark.queries.pipeline7 import _pmi_vocab

    tok = table(spark, SF, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    vocab_plan = (
        _pmi_vocab(tok)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in vocab_plan
    assert "Window" not in vocab_plan
    plan = key_plan("cooccurrence_pmi").plan
    assert "ExistingRDD" in plan  # pres + dfreq read the checkpoint
    assert "Window" not in plan
