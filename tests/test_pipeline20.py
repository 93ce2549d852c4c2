"""Behavioral tests for the round-9 pipeline20 keys: bitemporal
cutoff/tie semantics, checksum round-trip + single-row sensitivity,
a python Allen-relation replay, and an independent LLR recompute."""

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
# join_bitemporal
# ---------------------------------------------------------------------------


def test_bitemporal_pick_is_the_pandas_argmax(spark):
    """Every emitted version must satisfy both cutoffs AND be the
    (valid_d, tx_d, version_id)-max among that customer's qualifying
    versions — replayed in pandas over the raw orders table."""
    from s3spark.io import table

    pdf = (
        table(spark, SF, "orders")
        .select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1990-01-01")
            ).alias("valid_d"),
            "o_orderkey",
        )
        .toPandas()
    )
    pdf["tx_d"] = pdf["valid_d"] + pdf["o_orderkey"] % 5
    known = pdf[(pdf["tx_d"] <= 2558) & (pdf["valid_d"] <= 2557)]
    best = {}
    for r in known.itertuples():
        cand = (r.valid_d, r.tx_d, r.o_orderkey)
        if r.o_custkey not in best or cand > best[r.o_custkey]:
            best[r.o_custkey] = cand
    rows = _df(spark, "join_bitemporal").collect()
    assert len(rows) == len(best)
    for r in rows:
        assert (r.valid_d, r.tx_d, r.version_id) == best[r.o_custkey]


def test_bitemporal_late_corrections_are_invisible(spark):
    """Non-vacuity: at least one customer has a version with
    valid_d <= V whose tx_d > T (a late correction the as-of query
    must NOT see) — otherwise the tx axis tests nothing."""
    from s3spark.io import table

    o = table(spark, SF, "orders").select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01")
        ).alias("valid_d"),
        "o_orderkey",
    )
    late = o.filter(
        (F.col("valid_d") <= 2557)
        & (F.col("valid_d") + F.col("o_orderkey") % 5 > 2558)
    )
    assert late.count() > 0


def test_bitemporal_plans_window_group_limit(key_plan):
    plan = key_plan("join_bitemporal").plan
    assert "WindowGroupLimit" in plan, plan


# ---------------------------------------------------------------------------
# dq_table_checksum
# ---------------------------------------------------------------------------


def test_checksum_roundtrip_matches_and_tamper_diverges(spark):
    rows = {r.copy_name: (r.n_rows, r.checksum) for r in
            _df(spark, "dq_table_checksum").collect()}
    assert rows["source"] == rows["roundtrip"]
    assert rows["source"][0] == rows["tampered"][0]  # same row count
    assert rows["source"][1] != rows["tampered"][1]  # different sum


def test_checksum_single_source_scan(key_plan):
    """Round-9 verdict item 3: source+tampered fingerprints must be
    conditional aggregates of ONE lineitem scan (stack-fanned after
    the 1-row aggregate), with the roundtrip copy keeping exactly one
    scan of its own physically re-read files."""
    plan = key_plan("dq_table_checksum").plan
    assert plan.count("lineitem.parquet") == 1, plan
    assert plan.count("ck_roundtrip") == 1, plan


def test_checksum_matches_python_digest_sum(spark):
    """Independent recompute: canonicalize in pandas, md5 in hashlib,
    sum the 48-bit prefixes exactly."""
    from s3spark.io import table

    pdf = (
        table(spark, SF, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("decimal(18,2)").alias("q"),
            "l_returnflag",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("d"),
        )
        .toPandas()
    )
    total = 0
    for r in pdf.itertuples():
        s = f"{r.l_orderkey}|{r.l_linenumber}|{r.q}|{r.l_returnflag}|{r.d}"
        total += int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
    rows = {r.copy_name: r.checksum for r in
            _df(spark, "dq_table_checksum").collect()}
    assert rows["source"] == str(total)


# ---------------------------------------------------------------------------
# join_interval_allen
# ---------------------------------------------------------------------------


def _allen(a_s, a_e, b_s, b_e):
    if a_s == b_s and a_e == b_e:
        return "equals"
    if a_e < b_s:
        return "before"
    if a_e == b_s:
        return "meets"
    if b_e < a_s:
        return "after"
    if b_e == a_s:
        return "met_by"
    if a_s < b_s and a_e > b_s and a_e < b_e:
        return "overlaps"
    if b_s < a_s and b_e > a_s and b_e < a_e:
        return "overlapped_by"
    if a_s == b_s and a_e < b_e:
        return "starts"
    if a_s == b_s and a_e > b_e:
        return "started_by"
    if a_s > b_s and a_e < b_e:
        return "during"
    if a_s < b_s and a_e > b_e:
        return "contains"
    if a_s > b_s and a_e == b_e:
        return "finishes"
    return "finished_by"


def test_allen_counts_match_python_replay(spark):
    from s3spark.io import table

    M = 60_000_000
    ev = (
        table(spark, SF, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.date_trunc("minute", "ts")).alias("s"),
            "event_id",
        )
        .toPandas()
    )
    a = [
        (r.user_id, r.s, r.s + (5 + (r.event_id % 5) * 5) * M)
        for r in ev[ev.event_type == "purchase"].itertuples()
    ]
    b = [
        (r.user_id, r.s, r.s + 15 * M)
        for r in ev[ev.event_type == "error"].itertuples()
    ]
    by_user: dict = {}
    for u, s, e in b:
        by_user.setdefault(u, []).append((s, e))
    counts: dict = {}
    for u, a_s, a_e in a:
        for b_s, b_e in by_user.get(u, ()):
            rel = _allen(a_s, a_e, b_s, b_e)
            counts[rel] = counts.get(rel, 0) + 1
    got = {r.relation: r.n_pairs for r in
           _df(spark, "join_interval_allen").collect()}
    assert got == counts
    # non-vacuity: tie-reachable relations actually fire on the fixture
    assert "meets" in got or "finished_by" in got or "during" in got


# ---------------------------------------------------------------------------
# text_collocations_llr
# ---------------------------------------------------------------------------


def test_llr_matches_python_recompute(spark):
    """Recompute every bigram's LLR with the same decimal-quantized
    ln partials and check the emitted top-20 set and scores."""
    from decimal import Decimal, ROUND_HALF_UP

    from s3spark.io import table

    pdf = table(spark, SF, "documents").select("text").toPandas()
    bigrams: dict = {}
    r1: dict = {}
    c1: dict = {}
    n = 0
    for text in pdf["text"]:
        toks = text.split(" ")
        for w1, w2 in zip(toks, toks[1:]):
            bigrams[(w1, w2)] = bigrams.get((w1, w2), 0) + 1
            r1[w1] = r1.get(w1, 0) + 1
            c1[w2] = c1.get(w2, 0) + 1
            n += 1

    def s(x: int) -> Decimal:
        if x == 0:
            return Decimal(0)
        q = Decimal(repr(math.log(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
        return q * x

    scored = []
    for (w1, w2), k11 in bigrams.items():
        k12 = r1[w1] - k11
        k21 = c1[w2] - k11
        k22 = n - r1[w1] - c1[w2] + k11
        llr = 2 * (
            s(k11) + s(k12) + s(k21) + s(k22)
            - s(r1[w1]) - s(n - r1[w1]) - s(c1[w2]) - s(n - c1[w2])
            + s(n)
        )
        scored.append((-llr, w1, w2, k11, llr))
    scored.sort()
    top = scored[:20]
    got = _df(spark, "text_collocations_llr").collect()
    assert len(got) == 20
    for row, (_, w1, w2, k11, llr) in zip(got, top):
        assert (row.w1, row.w2, row.n_pair) == (w1, w2, k11)
        assert Decimal(row.llr_str) == llr.quantize(Decimal("0.000001"))
