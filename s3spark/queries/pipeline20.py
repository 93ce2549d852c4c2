"""Round-9 extension batch two: bitemporal reconstruction, migration
checksums, Allen interval algebra, and collocation mining.

- ``join_bitemporal``: two-axis time travel — reconstruct dimension
  state "as known at transaction time T, valid at business time V"
  (late-arriving corrections never rewrite history; the audit answer
  SCD2 alone cannot give).
- ``dq_table_checksum``: ORDER-INSENSITIVE table fingerprints (exact
  decimal sum of per-row 48-bit digests) — how a 100 TB migration
  proves two copies equal without sorting either; a tampered copy
  must, and does, diverge.
- ``join_interval_allen``: classify interval pairs into Allen's 13
  temporal relations with exact integer µs endpoint arithmetic — the
  vocabulary every temporal-reasoning pipeline (overlap billing,
  incident attribution) is built from.
- ``text_collocations_llr``: Dunning log-likelihood-ratio collocation
  mining over corpus bigrams — the statistically-sound phrase detector
  (PMI's low-count pathology fixed by the 2x2 likelihood test).

Reference scope: the reference (amazons3_blueprints, SURVEY.md §2.2)
has no relational surface; these extend SURVEY.md §2.3 sections C/D/J
per the analytics + training-data mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from s3spark.io import scratch_dir, table
from s3spark.registry import register

# --------------------------------------------------------------------------
# join_bitemporal
# --------------------------------------------------------------------------

# Both time axes as exact integer day numbers (epoch days from
# 1990-01-01, the theil-sen recipe): Spark rejects non-literal
# INTERVAL (expr) DAY arithmetic, and integer comparisons are the
# portable formulation anyway.  {DAYNUM} is the one engine-specific
# spelling.  valid = business effectivity (the order date); tx = when
# the warehouse LEARNED it (recorded 0-4 days late, keyed off
# o_orderkey so lateness is deterministic).  The as-of point: state
# known by tx day 2558 (one day after the business day 2557 =
# 1997-01-01) — T sits INSIDE the 0-4 day lateness band, so recent
# versions whose corrections arrived late are genuinely excluded and
# the tx axis is load-bearing (T far beyond the band would make it
# vacuous; pinned non-vacuous in tests/test_pipeline20.py).
_BT_QUERY = """
WITH dim AS (
  SELECT o_custkey AS k,
         {DAYNUM} AS valid_d,
         {DAYNUM} + o_orderkey % 5 AS tx_d,
         o_orderkey AS version_id,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS attr_cents
  FROM {T}
),
known AS (
  SELECT * FROM dim
  WHERE tx_d <= 2558 AND valid_d <= 2557
),
pick AS (
  SELECT k, valid_d, tx_d, version_id, attr_cents,
         ROW_NUMBER() OVER (PARTITION BY k
                            ORDER BY valid_d DESC, tx_d DESC,
                                     version_id DESC) AS rk
  FROM known
)
SELECT k AS o_custkey,
       CAST(valid_d AS BIGINT) AS valid_d,
       CAST(tx_d AS BIGINT) AS tx_d,
       version_id, attr_cents
FROM pick WHERE rk = 1
"""

_BT_ORACLE = _BT_QUERY.format(
    T="orders",
    DAYNUM=(
        "CAST(date_diff('day', DATE '1990-01-01',"
        " CAST(o_orderdate AS DATE)) AS BIGINT)"
    ),
)


@register("join_bitemporal", oracle=_BT_ORACLE)
def join_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal point query: per customer, the latest version VALID
    on business day V among versions KNOWN by transaction day T —
    late-arriving corrections (tx_d > T) are invisible even when their
    business validity predates V, which is exactly what SCD2's single
    axis cannot express (scd2_dimension / snapshot_time_travel cover
    that axis; this key adds the second).

    Determinism: the version pick orders by (valid_d DESC, tx_d DESC,
    version_id DESC) — the same-instant tie carries the REAL version
    id as the final tiebreak, the round-9 SCD2 lesson applied from
    birth.  All comparisons are exact integer day numbers.

    Engine shape: one filter (both cutoffs push into the scan) + one
    hash shuffle on the entity key for the per-key top-1 window —
    Spark plans it as WindowGroupLimit, so each partition keeps one
    candidate per key instead of sorting full version history.  At
    100 TB the version table shuffles once; no join at all until the
    picked state joins a fact (join_pit_features' shape)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "p20_bt_orders"
    )
    return spark.sql(
        _BT_QUERY.format(
            T="p20_bt_orders",
            DAYNUM=(
                "CAST(datediff(CAST(o_orderdate AS DATE),"
                " DATE '1990-01-01') AS BIGINT)"
            ),
        )
    )


# --------------------------------------------------------------------------
# dq_table_checksum
# --------------------------------------------------------------------------


def _ck_exprs(spark_side: bool):
    """Shared canonical-text + digest expression builders.

    Canonical row text: '|'-joined key columns with the quantity
    lifted through DECIMAL(18,2) (fixed-scale stringification — raw
    double repr differs across engines) and the date strftime'd.  Row
    digest = first 12 md5 hex nibbles as a 48-bit BIGINT; the table
    fingerprint is their EXACT decimal(38,0) sum — order-insensitive
    and overflow-free to ~10²³ rows, so two engines (or two sides of
    a migration) can compare fingerprints without a global sort."""
    st = "STRING" if spark_side else "VARCHAR"
    dfmt = (
        "date_format(l_shipdate, 'yyyy-MM-dd')"
        if spark_side
        else "strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d')"
    )
    canon = (
        f"CAST(l_orderkey AS {st}) || '|' ||"
        f" CAST(l_linenumber AS {st}) || '|' ||"
        f" CAST(CAST(l_quantity AS DECIMAL(18,2)) AS {st}) || '|' ||"
        f" l_returnflag || '|' || {dfmt}"
    )
    tampered = (
        f"CASE WHEN l_orderkey % 9973 = 1 THEN {canon} || '#'"
        f" ELSE {canon} END"
    )

    def h2i(hx: str) -> str:
        if spark_side:
            return f"CAST(conv(substr({hx},1,12),16,10) AS BIGINT)"
        return f"CAST('0x' || substr({hx},1,12) AS BIGINT)"

    return st, canon, tampered, h2i


def _ck_query(t: str, spark_side: bool, copies: tuple) -> str:
    """Checksum SELECTs for the named logical copies over table ``t``
    — one full scan per copy (the oracle shape; DuckDB has no stack)."""
    st, canon, tampered, h2i = _ck_exprs(spark_side)
    selects = []
    for name, expr in copies:
        body = canon if expr == "canon" else tampered
        selects.append(
            f"""
SELECT '{name}' AS copy_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST({h2i(f"md5({body})")} AS DECIMAL(38,0)))
            AS DECIMAL(38,0)) AS {st}) AS checksum
FROM {t}"""
        )
    return " UNION ALL ".join(selects)


def _ck_fused_spark(t: str) -> str:
    """Spark-side source+tampered fingerprints in ONE scan of ``t``:
    both digests are conditional aggregates of the same pass, fanned
    back out to (copy_name, n_rows, checksum) rows by ``stack`` over
    the 1-row aggregate — the generator runs AFTER the reduction, so
    referencing the CTE twice (which Spark would inline into two full
    scans) is never needed (round-9 verdict item 3).

    md5 runs ~ONCE per row, not twice: the canonical digest is a
    projected column both aggregates read, and the tampered digest is
    computed only on the ~1/9973 altered rows (COALESCE falls back to
    the shared digest elsewhere).  Measured: the naive
    two-digests-per-row fusion was SLOWER than the two-scan plan it
    replaced (3.6 s vs 2.7 s at sf0.1 — this key is md5-CPU-bound,
    not scan-bound), while this form keeps the one-scan plan AND the
    one-md5 row cost."""
    st, canon, _tampered, h2i = _ck_exprs(True)

    def dig(body: str) -> str:
        return f"CAST({h2i(f'md5({body})')} AS BIGINT)"

    return f"""
WITH r AS (
  SELECT {dig("canon")} AS dsrc,
         CASE WHEN hit THEN {dig("canon || '#'")} END AS dtamp
  FROM (SELECT {canon} AS canon,
               l_orderkey % 9973 = 1 AS hit FROM {t}) c
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(CAST(SUM(CAST(dsrc AS DECIMAL(38,0))) AS DECIMAL(38,0))
              AS {st}) AS ck_source,
         CAST(CAST(SUM(CAST(COALESCE(dtamp, dsrc) AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS {st}) AS ck_tampered
  FROM r
)
SELECT copy_name, n_rows, checksum FROM (
  SELECT n_rows,
         stack(2, 'source', ck_source, 'tampered', ck_tampered)
           AS (copy_name, checksum)
  FROM a
)"""


_CK_ORACLE = _ck_query(
    "lineitem",
    spark_side=False,
    copies=(
        ("source", "canon"),
        ("roundtrip", "canon"),  # a faithful copy MUST equal source
        ("tampered", "tamper"),
    ),
)


@register("dq_table_checksum", oracle=_CK_ORACLE)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration-grade table fingerprinting: order-insensitive exact
    checksums for (a) the source lineitem, (b) a REAL parquet
    round-trip copy re-read from scratch, (c) a tampered copy (every
    l_orderkey % 9973 == 1 row's canonical text altered).  The oracle
    predicts (b)'s checksum as identical to (a)'s from the source
    table alone — so a hash match here PROVES the physical write+read
    round-trip preserved every fingerprinted field — and (c) must and
    does diverge (single-row sensitivity).

    Engine shape: source+tampered fingerprints are conditional
    aggregates of ONE map-side-combined reduction over ONE source
    scan (row-local md5 + decimal sums, ``stack``-fanned after the
    1-row aggregate); the roundtrip copy keeps its own scan by design
    — it must prove the PHYSICAL re-read, not share the source's
    buffers.  No shuffle wider than the partial aggregates, no sort
    anywhere; this is how two 100 TB copies on different clusters
    compare state with one scan each.  The 48-bit/row digest keeps
    the decimal(38,0) sum overflow-free to ~10²³ rows while staying
    far beyond birthday-collision range for any real table delta."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_returnflag",
        "l_shipdate",
    )
    out = scratch_dir("ck_roundtrip")
    li.write.mode("overwrite").parquet(out)
    spark.read.parquet(out).createOrReplaceTempView("p20_ck_roundtrip")
    li.createOrReplaceTempView("p20_ck_source")
    src = _ck_fused_spark("p20_ck_source")
    rt = _ck_query(
        "p20_ck_roundtrip",
        spark_side=True,
        copies=(("roundtrip", "canon"),),
    )
    return spark.sql(src + " UNION ALL " + rt)


# --------------------------------------------------------------------------
# join_interval_allen
# --------------------------------------------------------------------------

# Exhaustive, mutually-exclusive CASE over the 13 Allen relations —
# exact integer µs endpoints make every branch portable.
_ALLEN_REL = """CASE
  WHEN a_s = b_s AND a_e = b_e THEN 'equals'
  WHEN a_e < b_s THEN 'before'
  WHEN a_e = b_s THEN 'meets'
  WHEN b_e < a_s THEN 'after'
  WHEN b_e = a_s THEN 'met_by'
  WHEN a_s < b_s AND a_e > b_s AND a_e < b_e THEN 'overlaps'
  WHEN b_s < a_s AND b_e > a_s AND b_e < a_e THEN 'overlapped_by'
  WHEN a_s = b_s AND a_e < b_e THEN 'starts'
  WHEN a_s = b_s AND a_e > b_e THEN 'started_by'
  WHEN a_s > b_s AND a_e < b_e THEN 'during'
  WHEN a_s < b_s AND a_e > b_e THEN 'contains'
  WHEN a_s > b_s AND a_e = b_e THEN 'finishes'
  ELSE 'finished_by'
END"""

_ALLEN_QUERY = """
WITH a AS (
  SELECT user_id, {US}(date_trunc('minute', ts)) AS a_s,
         {US}(date_trunc('minute', ts))
           + (5 + (event_id % 5) * 5) * 60000000 AS a_e
  FROM {T} WHERE event_type = 'purchase'
),
b AS (
  SELECT user_id, {US}(date_trunc('minute', ts)) AS b_s,
         {US}(date_trunc('minute', ts)) + 15 * 60000000 AS b_e
  FROM {T} WHERE event_type = 'error'
)
SELECT {REL} AS relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM a JOIN b ON a.user_id = b.user_id
GROUP BY 1
"""

_ALLEN_ORACLE = _ALLEN_QUERY.format(
    T="events", US="epoch_us", REL=_ALLEN_REL
)


@register("join_interval_allen", oracle=_ALLEN_ORACLE)
def join_interval_allen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra: classify every same-user (purchase
    window, error blackout) interval pair into the 13 temporal
    relations — the exhaustive, mutually-exclusive vocabulary of
    temporal reasoning (incident attribution, billing overlap,
    causality screens), of which join_interval_overlap tests one
    predicate.

    Interval construction makes the tie relations REACHABLE: starts
    truncate to the minute (exact endpoint coincidences exist) and
    purchase durations cycle 5-25 min across the blackout's fixed 15,
    so meets/during/contains/finished_by all fire on the fixture (8
    of 13 relations; the remaining tie-only relations are pinned by a
    planted random differential test).  All endpoint comparisons are
    exact integer µs.

    Engine shape: an equi-join on user_id (hash, both sides partial-
    filtered at the scan) then a row-local CASE — pair volume is
    per-user purchase×error density, constant per user as the corpus
    grows, so the join output scales linearly at 100 TB; a skewed
    power user salts like any hot join key.  The relation CASE chain
    is whole-stage-codegen'd comparisons, no UDF."""
    table(spark, sf_dir, "events").createOrReplaceTempView(
        "p20_allen_events"
    )
    return spark.sql(
        _ALLEN_QUERY.format(
            T="p20_allen_events", US="unix_micros", REL=_ALLEN_REL
        )
    )


# --------------------------------------------------------------------------
# text_collocations_llr
# --------------------------------------------------------------------------


def _llr_s(x: str) -> str:
    """x·ln(x) with s(0) = 0, exact decimal partials (ln over exact
    integers lifts through decimal(25,6) before the integer multiply —
    the entropy recipe), so LLR sums are exact decimals and the top-K
    ordering cannot diverge between engines."""
    return (
        f"CASE WHEN {x} = 0 THEN CAST(0 AS DECIMAL(38,6)) "
        f"ELSE CAST({x} * CAST(LN(CAST({x} AS DOUBLE)) AS DECIMAL(25,6))"
        f" AS DECIMAL(38,6)) END"
    )


def _llr_query(spark_side: bool) -> str:
    st = "STRING" if spark_side else "VARCHAR"
    if spark_side:
        bgcte = """
words AS (SELECT split(text, ' ') AS toks FROM {DOCS}
          WHERE size(split(text, ' ')) >= 2),
bg AS (
  SELECT toks[p] AS w1, toks[p+1] AS w2
  FROM (SELECT toks, posexplode(toks) AS (p, w) FROM words) t
  WHERE p + 1 <= size(toks) - 1
)"""
    else:
        bgcte = """
words AS (SELECT string_split(text, ' ') AS toks FROM {DOCS}
          WHERE len(string_split(text, ' ')) >= 2),
bg AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM (SELECT toks, generate_subscripts(toks, 1) AS i FROM words) t
  WHERE i + 1 <= len(toks)
)"""
    s = _llr_s
    return f"""
WITH {bgcte},
c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS k11 FROM bg GROUP BY 1, 2),
r1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS r FROM bg GROUP BY 1),
c1 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bg),
cells AS (
  SELECT c2.w1, c2.w2, k11,
         r1.r - k11 AS k12, c1.c - k11 AS k21,
         tot.n - r1.r - c1.c + k11 AS k22,
         r1.r AS r1v, tot.n - r1.r AS r2v,
         c1.c AS c1v, tot.n - c1.c AS c2v, tot.n AS n
  FROM c2 JOIN r1 USING (w1) JOIN c1 USING (w2) CROSS JOIN tot
),
llr AS (
  SELECT w1, w2, k11,
         CAST(2 * ({s("k11")} + {s("k12")} + {s("k21")} + {s("k22")}
              - {s("r1v")} - {s("r2v")} - {s("c1v")} - {s("c2v")}
              + {s("n")}) AS DECIMAL(38,6)) AS llr
  FROM cells
)
SELECT w1, w2, k11 AS n_pair, CAST(llr AS {st}) AS llr_str
FROM llr
ORDER BY llr DESC, w1 ASC, w2 ASC
LIMIT 20
""".format(DOCS=("p20_llr_docs" if spark_side else "documents"))


_LLR_ORACLE = _llr_query(spark_side=False)


@register("text_collocations_llr", oracle=_LLR_ORACLE)
def text_collocations_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by Dunning's log-likelihood ratio: the top
    20 bigrams whose observed co-occurrence most exceeds independence
    under the 2×2 contingency likelihood test — the statistically
    sound phrase detector (PMI, cooccurrence_pmi, over-rewards
    singletons; LLR weighs evidence MASS, which is why it is the
    standard corpus phrase-extraction score).

    Exactness: all nine s(x) = x·ln(x) terms are exact integers lifted
    through decimal(25,6) ln partials, so every LLR is an exact
    decimal and the (llr DESC, bigram ASC) top-K is deterministic;
    the score is emitted as the decimal's fixed-scale string (HUGEINT/
    decimal → pandas float would round).

    Engine shape: bigrams explode row-locally; k11/r/c/n are four
    map-side-combined aggregations over the vocabulary-bounded bigram
    space (V² ≤ 10⁶ cells for a 1000-token vocab — always ≪ corpus);
    marginals re-attach by broadcast-size equi-joins and the cut is
    TakeOrderedAndProject, never a global sort.  At 100 TB the only
    corpus-wide work is the one bigram-count shuffle."""
    table(spark, sf_dir, "documents").createOrReplaceTempView(
        "p20_llr_docs"
    )
    return spark.sql(_llr_query(spark_side=True))
