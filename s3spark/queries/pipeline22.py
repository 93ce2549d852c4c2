"""Round-10 extension batch: association mining and classifier
evaluation — the measurement half of a training-data pipeline (the
registry already curates corpora and fits small models; these keys
judge what the models and mixes produce).

- ``basket_association_lift``: market-basket association rules over
  order baskets (support / confidence / lift per co-purchased brand
  pair) — the A-priori first pass every retail/co-occurrence analysis
  starts with.
- ``rank_metrics_auc``: EXACT ROC-AUC (+ Gini) of a score against a
  binary label via the doubled-midrank identity — the standard
  quality-classifier acceptance metric, distributed without a global
  sort (the Mann-Whitney machinery: AUC = U / (n1·n0)).
- ``stats_fisher_exact``: Fisher's exact test on a 2×2 contingency
  table — the small-count companion to ``stats_chi2_independence``
  (chi-square's normal approximation breaks exactly where exact
  enumeration is cheap).
- ``ml_calibration_bins``: reliability diagram + per-bin Brier score
  for a deterministic [0,1) classifier score — calibration is the
  property quality classifiers need before their scores gate a corpus
  mix.

Reference scope: the reference (amazons3_blueprints, SURVEY.md §2.2)
has no relational surface; extends SURVEY.md §2.3 sections D/J.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3spark.io import table
from s3spark.queries._prefix import with_cum_less as _with_cum_less
from s3spark.registry import register

# --------------------------------------------------------------------------
# basket_association_lift
# --------------------------------------------------------------------------

_BA_MINSUP = 3  # pairs below 3 co-orders are noise at every fixture SF

# ratios share ONE expression text: exact BIGINT counts in, three
# divisions out.  n_a/n_b >= 1 by pair existence, n >= 1 likewise —
# no zero-denominator branch is reachable, and an empty basket table
# emits zero rows rather than dividing.
# The post-basket aggregation, parameterized on the basket relation:
# the oracle splices the basket CTE in; the engine points {BK} at a
# checkpointed temp view instead (see basket_association_lift — Spark
# INLINES a deterministic CTE once per reference, and this text reads
# the baskets four times).
_BA_TAIL = """
WITH nord AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n FROM {BK}),
item_n AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM {BK} GROUP BY item
),
pair_n AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM {BK} a JOIN {BK} b
    ON a.okey = b.okey AND a.item < b.item
  GROUP BY 1, 2
)
SELECT p.item_a, p.item_b, p.n_both,
       ia.n_item AS n_a, ib.n_item AS n_b, nord.n AS n_orders,
       CAST(CAST(p.n_both AS DOUBLE) / nord.n AS DOUBLE) AS support,
       CAST(CAST(p.n_both AS DOUBLE) / ia.n_item AS DOUBLE) AS confidence,
       CAST(CAST(p.n_both AS DOUBLE) * nord.n
            / (CAST(ia.n_item AS DOUBLE) * ib.n_item) AS DOUBLE) AS lift
FROM pair_n p
JOIN item_n ia ON ia.item = p.item_a
JOIN item_n ib ON ib.item = p.item_b
CROSS JOIN nord
WHERE p.n_both >= {MINSUP}
ORDER BY p.item_a, p.item_b
"""

_BA_QUERY = (
    """
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
  FROM {LI} l JOIN {PT} p ON l.l_partkey = p.p_partkey
),
"""
    + _BA_TAIL.replace("{BK}", "baskets").lstrip("\n").removeprefix("WITH ")
)

_BA_ORACLE = _BA_QUERY.format(LI="lineitem", PT="part", MINSUP=_BA_MINSUP)


@register("basket_association_lift", oracle=_BA_ORACLE)
def basket_association_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: each order is a basket of the
    part BRANDS it touches; every co-purchased brand pair gets exact
    support / confidence / lift.  Lift > 1 = the pair co-occurs more
    than independence predicts — the A-priori screen that seeds
    recommendation and substitution analyses.

    Exactness: all counts are exact BIGINTs from two hash
    aggregations; the three ratios share one division text, and no
    denominator can be zero (a pair's items each appear in ≥1 order
    by construction).

    Engine shape: lineitem⋈part is the star-join edge (hash join;
    the brand dim projects to 2 columns before the join); the
    DISTINCT basket table is one (okey, item) shuffle with map-side
    combine, materialized ONCE via localCheckpoint (round-12: the SQL
    text reads baskets four times — total, marginals, both self-join
    sides — and Spark inlines a deterministic CTE per reference, so
    the star join + distinct ran 4×); the pair self-join keys on
    okey, so fan-out per order is bounded by the 25-brand item space
    (≤300 pairs/order worst case, ~6 typical) — linear in orders at
    100 TB, never all-pairs across the corpus.  Marginals (25 rows)
    and the 1-row total broadcast; output is ≤ C(25,2) = 300 rows, so
    the final sort is bounded."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(
            F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("item")
        )
        .distinct()
        .localCheckpoint()
    )
    baskets.createOrReplaceTempView("p22_ba_baskets")
    return spark.sql(
        _BA_TAIL.format(BK="p22_ba_baskets", MINSUP=_BA_MINSUP)
    )


# --------------------------------------------------------------------------
# rank_metrics_auc
# --------------------------------------------------------------------------

# AUC via the rank-sum identity with EXACT midranks: doubling keeps
# midranks integral (rank2 = 2·cum_less + cnt + 1), so
# 2·Σ_pos midrank = Σ pos·rank2 is an exact decimal(38,0) sum and
# AUC = (R1 − n1(n1+1)/2) / (n1·n0) needs exactly ONE float division.
# Degenerate guard from birth (round-9 sweep discipline): a single-
# class label column (n1 or n0 = 0) leaves AUC undefined — NULL on
# both engines, never a divide-by-zero throw.
_AUC_EXPR = (
    "CASE WHEN n1 = 0 OR n0 = 0 THEN NULL"
    " ELSE (CAST(r2p AS DOUBLE) / 2.0"
    " - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)"
    " / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) END"
)

_AUC_TAIL = (
    "CAST(n1 AS BIGINT) AS n_pos",
    "CAST(n0 AS BIGINT) AS n_neg",
    "CAST(n_cells AS BIGINT) AS n_distinct_scores",
    f"CAST({_AUC_EXPR} AS DOUBLE) AS auc",
    f"CAST(CASE WHEN n1 = 0 OR n0 = 0 THEN NULL"
    f" ELSE 2.0 * ({_AUC_EXPR}) - 1.0 END AS DOUBLE) AS gini",
)

_AUC_ORACLE = f"""
WITH v AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
cell AS (
  SELECT v, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM v GROUP BY v
),
w AS (
  SELECT pos, cnt,
         COALESCE(CAST(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
           PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_less
  FROM cell
),
f AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n1,
         CAST(SUM(cnt - pos) AS BIGINT) AS n0,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(CAST(pos AS HUGEINT)
                  * (2 * CAST(cum_less AS HUGEINT) + cnt + 1))
              AS HUGEINT) AS r2p
  FROM w
)
SELECT {", ".join(_AUC_TAIL)} FROM f
"""


@register("rank_metrics_auc", oracle=_AUC_ORACLE)
def rank_metrics_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (+ Gini = 2·AUC − 1) of the order-value score
    against the urgent/high priority label — the acceptance metric for
    every quality/toxicity/contamination classifier whose scores gate
    a corpus mix (rank_metrics_ndcg's binary-label sibling; the
    probability a random positive outranks a random negative).

    Exactness: midranks under ties stay integral by DOUBLING (the
    stats_mann_whitney_u recipe — AUC is U/(n1·n0) in disguise), so
    the positive rank sum is an exact decimal(38,0) reduction and the
    float tail is one shared division text; a single-class corpus
    yields NULL AUC/Gini on both engines, never a throw.

    Engine shape: rows pre-aggregate to per-distinct-score cells in
    one map-side-combined shuffle; the global rank prefix reuses the
    shared two-level bucket scheme (per-bucket windows + a ≤64-row
    broadcast offset table, NEVER a single-partition sort — the
    oracle's direct single-window form proves the scheme exact); the
    fold is one constant-width reduction."""
    v = table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    cells = v.groupBy("v").agg(
        F.sum("y").cast("bigint").alias("pos"),
        F.count(F.lit(1)).alias("cnt"),
    )
    c2 = _with_cum_less(spark, cells, "auc")
    big = "decimal(38,0)"
    f = c2.agg(
        F.sum("pos").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("pos")).cast("bigint").alias("n0"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(
            (
                F.col("pos").cast(big)
                * (F.lit(2) * F.col("cum_less") + F.col("cnt") + 1)
            ).cast(big)
        )
        .cast(big)
        .alias("r2p"),
    )
    return f.selectExpr(*_AUC_TAIL)


# --------------------------------------------------------------------------
# stats_fisher_exact
# --------------------------------------------------------------------------

# Bounded cohort (c_custkey < 1500, constant at every SF — the
# join_spatial_grid / text_unicode_normalize bounded-domain pattern):
# exact enumeration sums over min(r1, c1) − max(0, r1 + c1 − N) + 1
# hypergeometric terms, so the domain bound keeps BOTH engines'
# term tables small and identical.
_FE_CUT = 1500
# Two-sided selection happens in LOG space on EXACT decimals:
# ln pmf(k) − ln pmf(a) = D(a) − D(k) where D(k) = lf(k) + lf(r1−k)
# + lf(c1−k) + lf(n−r1−c1+k) and lf is a cumulative sum of
# decimal(25,6)-truncated ln values — the constant margin terms
# cancel, every comparison is decimal-exact, and the standard 1e-7
# tolerance keeps ties with the observed cell in (both engines
# compare identical decimals, so the selected k-set is identical).
# The final p folds exp() through DECIMAL(38,37) before summing —
# term order cannot drift the sum (the shared float-determinism
# recipe), and exp's ≤1-ulp libm divergence is 12 digits below the
# 6-dp compare.

_FE_QUERY = """
WITH cohort AS (
  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS in_a,
         CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS succ
  FROM {CUST} WHERE c_custkey < {CUT}
),
ct AS (
  SELECT CAST(COALESCE(SUM(in_a * succ), 0) AS BIGINT) AS a,
         CAST(COALESCE(SUM(in_a), 0) AS BIGINT) AS r1,
         CAST(COALESCE(SUM(succ), 0) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM cohort
),
idx AS (SELECT {RANGE} AS j),
lf AS (
  SELECT j,
         CAST(COALESCE(SUM(CASE WHEN j2 <= 1 THEN CAST(0 AS DECIMAL(25,6))
                  ELSE CAST(LN(CAST(j2 AS DOUBLE)) AS DECIMAL(25,6)) END)
           OVER (ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW), 0) AS DECIMAL(38,6)) AS v
  FROM (SELECT j, j AS j2 FROM idx) t
),
ks AS (
  SELECT k.j AS k, ct.a, ct.r1, ct.c1, ct.n
  FROM idx k CROSS JOIN ct
  WHERE k.j >= CASE WHEN ct.r1 + ct.c1 - ct.n > 0
                    THEN ct.r1 + ct.c1 - ct.n ELSE 0 END
    AND k.j <= CASE WHEN ct.r1 < ct.c1 THEN ct.r1 ELSE ct.c1 END
),
d AS (
  SELECT ks.k, ks.a, ks.r1, ks.c1, ks.n,
         CAST(l1.v + l2.v + l3.v + l4.v AS DECIMAL(38,6)) AS dk
  FROM ks
  JOIN lf l1 ON l1.j = ks.k
  JOIN lf l2 ON l2.j = ks.r1 - ks.k
  JOIN lf l3 ON l3.j = ks.c1 - ks.k
  JOIN lf l4 ON l4.j = ks.n - ks.r1 - ks.c1 + ks.k
),
obs AS (SELECT dk AS da FROM d WHERE k = a),
const AS (
  SELECT CAST(lr1.v + lr2.v + lc1.v + lc2.v - ln.v AS DECIMAL(38,6)) AS c0
  FROM ct
  JOIN lf lr1 ON lr1.j = ct.r1
  JOIN lf lr2 ON lr2.j = ct.n - ct.r1
  JOIN lf lc1 ON lc1.j = ct.c1
  JOIN lf lc2 ON lc2.j = ct.n - ct.c1
  JOIN lf ln ON ln.j = ct.n
),
sel AS (
  SELECT d.k, d.a, d.r1, d.c1, d.n,
         CAST(const.c0 - d.dk AS DOUBLE) AS lnpmf
  FROM d CROSS JOIN obs CROSS JOIN const
  WHERE d.dk >= obs.da - CAST(0.0000001 AS DECIMAL(38,6))
)
SELECT CAST(MAX(a) AS BIGINT) AS a,
       CAST(MAX(r1) AS BIGINT) AS r1,
       CAST(MAX(c1) AS BIGINT) AS c1,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(CAST(SUM(CAST(EXP(lnpmf) AS DECIMAL(38,37)))
            AS DOUBLE) AS DOUBLE) AS p_two_sided,
       CAST(CASE WHEN CAST(SUM(CAST(EXP(lnpmf) AS DECIMAL(38,37)))
                      AS DOUBLE) < 0.05
                 THEN 1 ELSE 0 END AS BIGINT) AS sig_95
FROM sel
"""

_FE_ORACLE = _FE_QUERY.format(
    CUST="customer",
    CUT=_FE_CUT,
    RANGE=f"UNNEST(range(0, {_FE_CUT + 1}))",
)


@register("stats_fisher_exact", oracle=_FE_ORACLE)
def stats_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test of (BUILDING segment) × (positive account
    balance) on a bounded customer cohort: the two-sided p sums every
    hypergeometric table (fixed margins) at most as probable as the
    observed one — the small-count companion to
    ``stats_chi2_independence``, exact where the χ² approximation is
    invalid.

    Exactness: the ln-factorial table is a cumulative sum of
    decimal(25,6)-truncated ln values, so D(k) (the k-varying part of
    −ln pmf) is an exact decimal and the two-sided SELECTION of k
    values is a decimal comparison — identical on both engines by
    construction (the margin constants cancel out of the criterion).
    The p fold lifts exp() through DECIMAL(38,37) so partial-sum
    order cannot drift the result.

    Engine shape: the 2×2 counts are one map-side-combined reduction
    over the bounded cohort; the factorial/k tables are generated
    relations of ≤1,501 rows (constant at any SF) joined broadcast;
    at 100 TB only the cohort scan grows — the enumeration cost is
    fixed by the domain bound, which is the point of choosing exact
    tests for SMALL tables."""
    table(spark, sf_dir, "customer").createOrReplaceTempView(
        "p22_fe_customer"
    )
    return spark.sql(
        _FE_QUERY.format(
            CUST="p22_fe_customer",
            CUT=_FE_CUT,
            RANGE=f"explode(sequence(0, {_FE_CUT}))",
        )
    )


# --------------------------------------------------------------------------
# ml_calibration_bins
# --------------------------------------------------------------------------

_CB_THRESH = 300  # n_chars label split (fixture median 306)

# Score: first 6 md5 nibbles of the text, mod 1000 → an exact integer
# "probability" in milli-units (the portable-hash recipe from
# shard_assignment_hash / quality_classifier_hashed).  Per-bin means,
# positive rates, and Brier scores all reduce to exact integer sums —
# Σ(s_milli − 1000·y)² is the Brier numerator ×10⁶ — with one shared
# division text per ratio.  n ≥ 1 per emitted bin, so no denominator
# guard is needed.
_CB_QUERY = """
WITH scored AS (
  SELECT CAST({HX} % 1000 AS BIGINT) AS s_milli,
         CASE WHEN n_chars > {THRESH} THEN 1 ELSE 0 END AS y
  FROM {DOCS}
)
SELECT CAST(s_milli {IDIV} 100 AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(s_milli) AS DOUBLE)
            / (1000.0 * COUNT(*)) AS DOUBLE) AS mean_score,
       CAST(CAST(SUM(y) AS DOUBLE) / COUNT(*) AS DOUBLE) AS pos_rate,
       CAST(CAST(SUM((s_milli - 1000 * y) * (s_milli - 1000 * y))
            AS DOUBLE) / (1000000.0 * COUNT(*)) AS DOUBLE) AS brier
FROM scored
GROUP BY 1
ORDER BY 1
"""

_CB_ORACLE = _CB_QUERY.format(
    HX="CAST('0x' || substr(md5(text), 1, 6) AS BIGINT)",
    THRESH=_CB_THRESH,
    DOCS="documents",
    IDIV="//",
)


@register("ml_calibration_bins", oracle=_CB_ORACLE)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + per-bin Brier score for a deterministic
    [0,1) classifier score over the corpus: decile bins of predicted
    probability vs the empirical positive rate (label: long doc).  A
    calibrated classifier has mean_score ≈ pos_rate per bin — the
    property a quality scorer needs BEFORE its scores weight a corpus
    mix (corpus_mix_weighted_sample consumes such scores).

    Exactness: the score is an exact integer in milli-units (portable
    md5 arithmetic), so per-bin sums — including the Brier numerator
    Σ(s − y)²·10⁶ — are exact BIGINT reductions; each ratio is one
    shared division text.  The hash score is deliberately uniform
    (uncalibrated BY FIXTURE CONSTRUCTION): bins pin mean_score ≈
    bin center while pos_rate stays flat at the corpus base rate —
    the operator measures calibration, the fixture need not be
    calibrated.

    Engine shape: one map-side-combined shuffle to exactly 10 bins;
    row-local hashing rides the scan.  At 100 TB this is a pure
    streaming aggregation — the cheapest possible evaluation op."""
    table(spark, sf_dir, "documents").createOrReplaceTempView(
        "p22_cb_documents"
    )
    return spark.sql(
        _CB_QUERY.format(
            HX="conv(substr(md5(text), 1, 6), 16, 10)",
            THRESH=_CB_THRESH,
            DOCS="p22_cb_documents",
            IDIV="div",
        )
    )
