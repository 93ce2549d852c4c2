"""Round-11 extension batch: exact substring dedup (detect + apply),
the product-quantization ANN stack (encode, ADC search, composed
IVF-PQ read path), and multiple-testing FDR control — the remaining
classics of a training-data pipeline (r10 verdict items 3 and 6 plus
their natural completions).

- ``dedup_substring_exact``: every maximal duplicated token run of
  length >= 50 across the corpus (the public ExactSubstr technique,
  re-expressed for Spark: position-indexed 50-token shingle hashes,
  one content-hash shuffle, gaps-and-islands merge per doc).
- ``sim_pq_codebook_assign``: product-quantization encoding — the
  ANN-index *build* step (IVF-PQ's second half, complementing
  ``sim_ann_ivf``'s coarse quantizer): 8 sub-quantizers x 16
  deterministic sampled centroids, exact squared-L2 argmin per
  subvector.
- ``sim_pq_adc_topk``: the matching *search* step — asymmetric
  distance computation over the codes (8 table lookups per
  candidate) with exact re-rank of the top-50, recall-measured
  against exact search.
- ``sim_ivfpq_search_e2e``: the composed production read path —
  coarse-cluster probing (2 of 16 posting lists, ~12.6% of the
  corpus) + ADC + exact re-rank; recall@5 0.92 at both fixture
  scales.
- ``dedup_substring_mask``: the ExactSubstr APPLY step — keep one
  canonical occurrence per duplicated shingle corpus-wide, cut the
  rest, report per-doc token accounting.
- ``stats_benjamini_hochberg``: step-up FDR control over the 25
  per-brand mean screens — the multiple-testing closer of the
  measurement family.

Reference scope: the reference (amazons3_blueprints, SURVEY.md §2.2)
has no relational surface; extends SURVEY.md §2.3 sections G/H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s3spark.io import table
from s3spark.registry import register

# --------------------------------------------------------------------------
# dedup_substring_exact
# --------------------------------------------------------------------------

# Duplication threshold in tokens.  A substring of >= _SUB_L tokens is
# duplicated iff its leading _SUB_L-token shingle is duplicated, so
# fixed-length shingle hashing detects EXACTLY the >= _SUB_L
# duplicated substrings (no false positives modulo md5 collisions, no
# misses), and consecutive duplicated positions merge into the maximal
# duplicated run: run of R shingle positions = R + _SUB_L - 1 tokens.
_SUB_L = 50

_SUBSTR_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i:i+{_SUB_L - 1}], ' ')) AS h
  FROM t, LATERAL (
    SELECT unnest(generate_series(1, len(toks) - {_SUB_L - 1})) AS i
  ) g
  WHERE len(toks) >= {_SUB_L}
),
dup AS (
  SELECT doc_id, pos FROM sh
  WHERE h IN (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2)
),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS run_start,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(*) + {_SUB_L - 1} AS BIGINT) AS dup_len_tokens
FROM isl
GROUP BY doc_id, grp
"""


@register("dedup_substring_exact", oracle=_SUBSTR_SQL)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All maximal duplicated substrings of >= 50 tokens across the
    corpus — the ExactSubstr dedup of training-data pipelines
    (arbitrary-length duplication at token granularity, complementing
    ``decontaminate_ngram_overlap``'s fixed-n membership test).

    Exactness: a duplicated substring of >= L tokens duplicates every
    one of its L-token shingles, and any duplicated L-shingle IS a
    duplicated L-token substring — so "positions whose 50-shingle
    hash appears >= 2 times corpus-wide", merged into consecutive
    runs per doc (gaps-and-islands: pos - row_number is constant on a
    run), yields exactly the maximal duplicated regions.  Matches
    count occurrences, so a substring repeated twice inside ONE doc
    is found too (self-duplication — the thing suffix-array ExactSubstr
    catches and pairwise doc dedup misses).

    Engine shape (100 TB): shingle hashing is pure map-side (md5 over
    the 50-token window — the md5-portability trick from
    dedup_fuzzy_minhash; a Karp-Rabin integer fold was A/B-measured in
    round 12 (OPTIMIZATION_r12.md item 5, PLANS.md "Round-11
    additions") and LOST 0.84x/0.6x — Spark interprets
    HOF lambdas per element while md5/concat_ws run in whole-stage
    codegen, so md5 stays); duplicate marking is ONE content-hash
    shuffle (count window over h — boilerplate-skewed hashes are
    AQE-splittable); the island merge is a per-doc window (shuffle by
    doc_id, never global).  No joins, no driver state, output scales
    with duplication rate, not corpus size.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sh = (
        d.filter(F.size(toks) >= _SUB_L)
        .select(F.col("doc_id"), toks.alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {_SUB_L - 1}),"
                    " i -> named_struct('pos', CAST(i AS BIGINT),"
                    f" 'h', md5(concat_ws(' ', slice(toks, i, {_SUB_L})))))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )
    dup = (
        sh.withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("n") >= 2)
        .select("doc_id", "pos")
    )
    isl = dup.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("long").alias("run_start"),
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        (F.count(F.lit(1)) + (_SUB_L - 1)).cast("long").alias(
            "dup_len_tokens"
        ),
    ).select("doc_id", "run_start", "n_shingles", "dup_len_tokens")


# --------------------------------------------------------------------------
# sim_pq_codebook_assign / sim_pq_adc_topk
# --------------------------------------------------------------------------

_PQ_M = 8  # sub-quantizers (64-dim embedding -> 8 x 8-dim subvectors)
_PQ_K = 16  # centroids per sub-quantizer (4-bit codes)
_PQ_SUB = 8  # dims per subvector
_PQ_QUERIES = 5  # verified query slice (the sim_ann_ivf convention)
_PQ_CAND = 50  # ADC candidate cut before exact re-rank
_PQ_TOPK = 5

_PQ_DIM = _PQ_M * _PQ_SUB


def _pq_parts(el) -> tuple:
    """The three generated fragments every PQ text builds from: the
    float64 element projection, the codebook projection, and the 8
    per-subspace squared-distance expressions."""
    els = ", ".join(
        f"CAST({el(i + 1)} AS DOUBLE) AS e{i + 1}" for i in range(_PQ_DIM)
    )
    c_els = ", ".join(f"e{i + 1} AS c{i + 1}" for i in range(_PQ_DIM))
    d_cols = []
    for m in range(_PQ_M):
        terms = []
        for i in range(_PQ_SUB):
            idx = m * _PQ_SUB + i + 1
            terms.append(f"(v.e{idx} - cb.c{idx}) * (v.e{idx} - cb.c{idx})")
        d_cols.append(f"({' + '.join(terms)}) AS d_{m}")
    return els, c_els, d_cols


def _pq_pc_standalone_sql(el) -> str:
    """The pc relation alone — (vector, centroid) pairs with the 8
    per-subspace squared distances — as a self-contained query, so the
    Spark path can materialize it ONCE (localCheckpoint + temp view)
    and feed every consumer CTE through the stored doubles instead of
    letting the planner inline the cross join per consumer."""
    els, c_els, d_cols = _pq_parts(el)
    return f"""
WITH v AS (SELECT vec_id, {els} FROM embeddings),
cb AS (SELECT vec_id AS cent_id, {c_els} FROM v WHERE vec_id < {_PQ_K})
SELECT v.vec_id, cb.cent_id, {", ".join(d_cols)}
FROM v CROSS JOIN cb"""


def _pq_prefix_sql(el, pc_source: str | None = None) -> str:
    """Shared CTE prefix for the PQ keys (both engines, differing
    ONLY in the element accessor ``el(idx) -> str``, 1-based):

    - ``v``: float64 elements e1..e64 per vector;
    - ``cb``: the codebook — the first {_PQ_K} vectors' subvectors
      (deterministic sampled codebook, the sim_ann_ivf centroid
      convention; a k-means-trained codebook drops in without
      changing the plan — see tests/test_pipeline24.py where the
      sampled codebook's recall is measured against exact search);
    - ``pc``: all (vector, centroid) pairs with per-subspace squared
      distances d_0..d_7;
    - ``mins``: per-vector per-subspace minima mn_0..mn_7;
    - ``codes``: exact argmin codes, ties to the smaller cent_id via
      MIN(CASE WHEN d = mn THEN cent_id END).

    Bitwise portability: every distance is an explicit left-to-right
    8-term sum over exact float64 inputs (float32 upcast), so both
    engines execute the identical IEEE op sequence — equality in the
    argmin CASE and the MIN fold compare identical doubles, never
    "close" ones.

    ``pc_source`` (Spark-only): name of a temp view holding the
    ALREADY-MATERIALIZED pc relation; the pc CTE then reads the stored
    doubles instead of re-deriving the cross join in every consumer
    (values identical by construction — the view holds the exact
    doubles the inline form computes)."""
    els, c_els, d_cols = _pq_parts(el)
    mins = ", ".join(
        f"MIN(d_{m}) AS mn_{m}" for m in range(_PQ_M)
    )
    codes = ", ".join(
        f"MIN(CASE WHEN p.d_{m} = m.mn_{m} THEN p.cent_id END) AS code_{m}"
        for m in range(_PQ_M)
    )
    pc_body = (
        f"SELECT * FROM {pc_source}"
        if pc_source
        else f"""
  SELECT v.vec_id, cb.cent_id, {", ".join(d_cols)}
  FROM v CROSS JOIN cb
"""
    )
    return f"""
WITH v AS (SELECT vec_id, {els} FROM embeddings),
cb AS (SELECT vec_id AS cent_id, {c_els} FROM v WHERE vec_id < {_PQ_K}),
pc AS ({pc_body}),
mins AS (SELECT vec_id, {mins} FROM pc GROUP BY vec_id),
codes AS (
  SELECT p.vec_id, {codes}
  FROM pc p JOIN mins m ON m.vec_id = p.vec_id
  GROUP BY p.vec_id
)"""


def _pq_assign_sql(el, pc_source: str | None = None) -> str:
    distortion = " + ".join(f"mn_{m}" for m in range(_PQ_M))
    code_cols = ", ".join(
        f"CAST(c.code_{m} AS INT) AS code_{m}" for m in range(_PQ_M)
    )
    return f"""{_pq_prefix_sql(el, pc_source)}
SELECT c.vec_id, {code_cols},
       ROUND({distortion}, 6) AS distortion
FROM codes c JOIN mins m ON m.vec_id = c.vec_id
"""


@register(
    "sim_pq_codebook_assign",
    oracle=_pq_assign_sql(lambda i: f"embedding[{i}]"),
)
def sim_pq_codebook_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding — the ANN index-BUILD step
    (IVF-PQ's second half, pairing with ``sim_ann_ivf``'s coarse
    quantizer): each 64-dim embedding splits into 8 subvectors of 8
    dims; each subvector is assigned its exact-argmin centroid among
    16 deterministic codebook entries (the first 16 vectors'
    subvectors — sampled, zero training, per-SF consistent; swap in
    k-means centroids without touching the plan).  Output: 8 x 4-bit
    codes (a 32-bit PQ code, 64x smaller than the float32 vector) +
    total quantization distortion.

    Engine shape (100 TB): PQ encode is a broadcast-16-rows nested
    join riding the scan + ONE vec_id-keyed aggregation — map-heavy,
    embarrassingly parallel, output 1 row per vector feeding
    ``write.partitionBy`` or a posting-list layout directly.

    FULL value oracle, bitwise: both engines run the same SQL text
    modulo the element accessor (``_pq_prefix_sql``); argmin ties
    break to the smaller cent_id by MIN over the equality CASE.

    The pc relation feeds TWO consumers here (mins, codes join) and
    Spark inlines CTEs — materialized once via localCheckpoint like
    the e2e path (round-12); values identical by construction."""
    el = lambda i: f"element_at(embedding, {i})"  # noqa: E731
    table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "p24_pq_embeddings"
    )
    pc = (
        spark.sql(
            _pq_pc_standalone_sql(el).replace(
                "FROM embeddings", "FROM p24_pq_embeddings"
            )
        )
        .repartition(8, "vec_id")
        .localCheckpoint(eager=True)
    )
    pc.createOrReplaceTempView("p24_assign_pc")
    sql = _pq_assign_sql(el, pc_source="p24_assign_pc").replace(
        "FROM embeddings", "FROM p24_pq_embeddings"
    )
    return spark.sql(sql)


def _pq_lut_cols() -> str:
    """Pivot of a query's pc rows into the 8x16 wide LUT columns —
    one fragment shared by ADC, the composed e2e path, and the
    persisted-index read path (pipeline26) so all three carry
    byte-identical arithmetic text."""
    return ", ".join(
        f"MAX(CASE WHEN cent_id = {k} THEN d_{m} END) AS l_{m}_{k}"
        for m in range(_PQ_M)
        for k in range(_PQ_K)
    )


def _pq_adist() -> str:
    """approx_dist(q, x) = Σ_m LUT_q[m][code_m(x)] as eight CASE
    lookups summed left-to-right, over aliases ``x`` (codes) and
    ``q`` (LUT row) — shared fragment (see ``_pq_lut_cols``)."""
    return " + ".join(
        "(CASE x.code_{m} {whens} END)".format(
            m=m,
            whens=" ".join(
                f"WHEN {k} THEN q.l_{m}_{k}" for k in range(_PQ_K)
            ),
        )
        for m in range(_PQ_M)
    )


def _pq_exact() -> str:
    """Exact squared-L2 as the explicit left-associated 64-term sum
    over aliases ``qv`` / ``xv`` — shared fragment."""
    return " + ".join(
        f"(qv.e{i + 1} - xv.e{i + 1}) * (qv.e{i + 1} - xv.e{i + 1})"
        for i in range(_PQ_DIM)
    )


def _pq_dfull() -> str:
    """Full (coarse) squared distance = Σ_m d_m, summed
    left-to-right over the pc subspace distances."""
    return " + ".join(f"d_{m}" for m in range(_PQ_M))


def _pq_rerank_tail() -> str:
    """The candidate-cut / exact-re-rank / top-k tail every PQ search
    text ends with, picking up from a ``pair(query_id, vec_id,
    adist)`` CTE and a float64 ``v`` relation: ADC window to
    top-{_PQ_CAND}, exact squared-L2 re-rank, top-{_PQ_TOPK} cut —
    shared verbatim by ADC, the composed e2e path, and the
    persisted-index read path."""
    exact = _pq_exact()
    return f"""cand AS (
  SELECT query_id, vec_id, adist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adist, vec_id) AS crn
  FROM pair
),
rer AS (
  SELECT c.query_id, c.vec_id, c.adist, ({exact}) AS exact_d2
  FROM cand c
  JOIN v qv ON qv.vec_id = c.query_id
  JOIN v xv ON xv.vec_id = c.vec_id
  WHERE c.crn <= {_PQ_CAND}
),
ranked AS (
  SELECT query_id, vec_id, adist, exact_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY exact_d2, vec_id) AS rn
  FROM rer
)
SELECT query_id, vec_id AS neighbor_id,
       ROUND(exact_d2, 6) AS dist_sq,
       ROUND(adist, 6) AS approx_dist,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_PQ_TOPK}
ORDER BY query_id, rn
"""


def _pq_adc_sql(el, pc_source: str | None = None) -> str:
    """ADC search text on top of ``_pq_prefix_sql``: per-query lookup
    tables are the query's own pc rows pivoted wide (LUT[m][k] =
    ||sub_m(q) - C[m][k]||², already computed for encoding);
    approx_dist(q, x) = Σ_m LUT_q[m][code_m(x)] as eight CASE lookups
    summed left-to-right; top-{_PQ_CAND} ADC candidates are then
    re-ranked by EXACT squared L2 (64-term shared-text sum) and cut
    to top-{_PQ_TOPK}."""
    lut_cols = _pq_lut_cols()
    adist = _pq_adist()
    return f"""{_pq_prefix_sql(el, pc_source)},
qlut AS (
  SELECT vec_id AS query_id, {lut_cols}
  FROM pc WHERE vec_id < {_PQ_QUERIES} GROUP BY vec_id
),
pair AS (
  SELECT q.query_id, x.vec_id, {adist} AS adist
  FROM codes x CROSS JOIN qlut q
  WHERE x.vec_id <> q.query_id
),
{_pq_rerank_tail()}"""


@register(
    "sim_pq_adc_topk",
    oracle=_pq_adc_sql(lambda i: f"embedding[{i}]"),
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's search half: asymmetric distance computation with
    exact re-rank — the standard production ANN read path.  Corpus
    vectors are represented ONLY by their 8x4-bit PQ codes; each
    query's lookup table (its exact squared distance to all 8x16
    centroids) turns candidate scoring into eight 4-bit table lookups
    per vector — O(M)=8 adds on a 4-byte code instead of O(D)=64
    float ops on a 256-byte vector, the ~32x memory-bandwidth win
    that fits billion-scale ANN in RAM.  The top-50 ADC candidates
    are then re-ranked by exact squared L2 (only 50 full vectors
    touched per query) and cut to top-5.

    Engine shape (100 TB): the LUT side is 5 rows broadcast;
    candidate scoring streams map-side through codegen CASE lookups;
    the only wide shuffle is the per-query candidate window (Q-way
    parallel in the query count); re-rank joins broadcast <=250
    candidate ids back onto the vector scan.  This key deliberately
    ADC-scans ALL codes — composing it under ``sim_ann_ivf``'s coarse
    partition bound restricts the scan to probed posting lists (the
    full IVF-PQ layout).

    FULL value oracle, bitwise-portable (shared SQL text modulo the
    element accessor); candidate-generation recall vs exact search is
    measured in tests/test_pipeline24.py and SCALE_STRESS.

    The pc relation feeds THREE consumers here (mins, codes join,
    query LUTs) and Spark inlines CTEs — materialized once via
    localCheckpoint like the e2e path (round-12); values identical by
    construction."""
    el = lambda i: f"element_at(embedding, {i})"  # noqa: E731
    table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "p24_pq_embeddings"
    )
    pc = (
        spark.sql(
            _pq_pc_standalone_sql(el).replace(
                "FROM embeddings", "FROM p24_pq_embeddings"
            )
        )
        .repartition(8, "vec_id")
        .localCheckpoint(eager=True)
    )
    pc.createOrReplaceTempView("p24_adc_pc")
    sql = _pq_adc_sql(el, pc_source="p24_adc_pc").replace(
        "FROM embeddings", "FROM p24_pq_embeddings"
    )
    return spark.sql(sql)


# --------------------------------------------------------------------------
# sim_ivfpq_search_e2e
# --------------------------------------------------------------------------

_PQ_PROBES = 2


def _ivfpq_sql(el, pc_source: str | None = None) -> str:
    """The full IVF-PQ read path in one query text (shared both
    engines, see ``_pq_prefix_sql``): the SAME pc CTE powers all
    three index structures — coarse assignment (full distance =
    Σ_m d_m, summed left-to-right over the already-portable subspace
    distances), PQ codes, and the query LUTs — then candidates come
    ONLY from each query's {_PQ_PROBES} nearest coarse clusters, ADC
    ranks them, and the top-{_PQ_CAND} re-rank exactly."""
    dfull = _pq_dfull()
    lut_cols = _pq_lut_cols()
    adist = _pq_adist()
    return f"""{_pq_prefix_sql(el, pc_source)},
cfull AS (SELECT vec_id, cent_id, ({dfull}) AS dfull FROM pc),
crank AS (
  SELECT vec_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dfull, cent_id) AS pr
  FROM cfull
),
assigned AS (SELECT vec_id, cent_id AS cluster_id FROM crank WHERE pr = 1),
probes AS (
  SELECT vec_id AS query_id, cent_id AS qc
  FROM crank WHERE pr <= {_PQ_PROBES} AND vec_id < {_PQ_QUERIES}
),
qlut AS (
  SELECT vec_id AS query_id, {lut_cols}
  FROM pc WHERE vec_id < {_PQ_QUERIES} GROUP BY vec_id
),
pair AS (
  SELECT p.query_id, x.vec_id, {adist} AS adist
  FROM probes p
  JOIN assigned a ON a.cluster_id = p.qc
  JOIN codes x ON x.vec_id = a.vec_id
  JOIN qlut q ON q.query_id = p.query_id
  WHERE x.vec_id <> p.query_id
),
{_pq_rerank_tail()}"""


@register(
    "sim_ivfpq_search_e2e",
    oracle=_ivfpq_sql(lambda i: f"embedding[{i}]"),
)
def sim_ivfpq_search_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE IVF-PQ ANN read path as one plan — coarse
    quantizer (sim_ann_ivf's role) + PQ codes (sim_pq_codebook_assign)
    + ADC scoring + exact re-rank (sim_pq_adc_topk), composed: each
    query probes its 2 nearest coarse clusters and ADC-scans ONLY
    those posting lists (~12.6% of the corpus on this fixture), then
    re-ranks the top-50 exactly.  Measured recall@5 vs exhaustive
    exact search: 0.92 at both fixture scales — better than the
    unpruned ADC scan's 0.76 (the coarse partition removes ADC
    impostors before the candidate cut) at an eighth of the scan.

    Engine shape (100 TB): this key computes the index inline to keep
    one auditable lineage; in production the ``assigned`` and
    ``codes`` relations ARE the persisted index (built once by
    sim_pq_codebook_assign's plan, partitioned BY cluster_id so a
    probe reads exactly its posting-list partitions — see
    ``sim_ivfpq_persisted_read`` for exactly that key), and the read
    path is: broadcast the per-query LUTs, bucket-join probes to
    posting lists, codegen CASE lookups, bounded re-rank — no stage
    scales with corpus size except the pruned posting-list scan.

    The pc relation (vector × centroid subspace distances) feeds
    THREE consumers (coarse distances, PQ codes, query LUTs); Spark
    inlines CTEs, so the inline form recomputes the cross join per
    consumer.  The Spark path therefore materializes pc ONCE
    (localCheckpoint → temp view) and feeds the identical stored
    doubles through the rest of the shared text — round-12 VERDICT
    item 2; values unchanged by construction, ~3× less work.

    FULL value oracle, bitwise-portable: coarse distances are the
    left-associated sums of the SAME subspace distances the PQ steps
    use, so one shared pc CTE powers every structure in both
    engines."""
    el = lambda i: f"element_at(embedding, {i})"  # noqa: E731
    table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "p24_pq_embeddings"
    )
    pc = (
        spark.sql(
            _pq_pc_standalone_sql(el).replace(
                "FROM embeddings", "FROM p24_pq_embeddings"
            )
        )
        # hash-distribute by vec_id before checkpointing: the parquet
        # scan is one split at fixture scale, and every consumer
        # (window rank, mins/codes aggregations) keys on vec_id — the
        # stored layout feeds them in parallel instead of 1 partition
        .repartition(8, "vec_id")
        .localCheckpoint(eager=True)
    )
    pc.createOrReplaceTempView("p24_ivfpq_pc")
    sql = _ivfpq_sql(el, pc_source="p24_ivfpq_pc").replace(
        "FROM embeddings", "FROM p24_pq_embeddings"
    )
    return spark.sql(sql)


# --------------------------------------------------------------------------
# dedup_substring_mask
# --------------------------------------------------------------------------

_MASK_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         md5(array_to_string(toks[i:i+{_SUB_L - 1}], ' ')) AS h
  FROM t, LATERAL (
    SELECT unnest(generate_series(1, len(toks) - {_SUB_L - 1})) AS i
  ) g
  WHERE len(toks) >= {_SUB_L}
),
marked AS (
  SELECT doc_id, pos, n_tokens FROM (
    SELECT doc_id, pos, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
    FROM sh
  ) r WHERE rn >= 2
),
isl AS (
  SELECT doc_id, pos, n_tokens,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {_SUB_L - 1}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
  FROM (
    SELECT doc_id, pos, n_tokens,
           LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM marked
  ) lagged
),
spans AS (
  SELECT doc_id, MAX(n_tokens) AS n_tokens,
         MAX(pos) - MIN(pos) + {_SUB_L} AS span_len
  FROM isl GROUP BY doc_id, isl_id
)
SELECT doc_id,
       CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(span_len) AS BIGINT) AS n_dropped,
       CAST(MAX(n_tokens) - SUM(span_len) AS BIGINT) AS n_kept
FROM spans
GROUP BY doc_id
"""


@register("dedup_substring_mask", oracle=_MASK_SQL)
def dedup_substring_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of ExactSubstr dedup (``dedup_substring_exact``
    is the report): every duplicated 50-token shingle keeps exactly
    ONE canonical occurrence corpus-wide — the lexicographically
    first (doc_id, pos) — and every other occurrence is drop-marked;
    marked positions expand to their 50-token windows, overlapping
    windows union into spans (same-length intervals overlap iff
    positions differ by <= 49, so a lag-gap island merge is exact),
    and the output is the per-doc token accounting (total, dropped,
    kept) a corpus-cutting pass consumes.  Docs with nothing to drop
    produce no row — output scales with duplication, not corpus.
    A doc that is X+X keeps exactly one X (planted test).

    Canonicality note: ranking occurrences per-hash (ROW_NUMBER over
    doc_id, pos) subsumes the count>=2 filter — rank >= 2 IS "a
    duplicate occurrence of a duplicated shingle" — so duplicate
    marking costs ONE hash-keyed window, same shuffle key as the
    detection key's count window.

    Engine shape (100 TB): identical to dedup_substring_exact — one
    content-hash shuffle (window), one doc_id shuffle (islands), no
    joins, no driver state; the canonical choice is deterministic so
    re-running on a grown corpus is stable for unchanged prefixes."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sh = (
        d.filter(F.size(toks) >= _SUB_L)
        .select(
            F.col("doc_id"),
            toks.alias("toks"),
            F.size(toks).cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {_SUB_L - 1}),"
                    " i -> named_struct('pos', CAST(i AS BIGINT),"
                    f" 'h', md5(concat_ws(' ', slice(toks, i, {_SUB_L})))))"
                )
            ).alias("s"),
        )
        .select("doc_id", "n_tokens", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )
    w_h = Window.partitionBy("h").orderBy("doc_id", "pos")
    marked = (
        sh.withColumn("rn", F.row_number().over(w_h))
        .filter(F.col("rn") >= 2)
        .select("doc_id", "pos", "n_tokens")
    )
    w_d = Window.partitionBy("doc_id").orderBy("pos")
    lagged = marked.withColumn("prev", F.lag("pos").over(w_d))
    isl = lagged.withColumn(
        "isl_id",
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") - F.col("prev") > (_SUB_L - 1)),
                1,
            ).otherwise(0)
        ).over(w_d.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    spans = isl.groupBy("doc_id", "isl_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        (F.max("pos") - F.min("pos") + _SUB_L).alias("span_len"),
    )
    return spans.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.sum("span_len").cast("long").alias("n_dropped"),
        (F.max("n_tokens") - F.sum("span_len")).cast("long").alias("n_kept"),
    )


# --------------------------------------------------------------------------
# stats_benjamini_hochberg
# --------------------------------------------------------------------------

# Two-sided normal-tail p via the Abramowitz & Stegun 7.1.26 erf
# polynomial (max abs error 1.5e-7) — written once and shared by both
# engines so the arithmetic is the same closed form on both sides.
# exp() is the one libm call (JVM vs DuckDB may differ in the last
# ulp); outputs are rounded to 6 dp and the BH comparisons sit far
# from any threshold on real data, so ulp drift cannot flip a
# verdict that the 6-dp oracle would see.
_BH_ALPHA = 0.05


def _bh_p_sql(zcol: str) -> str:
    x = f"(abs({zcol}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    poly = (
        f"(0.254829592 * {t} - 0.284496736 * ({t} * {t})"
        f" + 1.421413741 * ({t} * {t} * {t})"
        f" - 1.453152027 * ({t} * {t} * {t} * {t})"
        f" + 1.061405429 * ({t} * {t} * {t} * {t} * {t}))"
    )
    return f"({poly} * exp(-({x} * {x})))"  # = erfc(x) = two-sided p


def _bh_sql(lineitem: str, part: str) -> str:
    z = (
        "CASE WHEN vr <= 0.0 OR nb <= 0 THEN NULL"
        " ELSE (CAST(sb AS DOUBLE) / nb - mu) / sqrt(vr / nb) END"
    )
    return f"""
WITH x AS (
  SELECT p_brand AS brand,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0)) AS q
  FROM x
),
b AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sb
  FROM x GROUP BY brand
),
zt AS (
  SELECT brand, nb,
         {z.replace("mu", "(CAST(s AS DOUBLE) / n)").replace(
             "vr",
             "((CAST(q AS DOUBLE) - CAST(s AS DOUBLE)"
             " * (CAST(s AS DOUBLE) / n)) / n)",
         )} AS zv
  FROM b CROSS JOIN g
),
pt AS (
  SELECT brand, nb, zv,
         CASE WHEN zv IS NULL THEN NULL ELSE {_bh_p_sql("zv")} END AS pv
  FROM zt
),
r AS (
  SELECT brand, nb, zv, pv,
         ROW_NUMBER() OVER (ORDER BY pv ASC NULLS LAST, brand) AS rk,
         CAST(COUNT(pv) OVER () AS BIGINT) AS m
  FROM pt
),
qv AS (
  SELECT brand, nb, zv, pv, rk, m,
         MIN(pv * m / rk) OVER (ORDER BY rk DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qraw
  FROM r
)
SELECT brand, CAST(nb AS BIGINT) AS n_obs,
       ROUND(zv, 6) AS z, ROUND(pv, 6) AS p_value,
       CAST(rk AS BIGINT) AS p_rank,
       ROUND(CASE WHEN qraw > 1.0 THEN 1.0 ELSE qraw END, 6) AS q_value,
       CAST(CASE WHEN qraw IS NULL THEN NULL
                 WHEN qraw <= {_BH_ALPHA} THEN 1 ELSE 0 END
            AS BIGINT) AS discovery
FROM qv
ORDER BY p_rank
"""


@register(
    "stats_benjamini_hochberg",
    oracle=_bh_sql("lineitem", "part"),
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control — the missing closer of the
    measurement family: one z-screen per part brand (does the brand's
    mean extended price differ from the corpus mean?), then
    Benjamini-Hochberg step-up FDR across all 25 tests (p-rank,
    q-value = running min of p·m/i from the worst rank, discovery at
    q <= {_BH_ALPHA}).  Without FDR control a 25-way screen at
    alpha=0.05 false-positives ~1.2 brands per run by chance — this
    is the key every metrics dashboard quietly needs.

    Exactness: per-brand moments are exact decimal(38,0) cent sums
    (the stats_anova_oneway recipe); z and the A&S 7.1.26 erfc
    polynomial are one shared closed-form text on both engines; BH
    itself (rank, step-up cummin) is exact given p.  Zero-variance or
    empty cohorts yield NULL z/p and rank NULLS LAST (spelled
    explicitly — Spark defaults NULLS FIRST on ASC, DuckDB LAST).

    Engine shape (100 TB): one fact scan (lineitem ⋈ broadcast part)
    → 25-row partial+final moment agg + 1-row global fold → ALL
    downstream windows run on the bounded 25-row test table (m = test
    count, never data size).  The multiple-testing machinery is free;
    only the moment scan grows."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("p24_bh_l")
    table(spark, sf_dir, "part").createOrReplaceTempView("p24_bh_p")
    return spark.sql(_bh_sql("p24_bh_l", "p24_bh_p"))
