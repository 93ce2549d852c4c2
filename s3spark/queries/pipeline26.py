"""Round-12 extension batch: the persisted-index ANN read path —
IVF-PQ where the index is a cluster-partitioned parquet layout and
the search scans ONLY the probed posting-list partitions (round-12
VERDICT item 3: "a real 100 TB user hits this first") — plus the
data-mixing sampler every corpus assembly runs.

- ``sim_ivfpq_persisted_read``: build the IVF-PQ index ONCE as a
  parquet table partitioned by ``cluster_id`` (coarse assignment +
  8x4-bit PQ codes per vector — exactly the ``assigned``/``codes``
  relations ``sim_ivfpq_search_e2e`` names as the production
  artifact), then answer the query batch through a partition-pruned
  scan: coarse-rank the 16 centroids per query driver-side (80 rows),
  read back just the <= Q x nprobe probed partitions, ADC-score with
  broadcast LUTs, exact re-rank.
- ``sample_token_budget_mixture``: Pile/Dolma-style domain mixing —
  given target mixture weights per source and a global token budget,
  allocate per-source token quotas with exact-integer waterfilling
  (oversubscribed sources cap at their full size; the residual
  redistributes to the rest), then realize the sample with a
  deterministic content-hash threshold.

Reference scope: the reference (amazons3_blueprints, SURVEY.md §2.2)
has no relational surface; extends SURVEY.md §2.3 sections G/J.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3spark.io import scratch_dir, table
from s3spark.queries.pipeline24 import (
    _ivfpq_sql,
    _pq_adist,
    _pq_dfull,
    _pq_lut_cols,
    _pq_parts,
    _pq_pc_standalone_sql,
    _pq_prefix_sql,
    _pq_rerank_tail,
    _PQ_DIM,
    _PQ_K,
    _PQ_M,
    _PQ_PROBES,
    _PQ_QUERIES,
)
from s3spark.registry import register

# --------------------------------------------------------------------------
# sim_ivfpq_persisted_read
# --------------------------------------------------------------------------

_SPARK_EL = "element_at(embedding, {i})"


def _ivfpq_index_sql(el, pc_source: str | None = None) -> str:
    """The index-BUILD text: per vector, coarse cluster assignment
    (argmin full distance, ``sim_ivfpq_search_e2e``'s exact crank
    text) + the 8 PQ codes — the two relations the e2e key's
    docstring names as the persisted production artifact, in one
    row per vector ready for ``write.partitionBy("cluster_id")``."""
    code_cols = ", ".join(
        f"CAST(c.code_{m} AS INT) AS code_{m}" for m in range(_PQ_M)
    )
    return f"""{_pq_prefix_sql(el, pc_source)},
cfull AS (SELECT vec_id, cent_id, ({_pq_dfull()}) AS dfull FROM pc),
crank AS (
  SELECT vec_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dfull, cent_id) AS pr
  FROM cfull
),
assigned AS (SELECT vec_id, cent_id AS cluster_id FROM crank WHERE pr = 1)
SELECT c.vec_id, {code_cols}, CAST(a.cluster_id AS INT) AS cluster_id
FROM codes c JOIN assigned a ON a.vec_id = c.vec_id
"""


def _qpc_sql(src: str) -> str:
    """Query-side pc as a plain parenthesized derived table (no CTE,
    so it embeds anywhere without shadowing an outer ``v``): the
    {_PQ_QUERIES} query vectors crossed with the 16 codebook rows,
    carrying the SAME 8 subspace-distance expressions as the full pc
    relation (``_pq_parts`` — identical text, so the doubles feeding
    coarse ranking and the LUTs are bitwise the ones the inline
    oracle computes)."""
    el = lambda i: _SPARK_EL.format(i=i)  # noqa: E731
    els, _c_els, d_cols = _pq_parts(el)
    c_direct = ", ".join(
        f"CAST({el(i + 1)} AS DOUBLE) AS c{i + 1}" for i in range(_PQ_DIM)
    )
    return f"""(
  SELECT v.vec_id, cb.cent_id, {", ".join(d_cols)}
  FROM (SELECT vec_id, {els} FROM {src}
        WHERE vec_id < {_PQ_QUERIES}) v
  CROSS JOIN (SELECT vec_id AS cent_id, {c_direct} FROM {src}
              WHERE vec_id < {_PQ_K}) cb
)"""


@register(
    "sim_ivfpq_persisted_read",
    oracle=_ivfpq_sql(lambda i: f"embedding[{i}]"),
)
def sim_ivfpq_persisted_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search against a PERSISTED index — the production form
    ``sim_ivfpq_search_e2e`` computes inline: the index (per vector:
    coarse ``cluster_id`` + 8x4-bit PQ codes) is written once as
    parquet ``PARTITIONED BY (cluster_id)``, and the query batch then
    touches ONLY its probed posting-list partitions:

    1. BUILD (amortized in production, replayed here for a
       self-contained fixture key): the e2e text's ``assigned`` +
       ``codes`` relations, one row per vector, laid out by
       ``write.partitionBy("cluster_id")`` — 16 posting-list
       directories.
    2. PROBE (driver-side planner step, the ``scan_manifest_prune``
       precedent): each query ranks the 16 centroids by the shared
       coarse-distance text and keeps its {_PQ_PROBES} nearest — a
       Q x K = 80-row collect, bounded by the query batch, never by
       the corpus.
    3. READ: ``cluster_id IN (probed)`` prunes at PLANNING time —
       the scan's PartitionFilters select <= Q x {_PQ_PROBES} of the
       16 directories and the non-probed posting lists are never
       opened (plan-gated in tests/test_plans.py).
    4. SCORE: broadcast the 10-row probe map and the 5-row LUTs onto
       the pruned scan, ADC CASE lookups in codegen, exact re-rank of
       the top-50 against the source vectors (``_pq_rerank_tail``,
       byte-shared with ADC and e2e).

    Engine shape (100 TB): this is the layout that makes billion-row
    ANN serving work — the corpus-sized relation is the parquet
    index, the per-query cost is (posting-list scan + 8 int lookups
    per candidate), and NOTHING else scales with corpus size.  The
    build cost is paid once; every later query batch pays only steps
    2-4.  Directory-partitioning by cluster_id is exactly a FAISS
    IVF posting-list file per centroid, expressed as a lakehouse
    layout.

    FULL value oracle, bitwise-portable: the oracle is the INLINE
    e2e text (``_ivfpq_sql``) — the persisted path must reproduce
    its results exactly because every stored/recomputed number
    (codes, assignment, LUT entries, coarse ranks) comes from the
    same shared-SQL float64 expressions; parquet stores the codes
    losslessly and the partition directories store cluster_id
    losslessly, so the round-trip through the index changes no
    value.  That equality IS the test: index build + pruned read ==
    one-shot inline computation."""
    el = lambda i: _SPARK_EL.format(i=i)  # noqa: E731
    table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "p26_embeddings"
    )

    # -- 1. BUILD: materialize pc once (the e2e key's checkpoint
    # pattern), derive codes + coarse assignment, lay out by cluster.
    pc = (
        spark.sql(
            _pq_pc_standalone_sql(el).replace(
                "FROM embeddings", "FROM p26_embeddings"
            )
        )
        .repartition(8, "vec_id")
        .localCheckpoint(eager=True)
    )
    pc.createOrReplaceTempView("p26_pc")
    index = spark.sql(
        _ivfpq_index_sql(el, pc_source="p26_pc").replace(
            "FROM embeddings", "FROM p26_embeddings"
        )
    )
    out = scratch_dir("ivfpq_index") + "/embeddings_ivfpq"
    # One file per posting list (round-12, guide §6): without the
    # cluster_id clustering each of the 8 upstream tasks writes a
    # sliver into every partition directory (up to 8x16 files); the
    # hash repartition puts each cluster wholly in one task so the
    # layout is 16 single-file posting lists — fewer commits on write,
    # one open per probed list on read.
    index.repartition(16, "cluster_id").write.partitionBy(
        "cluster_id"
    ).mode("overwrite").parquet(out)
    spark.catalog.refreshByPath(out)

    # -- 2. PROBE: coarse-rank the codebook per query driver-side.
    # Q x K = 80 rows — a planner metadata step bounded by the query
    # batch (scan_manifest_prune's driver-side manifest precedent),
    # sorting ALREADY-COMPUTED shared-text doubles (no new float
    # arithmetic, so engine portability is untouched).
    qpc_rows = spark.sql(
        f"SELECT vec_id, cent_id, ({_pq_dfull()}) AS dfull"
        f" FROM {_qpc_sql('p26_embeddings')} qpc"
    ).collect()
    by_query: dict = {}
    for r in qpc_rows:
        by_query.setdefault(r["vec_id"], []).append(
            (r["dfull"], r["cent_id"])
        )
    probes = [
        (int(qid), int(cent))
        for qid, ds in by_query.items()
        for _d, cent in sorted(ds)[:_PQ_PROBES]
    ]
    probed_clusters = sorted({c for _q, c in probes})
    spark.createDataFrame(
        probes, "query_id BIGINT, qc INT"
    ).createOrReplaceTempView("p26_probes")

    # -- 3. READ: explicit schema (partition column included — read
    # from the ROOT, so directory discovery fills cluster_id); the
    # IN-list on the partition column prunes at planning time.
    idx_schema = (
        "vec_id BIGINT, "
        + ", ".join(f"code_{m} INT" for m in range(_PQ_M))
        + ", cluster_id INT"
    )
    pruned = spark.read.schema(idx_schema).parquet(out).filter(
        F.col("cluster_id").isin(probed_clusters)
    )
    pruned.createOrReplaceTempView("p26_idx")

    # -- 4. SCORE: LUTs from the query-side pc (same d_m text), ADC
    # over the pruned posting lists, shared re-rank tail.
    sql = f"""
WITH v AS (SELECT vec_id, {_pq_parts(el)[0]} FROM p26_embeddings),
qpc AS ({_qpc_sql('p26_embeddings')}),
qlut AS (
  SELECT vec_id AS query_id, {_pq_lut_cols()}
  FROM qpc GROUP BY vec_id
),
pair AS (
  SELECT p.query_id, x.vec_id, {_pq_adist()} AS adist
  FROM p26_probes p
  JOIN p26_idx x ON x.cluster_id = p.qc
  JOIN qlut q ON q.query_id = p.query_id
  WHERE x.vec_id <> p.query_id
),
{_pq_rerank_tail()}"""
    return spark.sql(sql)


# --------------------------------------------------------------------------
# sample_token_budget_mixture
# --------------------------------------------------------------------------

# Budget = 2/5 of corpus tokens (exact integer).  Weights: every
# 5th source gets weight 25, the rest weight 1 — the skew makes the
# heavy sources OVERSUBSCRIBED (target share 25/116 of the budget
# exceeds their ~1/20 inventory), so the cap+redistribute path is
# exercised at every fixture SF, not just in theory.
_MIX_BUDGET_NUM, _MIX_BUDGET_DEN = 2, 5
_MIX_PPM = 1_000_000

_MIX_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
              AS INTEGER) % {_MIX_PPM} AS bucket
  FROM documents
),
src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs_total,
         CAST(SUM(toks) AS BIGINT) AS tokens_total,
         CAST(CASE WHEN CAST(regexp_extract(source, '[0-9]+') AS INTEGER)
                        % 5 = 0 THEN 25 ELSE 1 END AS BIGINT) AS weight
  FROM d GROUP BY source
),
tot AS (
  SELECT SUM(tokens_total) AS corpus_toks, SUM(weight) AS w_all
  FROM src
),
r1 AS (
  SELECT s.*, t.w_all,
         (t.corpus_toks * {_MIX_BUDGET_NUM}) // {_MIX_BUDGET_DEN} AS budget,
         s.weight * ((t.corpus_toks * {_MIX_BUDGET_NUM})
                     // {_MIX_BUDGET_DEN}) AS d1,
         s.weight * ((t.corpus_toks * {_MIX_BUDGET_NUM})
                     // {_MIX_BUDGET_DEN})
           >= s.tokens_total * t.w_all AS cap1
  FROM src s CROSS JOIN tot t
),
l1 AS (
  SELECT SUM(CASE WHEN cap1 THEN d1 - tokens_total * w_all
             ELSE 0 END) AS leftover1,
         SUM(CASE WHEN cap1 THEN 0 ELSE weight END) AS w_active
  FROM r1
),
r2 AS (
  SELECT r1.*,
         CASE WHEN cap1 THEN tokens_total * w_all * l1.w_active
              ELSE d1 * l1.w_active + weight * l1.leftover1 END AS d2,
         tokens_total * w_all * l1.w_active AS full2
  FROM r1 CROSS JOIN l1
),
rates AS (
  SELECT source, n_docs_total, tokens_total, weight,
         CAST(LEAST({_MIX_PPM},
                    (d2 * {_MIX_PPM}) // full2) AS BIGINT) AS rate_ppm
  FROM r2
),
kept AS (
  SELECT d.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
         CAST(SUM(d.toks) AS BIGINT) AS tokens_kept
  FROM d JOIN rates r ON r.source = d.source
  WHERE d.bucket < r.rate_ppm
  GROUP BY d.source
)
SELECT r.source, r.n_docs_total, r.tokens_total, r.weight, r.rate_ppm,
       CAST(CASE WHEN r.rate_ppm >= {_MIX_PPM} THEN 1 ELSE 0 END
            AS BIGINT) AS capped,
       COALESCE(k.n_docs_kept, 0) AS n_docs_kept,
       COALESCE(k.tokens_kept, 0) AS tokens_kept
FROM rates r LEFT JOIN kept k ON k.source = r.source
ORDER BY r.source
"""


@register("sample_token_budget_mixture", oracle=_MIX_SQL)
def sample_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling to a global token budget — the data
    mixing step of corpus assembly (Pile/Dolma-style): target weights
    per source (here 25 for every 5th source, 1 otherwise — the skew
    deliberately oversubscribes the heavy sources), a token budget of
    2/5 of the corpus, per-source quotas d_s = w_s/W * T, and ONE
    waterfilling redistribution round: sources whose quota exceeds
    their inventory cap at their full size and the unspent budget
    reflows to the remaining sources in proportion to their weights
    (a second-round cap then clamps via LEAST; residual after that is
    reported unspent — a fixed two-round unroll keeps the query
    deterministic and join-free).

    EXACT integer arithmetic end to end: cap tests are cross-multiplied
    (w_s*T >= N_s*W — no float division anywhere near a decision),
    quotas live in W- then W·W_active-scaled integer space, and the
    realized rate is an integer ppm threshold against a 24-bit md5
    bucket of doc_id (the sample_hash_based portability idiom), so
    both engines select the IDENTICAL document set — no seed, no RNG,
    reproducible across engines, partitionings, and reruns, and
    incremental (a new day's docs sample consistently).  Scaled
    integers bound by corpus_tokens * W * W_active * 1e6 — BIGINT-safe
    through ~1e11 corpus tokens with these weights; a 100 TB corpus
    lifts the 20-row rate computation to DECIMAL(38,0) without
    touching the plan.

    Engine shape (100 TB): stats pass = one scan + 20-group agg;
    quota algebra is window-free arithmetic on the 20-row source
    relation (two tiny cross joins, constant size); apply pass = the
    rate table BROADCAST onto a second scan with a map-side hash
    filter + re-agg.  No wide shuffle except the 20-group aggs; both
    passes are scan-bound, which is the floor for any mixer.

    FULL value oracle: same integer algebra in DuckDB (// == Spark
    DIV on non-negative BIGINTs), same md5-prefix bucket."""
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("toks"),
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
                    16,
                    10,
                ).cast("long")
                % _MIX_PPM
            ).alias("bucket"),
        )
    )
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_total"),
        F.sum("toks").cast("long").alias("tokens_total"),
    ).withColumn(
        "weight",
        F.when(
            F.regexp_extract("source", "[0-9]+", 0).cast("int") % 5 == 0,
            F.lit(25),
        )
        .otherwise(F.lit(1))
        .cast("long"),
    )
    tot = src.agg(
        F.sum("tokens_total").alias("corpus_toks"),
        F.sum("weight").alias("w_all"),
    )
    budget = F.expr(
        f"corpus_toks * {_MIX_BUDGET_NUM} div {_MIX_BUDGET_DEN}"
    )
    r1 = (
        src.crossJoin(F.broadcast(tot))
        .withColumn("budget", budget)
        .withColumn("d1", F.col("weight") * F.col("budget"))
        .withColumn(
            "cap1",
            F.col("d1") >= F.col("tokens_total") * F.col("w_all"),
        )
    )
    l1 = r1.agg(
        F.sum(
            F.when(
                F.col("cap1"),
                F.col("d1") - F.col("tokens_total") * F.col("w_all"),
            ).otherwise(F.lit(0))
        ).alias("leftover1"),
        F.sum(
            F.when(F.col("cap1"), F.lit(0)).otherwise(F.col("weight"))
        ).alias("w_active"),
    )
    r2 = (
        r1.crossJoin(F.broadcast(l1))
        .withColumn(
            "full2",
            F.col("tokens_total") * F.col("w_all") * F.col("w_active"),
        )
        .withColumn(
            "d2",
            F.when(F.col("cap1"), F.col("full2")).otherwise(
                F.col("d1") * F.col("w_active")
                + F.col("weight") * F.col("leftover1")
            ),
        )
    )
    rates = r2.select(
        "source",
        "n_docs_total",
        "tokens_total",
        "weight",
        F.least(
            F.lit(_MIX_PPM).cast("long"),
            F.expr(f"d2 * {_MIX_PPM} div full2"),
        ).alias("rate_ppm"),
    )
    kept = (
        d.join(F.broadcast(rates.select("source", "rate_ppm")), "source")
        .filter(F.col("bucket") < F.col("rate_ppm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("toks").cast("long").alias("tokens_kept"),
        )
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs_total",
            "tokens_total",
            "weight",
            "rate_ppm",
            F.when(F.col("rate_ppm") >= _MIX_PPM, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("capped"),
            F.coalesce("n_docs_kept", F.lit(0)).cast("long").alias(
                "n_docs_kept"
            ),
            F.coalesce("tokens_kept", F.lit(0)).cast("long").alias(
                "tokens_kept"
            ),
        )
        .orderBy("source")
    )
