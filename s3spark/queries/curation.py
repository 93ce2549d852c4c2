"""Training-data curation operators: stratified sampling, greedy
sequence packing, and multi-format federation — the steps between a
cleaned corpus and batched training shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s3spark.io import scratch_dir, table
from s3spark.registry import register


@register(
    "sample_stratified_exact",
    oracle="""
SELECT source, doc_id, n_chars
FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
)
WHERE rn <= 5
ORDER BY source, doc_id
""",
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: exactly 5 documents per source, chosen
    deterministically (lowest doc_id) — the per-domain quota sampling
    that keeps a training mix balanced when sources differ by orders
    of magnitude.

    Window top-N per stratum compiles to WindowGroupLimit (per-
    partition top-5, no full sort); deterministic selection beats
    `sampleBy` fractions for reproducible curation runs."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("source", "doc_id")
    )


@register(
    "pack_sequences_greedy",
    oracle="""
SELECT source,
       CAST(floor((running - n_chars) / 2000.0) AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS bin_chars
FROM (
  SELECT source, n_chars,
         SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS running
  FROM documents
)
GROUP BY source, bin
ORDER BY source, bin
""",
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents stream (per source, in stable
    doc_id order) into ~2000-char bins by running-total assignment —
    the contiguous-packing step that turns a corpus into fixed-budget
    training shards without a serial loop.

    bin = floor((running_sum - own_length) / budget) assigns each doc
    by the space consumed BEFORE it, so assignment is a pure window
    cumsum: embarrassingly parallel across sources, one shuffle, no
    driver iteration.  (True first-fit bin packing is inherently
    serial; the running-total relaxation is the standard distributed
    compromise and over-fills a bin by at most one document.)"""
    d = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = d.select(
        "source",
        "n_chars",
        F.sum("n_chars").over(w).alias("running"),
    ).withColumn(
        # explicit floor on BOTH engines: DuckDB CAST(double AS BIGINT)
        # rounds half-away while Spark's cast truncates — floor is the
        # portable integer-bin formulation
        "bin", F.floor((F.col("running") - F.col("n_chars")) / 2000)
    )
    return (
        packed.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("bin_chars"),
        )
    )


@register(
    "scan_multi_format_union",
    oracle="""
SELECT fmt, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT 'parquet' AS fmt, n_chars FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'csv', n_chars FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'json', n_chars FROM documents WHERE doc_id < 200
)
GROUP BY fmt
ORDER BY fmt
""",
)
def scan_multi_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format federation: the same logical table materialized as
    parquet, CSV, and JSON-lines reads back through three format
    scans union'd into one frame — the mixed-lake reality where
    yesterday's exports and today's lakehouse coexist in one query.
    unionByName needs only schema agreement; each scan keeps its own
    pushdown rules."""
    out = scratch_dir("fmt")
    base = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
    )
    base.write.mode("overwrite").option("header", "true").csv(f"{out}/csv")
    base.write.mode("overwrite").json(f"{out}/json")
    pq = base.withColumn("fmt", F.lit("parquet"))
    cs = (
        spark.read.option("header", "true")
        .schema("doc_id long, n_chars long")
        .csv(f"{out}/csv")
        .withColumn("fmt", F.lit("csv"))
    )
    js = (
        spark.read.schema("doc_id long, n_chars long")
        .json(f"{out}/json")
        .withColumn("fmt", F.lit("json"))
    )
    return (
        pq.unionByName(cs)
        .unionByName(js)
        .groupBy("fmt")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars"))
        .orderBy("fmt")
    )


@register(
    "dedup_url_canonical",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'https://' ||
         CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END ||
         '.example.com/docs/' || CAST(doc_id % 100 AS VARCHAR) ||
         CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed' ELSE '' END AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         lower(regexp_replace(url, '\\?.*$', '')) AS curl
  FROM urls
)
SELECT curl, COUNT(*) AS n_dups, CAST(MIN(doc_id) AS BIGINT) AS keeper
FROM canon
GROUP BY curl
HAVING COUNT(*) > 1
ORDER BY curl
""",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: messy URLs (case-varied hosts,
    tracking query strings) normalize to a canonical form — lowercase,
    query stripped — and duplicates collapse keeping the smallest id,
    the crawl-frontier dedup every web corpus runs before content
    hashing.  URLs are synthesized deterministically from fixture
    columns so the oracle replays the exact same mess."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(
            F.col("source")
        ),
        F.lit(".example.com/docs/"),
        (F.col("doc_id") % 100).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed")).otherwise(
            F.lit("")
        ),
    )
    canon = d.select(
        "doc_id",
        F.lower(F.regexp_replace(url, r"\?.*$", "")).alias("curl"),
    )
    return (
        canon.groupBy("curl")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_dups") > 1)
    )
