"""Robustness operators: malformed-record handling, deterministic
sampling, schema-drift reads, outlier winsorization — the unglamorous
ops that decide whether a 100 TB pipeline survives real data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3spark.io import scratch_dir, table
from s3spark.registry import register


@register(
    "scalar_json_malformed",
    oracle="""
SELECT
  event_id,
  CASE WHEN json_valid(maybe_json)
       THEN CAST(json_extract(maybe_json, '$.k') AS INTEGER)
       ELSE NULL END AS k_parsed,
  NOT json_valid(maybe_json) AS is_corrupt
FROM (
  SELECT event_id,
         CASE WHEN event_id % 5 = 0
              THEN substr(props, 1, length(props) - 2)
              ELSE props END AS maybe_json
  FROM events
  WHERE event_id < 2000
)
ORDER BY event_id
""",
)
def scalar_json_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record semantics: every 5th props string is truncated
    into invalid JSON; from_json must yield NULL for those (PERMISSIVE
    behavior) and a validity flag marks them — the quarantine pattern
    instead of a failed job."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    maybe = F.when(
        F.col("event_id") % 5 == 0,
        F.expr("substr(props, 1, length(props) - 2)"),
    ).otherwise(F.col("props"))
    parsed = F.from_json(maybe, "k INT")
    return e.select(
        "event_id",
        parsed["k"].alias("k_parsed"),
        parsed["k"].isNull().alias("is_corrupt"),
    )


@register(
    "sample_hash_based",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6)) AS INTEGER) % 100 < 10
ORDER BY o_orderkey
""",
)
def sample_hash_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via content hashing: md5 of the key,
    first 6 hex digits mod 100.  Unlike .sample()/TABLESAMPLE this is
    reproducible across engines, partitionings, and reruns — the only
    sampling that composes with differential testing and incremental
    pipelines (same rows sampled every day)."""
    o = table(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 100
    )
    return (
        o.filter(bucket < 10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "scan_schema_evolution",
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(region) AS n_with_region,
       COUNT(*) - COUNT(region) AS n_legacy
FROM (
  SELECT c_custkey, NULL AS region FROM customer WHERE c_custkey < 500
  UNION ALL
  SELECT c_custkey, 'EMEA' AS region FROM customer WHERE c_custkey >= 500
)
""",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift read: two parquet batches written with different
    schemas (v2 adds a `region` column); mergeSchema unions them with
    NULL back-fill — the append-only lake evolution path.  Counts
    prove old rows surface with NULL and new rows carry the column."""
    out = scratch_dir("evolve")
    c = table(spark, sf_dir, "customer")
    c.filter(F.col("c_custkey") < 500).select("c_custkey").write.mode(
        "overwrite"
    ).parquet(f"{out}/batch=v1")
    c.filter(F.col("c_custkey") >= 500).select(
        "c_custkey", F.lit("EMEA").alias("region")
    ).write.mode("overwrite").parquet(f"{out}/batch=v2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/batch=v1", f"{out}/batch=v2"
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("region").alias("n_with_region"),
        (F.count(F.lit(1)) - F.count("region")).alias("n_legacy"),
    )


@register(
    "agg_winsorize",
    oracle="""
WITH caps AS (
  SELECT quantile_cont(o_totalprice, 0.05) AS lo,
         quantile_cont(o_totalprice, 0.95) AS hi
  FROM orders
)
SELECT
  COUNT(*) AS n,
  round(CAST(SUM(CAST(least(greatest(o_totalprice, caps.lo), caps.hi)
                      AS DECIMAL(25,6))) AS DOUBLE), 2) AS winsorized_sum,
  COUNT(*) FILTER (o_totalprice < caps.lo OR o_totalprice > caps.hi)
    AS n_clipped
FROM orders CROSS JOIN caps
""",
)
def agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip values to the [p5, p95] corridor computed
    from the data itself — two passes (exact quantiles broadcast back,
    then clip+aggregate), the outlier treatment before training-stat
    computation."""
    o = table(spark, sf_dir, "orders")
    caps = o.agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("lo"),
        F.expr("percentile(o_totalprice, 0.95)").alias("hi"),
    )
    clipped = o.crossJoin(F.broadcast(caps)).select(
        "o_totalprice",
        F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")).alias(
            "w"
        ),
        ((F.col("o_totalprice") < F.col("lo")) | (F.col("o_totalprice") > F.col("hi")))
        .alias("clip"),
    )
    return clipped.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("w").cast("decimal(25,6)")).cast("double"), 2).alias(
            "winsorized_sum"
        ),
        F.count(F.when(F.col("clip"), 1)).alias("n_clipped"),
    )


@register(
    "scan_parquet_corrupt_skip",
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT r_regionkey) AS n_regions,
       CAST(SUM(r_regionkey) AS BIGINT) AS key_sum
FROM (SELECT * FROM region UNION ALL SELECT * FROM region) t
""",
)
def scan_parquet_corrupt_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-input resilience: a directory holding two good parquet
    part files and one garbage file (truncated bytes, .parquet
    extension) must still serve the two good files when read with
    ``ignoreCorruptFiles`` — the quarantine-and-continue semantics a
    100 TB ingest needs when one object in a million is torn.

    The option is passed per-read (never session conf, per the repo
    hygiene rule).  Oracle: the aggregate over region×2 — exactly the
    two good files' content, proving the corrupt file was skipped and
    nothing else was."""
    out = scratch_dir("corrupt-skip")
    r = table(spark, sf_dir, "region")
    r.coalesce(1).write.mode("overwrite").parquet(out)
    r.coalesce(1).write.mode("append").parquet(out)
    # plant a torn file: parquet magic so it's picked up, then garbage
    with open(f"{out}/part-junk.parquet", "wb") as fh:
        fh.write(b"PAR1" + b"\x00" * 64)
    back = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(out)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("r_regionkey").alias("n_regions"),
        F.sum("r_regionkey").cast("long").alias("key_sum"),
    )
