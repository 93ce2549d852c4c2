"""Planner-mechanism coverage: multi-distinct aggregation (Expand)
and dynamic partition pruning (DPP) — two rewrites that decide
whether the 100 TB plan reads/shuffles 10× more than it must.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3spark.io import scratch_dir, table
from s3spark.registry import register


@register(
    "agg_multi_distinct",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_custs,
       COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT ...) over DIFFERENT columns in one
    aggregate: Spark plans this with an Expand operator (one row
    replica per distinct-set) + two-level aggregation, keeping a
    single shuffle pass where a naive engine runs one job per
    distinct column.  The mechanism that makes multi-metric distinct
    dashboards one scan instead of N."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.countDistinct(F.col("o_orderdate").cast("date")).alias("n_days"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "join_partition_pruning_dynamic",
    oracle="""
SELECT e.event_type, COUNT(*) AS n, CAST(SUM(CAST(e.value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
FROM events e
WHERE (CAST(e.ts AS DATE) = DATE '2024-01-03'
    OR CAST(e.ts AS DATE) = DATE '2024-01-10')
  AND e.event_type IN ('click', 'purchase')
GROUP BY e.event_type
ORDER BY e.event_type
""",
)
def join_partition_pruning_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    partitioned by day; the day filter arrives only through a JOIN to
    a small dim, yet Spark injects the dim's build-side values as a
    runtime partition filter (`dynamicpruningexpression` in the plan),
    so only 2 of ~30 day-directories are read.

    THE mechanism for star-schema scans at 100 TB — without DPP this
    query reads the full fact table; tests/test_plans.py asserts the
    pruning subquery is present."""
    out = scratch_dir("dpp")
    e = table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    e.write.mode("overwrite").partitionBy("day").parquet(f"{out}/events_by_day")
    # explicit schema: an empty source writes no day-directories to
    # infer from (round-9 empty-input sweep)
    fact = spark.read.schema(e.schema).parquet(f"{out}/events_by_day")
    # date dim stored like a real calendar table; the `keep = 1` filter
    # is the selective predicate the DPP rule requires on the build
    # side (a bare boolean column does NOT count as likely-selective —
    # an equality comparison does)
    dim_src = (
        e.select(F.col("day").alias("dim_day"))
        .distinct()
        .withColumn(
            "keep",
            F.when(
                F.col("dim_day").isin("2024-01-03", "2024-01-10"), 1
            ).otherwise(0),
        )
    )
    dim_src.write.mode("overwrite").parquet(f"{out}/date_dim")
    dim = (
        spark.read.schema(dim_src.schema)
        .parquet(f"{out}/date_dim")
        .filter(F.col("keep") == 1)
    )
    return (
        fact.join(dim, fact.day == dim.dim_day)
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .orderBy("event_type")
    )
