"""Scan / sink operators (SURVEY.md §2.3-A).

The reference's scan is an S3 listing + per-object byte copy; the
engine's scan is a parquet columnar read where Catalyst prunes columns
and pushes predicates into the scan (ReadSchema / PushedFilters in the
physical plan — asserted in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3spark.io import scratch_dir, table
from s3spark.registry import register


@register("scan_parquet", oracle="SELECT * FROM nation")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table parquet scan, all columns (bounded table so the
    verified payload stays small; lineitem-width scans are exercised by
    every aggregate query)."""
    return table(spark, sf_dir, "nation")


@register(
    "scan_projection_pushdown",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem WHERE l_linenumber = 1",
)
def scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned + predicate-pushed scan: ReadSchema carries only 3
    of 11 lineitem columns and the l_linenumber filter reaches the
    parquet reader — at 100 TB this is the difference between reading
    3 column chunks and reading the table."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") == 1)
        .select("l_orderkey", "l_quantity")
    )


@register(
    "sink_parquet_roundtrip",
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT o_orderkey) AS n_keys,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
FROM orders
WHERE o_orderstatus = 'F'
""",
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → read-back → verify: filtered orders go out through the
    parquet sink (snappy, the same write path that targets s3a:// via
    the S3A committer in production) and are read back; the checksum
    aggregate must equal the oracle computed on the ORIGINAL table —
    proving the sink preserves rows and values exactly."""
    out = scratch_dir("sink")
    src = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    src.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("total"),
    )
