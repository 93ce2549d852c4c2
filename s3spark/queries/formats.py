"""Dataset source/sink format coverage (SURVEY.md §2.3-A extension).

The reference moves opaque files of any format; the engine's dataset
layer must additionally *parse* the formats Spark ships connectors
for.  Each roundtrip key writes through the sink, reads back, and
checksums against an oracle computed on the ORIGINAL table — proving
schema + values survive the format.

Scale notes: CSV/JSON are row-oriented text — fine for ingest/egress
edges, wrong for analytics storage; the partitioned-parquet key shows
the layout that matters at 100 TB (directory partition pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3spark.io import scratch_dir, table
from s3spark.registry import register

_ROUNDTRIP_ORACLE = """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT c_custkey) AS n_keys,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_bal,
       MIN(c_name) AS first_name,
       MAX(c_mktsegment) AS last_segment
FROM customer
"""


def _checksum(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("c_custkey").alias("n_keys"),
        F.sum(F.col("c_acctbal").cast("decimal(25,6)"))
        .cast("double")
        .alias("total_bal"),
        F.min("c_name").alias("first_name"),
        F.max("c_mktsegment").alias("last_segment"),
    )


@register("sink_csv_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → CSV (header, explicit schema on read-back: CSV drops
    types) → checksum equals the oracle on the source table."""
    out = scratch_dir("fmt-csv")
    src = table(spark, sf_dir, "customer")
    src.write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.option("header", True)
        .schema(src.schema)  # CSV is untyped; reuse the source schema
        .csv(out)
    )
    return _checksum(back)


@register("sink_json_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → JSON lines → schema'd read-back → checksum."""
    out = scratch_dir("fmt-json")
    src = table(spark, sf_dir, "customer")
    src.write.mode("overwrite").json(out)
    back = spark.read.schema(src.schema).json(out)
    return _checksum(back)


@register("sink_orc_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → ORC → read-back → checksum (ORC ships in Spark; the
    other columnar format an S3 lake is likely to hold)."""
    out = scratch_dir("fmt-orc")
    src = table(spark, sf_dir, "customer")
    src.write.mode("overwrite").orc(out)
    return _checksum(spark.read.orc(out))


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(CASE WHEN o_orderstatus = 'P'
                          THEN o_totalprice + 1000
                          ELSE o_totalprice END AS DECIMAL(25,6))) AS DOUBLE)
         AS total
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-pipeline pattern: write the partitioned table once,
    then OVERWRITE ONLY the 'P' partition with corrected rows
    (partitionOverwriteMode=dynamic — untouched partitions keep their
    files, the daily-rewrite primitive for S3 lakes without a table
    format).  Checksum over the merged table proves exactly one
    partition changed."""
    out = scratch_dir("fmt-dpo")
    src = table(spark, sf_dir, "orders")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    corrected = src.filter(F.col("o_orderstatus") == "P").withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000
    )
    # per-write option (DataFrameWriter supports partitionOverwriteMode
    # since Spark 2.4) — scoped to this write, no session conf mutation
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    # explicit schema: an EMPTY source writes no partition directories
    # and schema inference on the bare path would fail (round-9
    # empty-input sweep); inference is also a needless extra listing
    back = spark.read.schema(src.schema).parquet(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sink_partitioned_pruning",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def sink_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write (partitionBy o_orderstatus) +
    partition-pruned read: the o_orderstatus='O' predicate prunes at
    the DIRECTORY level — non-matching partitions are never listed or
    opened.  This is the core 100 TB layout decision: partition on the
    hot filter column, bucket/sort within.  Checksum vs the unfiltered
    source table through the oracle's WHERE."""
    out = scratch_dir("fmt-part")
    src = table(spark, sf_dir, "orders")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # explicit schema: empty-source writes leave nothing to infer from
    # (round-9 empty-input sweep) and skip the inference listing
    back = (
        spark.read.schema(src.schema)
        .parquet(out)
        .filter(F.col("o_orderstatus") == "O")
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderpriority")
    )
