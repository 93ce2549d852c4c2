"""Scale-survival operators: skew-salted joins, CDC compaction,
small-file compaction, permissive CSV ingest — the operational moves a
100 TB pipeline makes that never show up in textbook SQL.

Reference has no analogue (it streams opaque bytes, SURVEY.md §0);
all keys oracle-verified.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s3spark.io import dsum, scratch_dir, sql_dsum, table
from s3spark.registry import register


@register(
    "join_salted_skew",
    oracle=f"""
SELECT s.s_suppkey,
       COUNT(*) AS n_lines,
       {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
GROUP BY s.s_suppkey
ORDER BY s.s_suppkey
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted fact-dim join: the fact side's join key gains a
    deterministic salt (crc32 of the row's unique key, mod 8) and the
    dim side is exploded across all 8 salt values, so one hot supplier
    key spreads over 8 tasks instead of melting one.

    Result provably identical to the plain join (each fact row meets
    exactly one dim replica).  AQE's skew-join split covers sort-merge
    cases automatically; explicit salting is the tool when the skewed
    side feeds a non-splittable build side or an aggregation above the
    join — and it composes with the two-phase salted agg
    (analytics.agg_salted_skew)."""
    li = table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.crc32(F.col("l_orderkey").cast("string")) % 8
    )
    s = (
        table(spark, sf_dir, "supplier")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(7))))
        .withColumn("salt", F.col("salt").cast("long"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(s, (li.l_suppkey == s.s_suppkey) & (li.salt == s.salt))
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum(rev).alias("revenue"))
        .orderBy("s_suppkey")
    )


@register(
    "dedup_keep_latest",
    oracle="""
SELECT user_id, event_id, ts, event_type
FROM (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
""",
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: keep only the newest record per key (latest
    event per user), the upsert-log → snapshot collapse every
    lake-table maintenance job runs.

    row_number over (key ORDER BY ts DESC, id DESC) then rn=1 — one
    shuffle, and Spark pushes the rn=1 predicate into the window sort
    as a per-partition top-1 (WindowGroupLimit), so no full per-key
    sort materializes at scale.  Tie-break on event_id makes
    same-timestamp upserts deterministic."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.select("user_id", "event_id", "ts", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "compact_small_files",
    oracle="""
SELECT COUNT(*) AS n_rows, 4 AS n_files_after
FROM lineitem WHERE l_quantity > 45
""",
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented write (32 shuffle-partition
    files) is read back and rewritten at a target file count — the
    maintenance pass that keeps listing/open overhead sane after
    thousands of incremental micro-batch appends.

    At 100 TB the repartition count comes from bytes/target-file-size;
    here the fixed 4 proves the mechanism.  Returns (row count,
    resulting file count) so the oracle checks both data preservation
    and the physical layout."""
    out = scratch_dir("compact")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    # fragmented state: force a 32-way shuffle then write one file each
    li.repartition(32).write.mode("overwrite").parquet(f"{out}/fragmented")
    frag = spark.read.parquet(f"{out}/fragmented")
    frag.repartition(4).write.mode("overwrite").parquet(f"{out}/compacted")
    n_files = len(list(Path(f"{out}/compacted").glob("part-*")))
    compacted = spark.read.parquet(f"{out}/compacted")
    return compacted.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(n_files).alias("n_files_after"),
    )


@register(
    "scan_csv_permissive",
    oracle=f"""
SELECT
  COUNT(*) FILTER (event_id % 7 <> 0) AS n_good,
  COUNT(*) FILTER (event_id % 7 = 0) AS n_corrupt,
  {sql_dsum('CASE WHEN event_id % 7 <> 0 THEN value END')} AS good_value_sum
FROM events
WHERE event_id < 3000
""",
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive CSV ingest: a file where every 7th id field is
    non-numeric loads without failing the job; bad rows surface in a
    corrupt-record column for quarantine, good rows parse normally —
    PERMISSIVE mode's contract, the only viable one at 100 TB where a
    single bad row must never kill a 6-hour load."""
    out = scratch_dir("csv-permissive")
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    dirty = e.select(
        F.when(
            F.col("event_id") % 7 == 0,
            F.concat(F.lit("x"), F.col("event_id").cast("string")),
        )
        .otherwise(F.col("event_id").cast("string"))
        .alias("event_id"),
        F.col("value"),
    )
    dirty.write.mode("overwrite").option("header", "true").csv(f"{out}/dirty")
    parsed = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .schema("event_id LONG, value DOUBLE, _bad STRING")
        .csv(f"{out}/dirty")
    )
    # count event_id itself (not just _bad): CSV column pruning means a
    # field is only parsed when referenced, and an unparsed field can't
    # flag corruption
    return parsed.agg(
        F.count(F.col("event_id")).alias("n_good"),
        F.count(F.col("_bad")).alias("n_corrupt"),
        dsum(F.when(F.col("_bad").isNull(), F.col("value"))).alias(
            "good_value_sum"
        ),
    )
