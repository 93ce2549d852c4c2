"""Streaming joins and co-grouped UDx surface: stream-static
enrichment, watermarked stream-stream interval join, cogrouped
applyInPandas, and spark.sql parser parity.

Each streaming key executes a real Structured Streaming job
(availableNow → memory sink) and still oracle-matches batch SQL —
the lambda-architecture equivalence proof, per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3spark.io import table
from s3spark.registry import register


@register(
    "stream_static_join",
    oracle="""
WITH dim AS (
  SELECT user_id,
         CASE WHEN COUNT(*) FILTER (event_type = 'purchase') >= 3 THEN 'heavy'
              WHEN COUNT(*) FILTER (event_type = 'purchase') >= 1 THEN 'light'
              ELSE 'window_shopper' END AS buyer_tier
  FROM events GROUP BY user_id
)
SELECT e.event_type, d.buyer_tier, COUNT(*) AS n
FROM events e JOIN dim d ON d.user_id = e.user_id
GROUP BY e.event_type, d.buyer_tier
ORDER BY e.event_type, d.buyer_tier
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the canonical streaming enrichment — events
    stream joined to a batch-computed dimension (buyer tier per user),
    then aggregated.

    The static side is planned once and broadcast into every
    micro-batch; no state, no watermark needed for the join itself.
    At 100 TB the dim refresh cadence is a foreachBatch re-read —
    the join plan is unchanged."""
    from s3spark.streaming import events_stream, run_available_now

    dim = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_buy")
        )
        .select(
            "user_id",
            F.when(F.col("n_buy") >= 3, "heavy")
            .when(F.col("n_buy") >= 1, "light")
            .otherwise("window_shopper")
            .alias("buyer_tier"),
        )
    )
    enriched = events_stream(spark, sf_dir).join(dim, "user_id")
    counts = enriched.groupBy("event_type", "buyer_tier").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = run_available_now(counts, output_mode="complete")
    return out.orderBy("event_type", "buyer_tier")


@register(
    "stream_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
ORDER BY purchase_id, click_id
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: every purchase paired
    with that user's clicks in the preceding hour — attribution at
    stream time.

    Both sides carry a 1-hour watermark and the join condition bounds
    event-time distance, so Spark can size the join state and evict
    rows older than (watermark + interval): bounded state at 100 TB,
    the difference between a streaming join that runs forever and one
    that OOMs on day two."""
    from s3spark.streaming import events_stream, run_available_now

    ev = events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND "
            "c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
        ),
    ).select("purchase_id", "click_id")
    return run_available_now(joined).orderBy("purchase_id", "click_id")


@register(
    "udaf_cogrouped_pandas",
    oracle="""
SELECT c.c_custkey,
       round(c.c_acctbal, 6) AS acctbal,
       COUNT(o.o_orderkey) AS n_orders,
       COALESCE(SUM(o.o_totalprice), 0) AS total_spend
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
WHERE c.c_custkey < 300
GROUP BY c.c_custkey, c.c_acctbal
ORDER BY c.c_custkey
""",
)
def udaf_cogrouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped applyInPandas: customer and orders groups for the
    same key arrive as two aligned pandas frames — the escape hatch
    for per-key logic that needs BOTH sides materialized (custom
    reconciliation, per-entity model scoring).

    Both sides shuffle once on the key; each key's pair of frames
    flows through Arrow to one Python worker call.  Sums stay exact:
    order totals carry 2 decimals, and per-key magnitudes keep the
    float error far below the 6-dp hash rounding.  Bounded to a fixed
    key range: per-group Python dispatch costs ~5 ms/key, so the key
    demonstrates the API at constant cost across scale factors — an
    unbounded cogroup over every customer belongs on built-in aggs."""
    import pandas as pd

    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 300)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 300)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )

    def reconcile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                columns=["c_custkey", "acctbal", "n_orders", "total_spend"]
            )
        return pd.DataFrame(
            {
                "c_custkey": [int(left.c_custkey.iloc[0])],
                "acctbal": [round(float(left.c_acctbal.iloc[0]), 6)],
                "n_orders": [int(len(right))],
                "total_spend": [float(right.o_totalprice.sum()) if len(right) else 0.0],
            }
        )

    out = (
        c.groupby("c_custkey")
        .cogroup(o.groupby("o_custkey"))
        .applyInPandas(
            reconcile,
            schema="c_custkey long, acctbal double, n_orders long, total_spend double",
        )
    )
    return out.orderBy("c_custkey")


@register(
    "sql_api_parity",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
    AS sum_disc_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def sql_api_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship Q1 shape submitted as a SQL STRING through
    ``spark.sql`` over temp views — proving the engine's second public
    surface (ANSI SQL via Spark's parser) resolves to the same plan
    and the same answer as the DataFrame API.  A user of the reference
    who knows only SQL needs nothing else."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT
          l_returnflag,
          l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
            AS sum_disc_price,
          COUNT(*) AS count_order
        FROM lineitem_v
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )


@register(
    "stream_outer_join_watermark",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id
FROM (SELECT * FROM events WHERE user_id < 100) p
LEFT JOIN (SELECT * FROM events WHERE user_id < 100) c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
WHERE p.event_type = 'purchase'
ORDER BY purchase_id, click_id
""",
)
def stream_outer_join_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join: purchases paired
    with same-user clicks in the preceding hour, and purchases with
    NO such click emitted with a NULL click — the streaming semantics
    that only exist once the watermark PROVES no match can still
    arrive.

    Mechanics (the part worth verifying): Spark holds an unmatched
    purchase in join state until the click-side watermark passes its
    match window, then emits the null row.  Under availableNow the
    final data batch leaves the last hour of purchases unprovable, so
    the key streams from a scratch copy of the fixture and runs
    TWICE against one checkpoint (the multi-batch protocol from
    test_watermark_drops_late_data): run 1 processes the corpus; a
    far-future sentinel purchase+click PAIR is then appended and
    run 2 advances the watermark past every purchase (followed by
    the no-data flush batch within the same run), emitting the
    remaining null rows.  The accumulated file-sink output == the
    batch LEFT JOIN, giving outer-join state eviction a full value
    oracle.

    Scale shape: state is bounded by (watermark + 1 h interval) per
    the join condition — the difference between a left-outer stream
    join that runs at 100 TB/day and one whose state grows without
    bound.  The scratch copy is a metadata-size fixture operation,
    not part of the measured operator."""
    import os
    import shutil

    from s3spark.io import scratch_dir
    from s3spark.streaming import events_stream

    stream_dir = scratch_dir("sojoin", fresh=True) + "/in"
    os.makedirs(stream_dir, exist_ok=True)
    shutil.copy(
        f"{sf_dir}/events.parquet", f"{stream_dir}/events.parquet"
    )
    ckpt = scratch_dir("sojoin_ckpt", fresh=True)
    out_dir = scratch_dir("sojoin_out", fresh=True)

    def joined_stream() -> DataFrame:
        # user_id < 100 bounds the verified slice (the ohlc-bars
        # precedent: three real streaming runs over the full table
        # were the single most expensive bench key; the eviction
        # mechanics are identical on the slice).  The -1 sentinel
        # passes the filter by construction — it MUST keep flowing
        # to both watermark nodes.
        ev = events_stream(spark, stream_dir).filter(
            F.col("user_id") < 100
        )
        purchases = (
            ev.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        clicks = (
            ev.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        return purchases.join(
            clicks,
            F.expr(
                "p_user = c_user AND "
                "c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
            ),
            "left_outer",
        ).select("purchase_id", "click_id")

    def run() -> None:
        # parquet file sink — unlike the memory sink it supports
        # checkpoint recovery, so watermark + offsets resume in run 2
        q = (
            joined_stream()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()

    # sentinel: one far-future non-click event pushes the watermark
    # past every purchase's match window (raw long-nanos ts schema,
    # matching the fixture file so the file-source schema stays one)
    max_ts = (
        table(spark, sf_dir, "events")
        .agg(F.max("ts").alias("m"))
        .collect()[0]["m"]
    )
    def append_sentinel(tag: str, days: int) -> None:
        # one far-future purchase AND click (the global watermark is
        # the MIN over both sides' watermark nodes, and each node only
        # sees rows that survive its event_type filter — a row of a
        # third type would advance neither).  user_id -1 and the 2-day
        # ts gap keep the pair from matching anything; the final
        # result filters the sentinel purchase back out by id.  ts is
        # written as TIMESTAMP_NTZ to match how the file source reads
        # the fixture's TIMESTAMP(NANOS) column.
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        # pyarrow direct write (round-12): the sentinel is a 2-row
        # LOCAL file and a Spark write job cost ~0.8 s of scheduler +
        # job overhead even after the round-9 repartition(1) fix; the
        # arrow writer produces a byte-compatible file (same
        # timestamp_ntz/MICROS physical schema — Spark batch reader
        # returns an IDENTICAL StructType and identical rows,
        # round-12 probe) in ~1 ms with no JVM round-trip.
        sentinel_ts = max_ts + datetime.timedelta(days=days)
        tbl = pa.table(
            {
                "event_id": pa.array(
                    [10**12 + days, 10**12 + days + 100], pa.int64()
                ),
                "ts": pa.array(
                    [
                        sentinel_ts,
                        sentinel_ts - datetime.timedelta(days=2),
                    ],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array(
                    ["purchase", "click"], pa.string()
                ),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            }
        )
        pq.write_table(
            tbl, f"{stream_dir}/events_sentinel_{tag}.parquet"
        )

    append_sentinel("a", 30)
    run()
    spark.catalog.refreshByPath(out_dir)
    return (
        spark.read.parquet(out_dir)
        .filter(F.col("purchase_id") < 10**12)  # drop sentinel rows
        .orderBy("purchase_id", "click_id")
    )
