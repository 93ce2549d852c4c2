"""Composite analytic queries (TPC-H-shaped) + decorrelated-subquery
and skew-resistant shapes — the multi-operator pipelines that exercise
operator *composition*, which is where planners break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3spark.io import dsum, sql_dsum, table
from s3spark.registry import register


@register(
    "q3_shipping_priority",
    oracle=f"""
SELECT
  l.l_orderkey,
  {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
  o.o_orderdate,
  COUNT(*) AS n_lines
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two joins → agg → top-10.

    Catalyst pushes both date predicates into the scans, broadcasts
    the filtered customer side, and the final ORDER BY+LIMIT becomes
    TakeOrderedAndProject — the canonical analytics pipeline at any
    scale. l_orderkey added as tie-break for determinism."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
        .select("l_orderkey", "revenue", "o_orderdate", "n_lines")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT
  n.n_name,
  {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with the customer-nation ==
    supplier-nation equality folded into the join graph, region/date
    filters pushed down, revenue per nation.  The compound join
    condition (l_suppkey AND nationkey match) is the interesting part:
    Catalyst keeps it a single hash join on both keys."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(rev).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
SELECT
  c.c_custkey,
  c.c_name,
  {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
  n.n_name
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    selective fact filter, dim joins, grouped agg, top-k."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(rev).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q18_large_orders",
    oracle=f"""
SELECT
  o.o_orderkey,
  o.o_custkey,
  o.o_totalprice,
  {sql_dsum('l.l_quantity')} AS total_qty
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 120
)
GROUP BY o.o_orderkey, o.o_custkey, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 50
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery with HAVING (orders whose total
    quantity exceeds a threshold).

    Optimization over the literal SQL shape: the HAVING aggregate IS
    the output total_qty, so lineitem is aggregated once and joined
    once — the naive semi-join-then-reaggregate form costs a second
    full shuffle of lineitem and measured 12× (vs ~5× for this form)
    under a 10× data scale-up (scale_stress.py)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("qdec"))
        .filter(F.col("qdec") > 120)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("qdec").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


@register(
    "subquery_above_avg",
    oracle=f"""
SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
FROM orders o
JOIN (
  SELECT o_custkey, {sql_dsum('o_totalprice')} / COUNT(*) AS cust_avg
  FROM orders GROUP BY o_custkey
) a ON o.o_custkey = a.o_custkey
WHERE o.o_totalprice > 1.5 * a.cust_avg
ORDER BY o.o_custkey, o.o_orderkey
""",
)
def subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (orders 50% above the customer's own
    average), written pre-decorrelated as agg+self-join — exactly the
    plan Catalyst would rewrite the correlated form into.  One shuffle
    on o_custkey serves both the aggregate and the join."""
    o = table(spark, sf_dir, "orders")
    avg = o.groupBy(F.col("o_custkey").alias("k")).agg(
        (dsum("o_totalprice") / F.count(F.lit(1))).alias("cust_avg")
    )
    return (
        o.join(avg, o.o_custkey == avg.k)
        .filter(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "subquery_scalar_global",
    oracle=f"""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT {sql_dsum('o_totalprice')} / COUNT(*) * 1.7
                      FROM orders)
ORDER BY o_orderkey
""",
)
def subquery_scalar_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery shape via spark.sql (uncorrelated scalar
    subqueries are supported natively; the single-row result is
    broadcast into the filter)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("s3spark_orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM s3spark_orders_sq
        WHERE o_totalprice > (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
                 / COUNT(*) * 1.7
          FROM s3spark_orders_sq)
        """
    )


@register(
    "agg_salted_skew",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: group on (key, salt) first, then
    on key — the manual defense when one key dominates (here
    l_returnflag 'N' is ~half the table).  Result identical to the
    direct groupBy; the first shuffle spreads each hot key over 16
    salt buckets so no single task owns a whole key.  (With AQE
    skew handling on, Spark often does this for joins automatically;
    salting remains the tool for skewed aggregations with
    non-decomposable state.)"""
    li = table(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", (F.crc32(F.col("l_orderkey").cast("string")) % 16))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count(F.lit(1)).alias("n_part"),
        F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("qty_part"),
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("n_part").alias("n"),
            F.sum("qty_part").cast("double").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )
