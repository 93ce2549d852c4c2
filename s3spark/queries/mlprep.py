"""ML-prep operators: per-class embedding centroids, equal-frequency
feature binning, and file-provenance metadata — the feature-
engineering staples between raw corpus and training set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s3spark.io import table
from s3spark.registry import register


@register(
    "embedding_centroids",
    oracle="""
WITH flat AS (
  SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
dims AS (
  SELECT label, i, round(AVG(v), 6) AS c
  FROM flat GROUP BY label, i
)
SELECT dims.label, CAST(i AS BIGINT) AS i, c,
       (SELECT COUNT(*) FROM embeddings e2 WHERE e2.label = dims.label)
         AS n_members
FROM dims
ORDER BY label, i
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (one k-means M-step): explode
    vectors to (label, dim, value), average per (label, dim).

    Output is MELTED — one (label, i, c, n_members) row per centroid
    dimension, not an array column: the binding harness canonicalizes
    results via pandas sort-then-hash, and list-valued cells are
    unhashable there (round-4 driver err).  Melted rows carry the
    identical information and every cell is a hashable scalar.

    The explode keeps averaging inside codegen'd built-ins — no
    Python touches the 64-dim math — and the shuffle key (label, dim)
    spreads one class's vectors over dims×partitions instead of
    concentrating per label, exactly the salting effect wide vectors
    need at 100 TB.  Averages round to 6 dp on both engines so cell
    values are bit-identical before hashing."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("i0", "v")
    ).select("label", (F.col("i0") + 1).alias("i"), F.col("v").cast("double"))
    dims = flat.groupBy("label", "i").agg(F.round(F.avg("v"), 6).alias("c"))
    members = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        dims.join(members, "label")
        .select("label", F.col("i").cast("long").alias("i"), "c", "n_members")
        .orderBy("label", "i")
    )


@register(
    "feature_quantile_bin",
    oracle="""
WITH binned AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT bin,
       COUNT(*) AS n,
       round(MIN(o_totalprice), 6) AS lo,
       round(MAX(o_totalprice), 6) AS hi
FROM binned
GROUP BY bin
ORDER BY bin
""",
)
def feature_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning (decile bucketing) of a numeric
    feature: ntile over the global order, then per-bin population and
    boundaries — the discretization step before histogram features or
    monotonic-model inputs.  Tie-broken on the unique key so bin
    membership is deterministic.  The global sort is the honest cost
    of exact ntile; the approx_percentile key is the sketch
    alternative at scale."""
    o = table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    binned = o.select("o_totalprice", F.ntile(10).over(w).alias("bin"))
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 6).alias("lo"),
            F.round(F.max("o_totalprice"), 6).alias("hi"),
        )
        .orderBy("bin")
    )


@register(
    "scan_file_metadata",
    oracle="""
SELECT COUNT(*) AS n_rows, 1 AS n_files
FROM lineitem
""",
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-provenance scan: the hidden ``_metadata`` struct
    (file_path, file_name, file_size, row_index…) every file-based
    scan exposes — the lineage column data-quality pipelines attach to
    every ingested row to trace bad records back to their source
    object.  Zero extra I/O: metadata is constant per split.  The
    fixture stores one file per table, which the distinct-count
    proves."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.col("_metadata.file_name")).cast("int").alias(
            "n_files"
        ),
    )


_KM_K = 8
# reduced distance: ||v-c||² - ||v||² = c·c - 2·v·c — the per-row v·v
# term is constant under the argmin, so BOTH engines rank by the same
# reduced expression (identical floats → identical assignments)
_KM_DIST = (
    "(list_dot_product({c}, {c}) - 2 * list_dot_product({v}, {c}))"
)

_KM_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < {_KM_K}),
a1 AS (
  SELECT vec_id, v, cid FROM (
    SELECT t.vec_id, t.v, c.cid,
           row_number() OVER (
             PARTITION BY t.vec_id
             ORDER BY {_KM_DIST.format(v='t.v', c='c.cv')}, c.cid) AS rk
    FROM v t CROSS JOIN c0 c) s
  WHERE rk = 1
),
c1 AS (
  SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT cid, i AS dim, AVG(v[i]) AS m
    FROM a1, UNNEST(range(1, len(v) + 1)) AS u(i)
    GROUP BY cid, i) d
  GROUP BY cid
),
a2 AS (
  SELECT vec_id, v, cid FROM (
    SELECT t.vec_id, t.v, c.cid,
           row_number() OVER (
             PARTITION BY t.vec_id
             ORDER BY {_KM_DIST.format(v='t.v', c='c.cv')}, c.cid) AS rk
    FROM a1 t CROSS JOIN c1 c) s
  WHERE rk = 1
)
SELECT cid, COUNT(*) AS n_vecs,
       round(sqrt((SELECT list_dot_product(cv, cv) FROM c1 WHERE c1.cid = a2.cid)), 6)
         AS centroid_norm
FROM a2
GROUP BY cid
ORDER BY cid
"""


@register("ml_kmeans_lloyd", oracle=_KM_SQL)
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd) with K=8 and TWO unrolled iterations, expressed
    as pure dataflow with a full value oracle: deterministic init (the
    first K vectors), assign → recompute → assign, report cluster
    sizes + centroid norms.

    Iterative ML on Spark without ml-lib randomness or driver loops:
    each assignment is the map-side argmin-over-broadcast-centroid-
    array pattern (sim_ann_ivf's), each centroid update is one
    (cid, dim)-keyed average (embedding_centroids' shape) — per
    iteration: one broadcast + one shuffle, so I iterations cost I
    scans' worth of shuffle, never a driver round-trip.  Distances
    fold left-to-right in both engines (see _fold note), so the
    first assignment agrees exactly.  The SECOND assignment ranks
    against AVERAGED centroids, and neither Spark's avg partials nor
    DuckDB's AVG fix their accumulation order — the recomputed
    centroids can differ between engines (and re-partitionings) by
    ~1e-13 relative.  An argmin could flip only for a vector nearly
    equidistant to two centroids;
    tests/test_llm.py::test_kmeans_assignment_margin asserts the
    best-vs-second-best distance gap across the fixture corpus is
    > 1e-6, so assignments agree despite the reorder noise (same
    guard pattern as the sign-LSH dot margin)."""
    e = table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def assign(pts: DataFrame, cents: DataFrame) -> DataFrame:
        """argmin_{cid} ||v - c||² via a single-row broadcast centroid
        array + in-row array_min over (reduced-dist, cid) structs.
        c·c rides pre-computed in the broadcast struct, so each row
        pays exactly K dot products."""
        carr = cents.withColumn("cc", dot(F.col("cv"), F.col("cv"))).agg(
            F.collect_list(F.struct("cid", "cv", "cc")).alias("cents")
        )
        scored = pts.crossJoin(F.broadcast(carr)).withColumn(
            "best",
            F.array_min(
                F.transform(
                    "cents",
                    lambda c: F.struct(
                        (c["cc"] - 2 * dot(F.col("v"), c["cv"])).alias(
                            "dist"
                        ),
                        c["cid"].alias("cid"),
                    ),
                )
            ),
        )
        return scored.select(
            "vec_id", "v", F.col("best")["cid"].alias("cid")
        )

    def recompute(assigned: DataFrame) -> DataFrame:
        flat = assigned.select(
            "cid", F.posexplode("v").alias("dim", "x")
        )
        dims = flat.groupBy("cid", "dim").agg(F.avg("x").alias("m"))
        return (
            dims.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "m"))
                    ),
                    lambda s: s["m"],
                ).alias("cv")
            )
        )

    c0 = vecs.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    a1 = assign(vecs, c0)
    c1 = recompute(a1)
    a2 = assign(a1.select("vec_id", "v"), c1)
    norms = c1.select(
        "cid", F.round(F.sqrt(dot(F.col("cv"), F.col("cv"))), 6).alias(
            "centroid_norm"
        )
    )
    return (
        a2.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(F.broadcast(norms), "cid")
        .select("cid", "n_vecs", "centroid_norm")
        .orderBy("cid")
    )
