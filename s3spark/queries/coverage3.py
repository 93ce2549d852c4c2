"""Coverage completion: explicit cartesian join, text-file source with
regex log parsing, URL decomposition — the last gaps in the
join-type / source-format / scalar matrices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3spark.io import scratch_dir, table
from s3spark.registry import register


@register(
    "join_cross",
    oracle="""
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
ORDER BY r.r_name, n.n_name
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (crossJoin): every (region, nation)
    pair — the deliberate small×small expansion behind calendar grids
    and parameter sweeps.  Only sane when one side is tiny and
    broadcast (5×25 here); the engine's rule is that any unintended
    cartesian is a bug, so this is the single key allowed to produce
    one."""
    r = table(spark, sf_dir, "region").select("r_name")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(F.broadcast(n)).orderBy("r_name", "n_name")


@register(
    "scan_text_regex_parse",
    oracle="""
SELECT doc_id, lang, n_words
FROM (
  SELECT CAST(regexp_extract(line, '^doc=(\\d+) lang=(\\w+) text=(.*)$', 1) AS BIGINT) AS doc_id,
         regexp_extract(line, '^doc=(\\d+) lang=(\\w+) text=(.*)$', 2) AS lang,
         len(string_split(regexp_extract(line, '^doc=(\\d+) lang=(\\w+) text=(.*)$', 3), ' ')) AS n_words
  FROM (
    SELECT 'doc=' || doc_id || ' lang=' || lang || ' text=' || text AS line
    FROM documents WHERE doc_id < 200
  )
)
ORDER BY doc_id
""",
)
def scan_text_regex_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured text-file source: write log-style lines, read them
    back with ``spark.read.text`` (one string column per line, no
    schema), and structure them with regexp_extract — the classic
    log-ingestion path.  Parsing happens inside the scan stage
    (codegen'd regex, no Python); at 100 TB this is one pass with the
    same plan, text splits parallelize like any file source."""
    out = scratch_dir("text")
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    lines = d.select(
        F.concat(
            F.lit("doc="), F.col("doc_id"),
            F.lit(" lang="), F.col("lang"),
            F.lit(" text="), F.col("text"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(f"{out}/logs")
    raw = spark.read.text(f"{out}/logs")
    pat = r"^doc=(\d+) lang=(\w+) text=(.*)$"
    return (
        raw.select(
            F.regexp_extract("value", pat, 1).cast("long").alias("doc_id"),
            F.regexp_extract("value", pat, 2).alias("lang"),
            F.size(F.split(F.regexp_extract("value", pat, 3), " ")).alias(
                "n_words"
            ),
        )
    )


@register(
    "scalar_url_parse",
    oracle="""
SELECT doc_id,
       source || '.example.com' AS host,
       '/docs/' || doc_id AS path,
       'q=' || lang AS query
FROM documents
WHERE doc_id < 300
ORDER BY doc_id
""",
)
def scalar_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with ``parse_url`` (HOST/PATH/QUERY parts) —
    the canonicalization primitive web-corpus dedup keys on.  URLs are
    synthesized from fixture columns so the oracle can state the
    expected parts exactly; Spark's extraction must invert the
    construction bit-for-bit."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id"), F.lit("?q="), F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
    )
