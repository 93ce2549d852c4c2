"""Round-13 core-scaling panel (round-12 verdict item 6): time the
top data-bound keys at a 10x scale step under BOTH core counts so the
per-key parallelism claims are measured, not plan-inferred.

The sf0.1 suite is per-key floor-bound (BENCH_r12_c8: 8-core total ~=
32-core total), so this panel runs each key against a 10x input:

- FACT keys run at the scale_stress 10x fact replica (~sf1, 6M
  lineitem rows; dims unchanged) — the same build scale_stress.py
  commits ratios for.
- DOC keys run at a 10x documents replica (doc_id offset per replica,
  text unchanged).  NOTE the dedup caveat: replicating text verbatim
  multiplies the DUPLICATE structure too — every document gains 9
  clones, so banded-minhash pair volume grows ~quadratically in the
  replication factor.  That is the realistic direction for a dedup
  pipeline (clones are what dedup exists for) but it means those
  ratios measure 10x data WITH 10x duplication, not 10x unique data.

Usage (one core count per process — Spark master is fixed at session
creation; the committed artifact merges two runs):

    SPARK_GRAFT_CPUS=32 python scripts/sf1_core_panel.py /tmp/panel_c32.json
    SPARK_GRAFT_CPUS=8  python scripts/sf1_core_panel.py /tmp/panel_c8.json

Protocol = scale_stress.time_keys verbatim (median of bench.REPS
bench.sample runs after one discarded warm-up, driver System.gc()
between keys).
"""
from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import s3spark.queries  # noqa: F401,E402
from s3spark.io import table  # noqa: E402
from s3spark.session import get_spark  # noqa: E402

import scale_stress  # noqa: E402  (reuses build + time_keys + DST)

DOCS10 = "/tmp/s3spark-docs10"

FACT_PANEL = [
    "agg_groupby",            # canary
    "join_multiway",
    "timeseries_theil_sen",
    "basket_association_lift",
    "agg_weighted_median",
    "stats_spearman_corr",
    "dq_table_checksum",
    "graph_pagerank_unrolled",
    "stats_permutation_test",
    "dq_referential_orphans",
]

DOC_PANEL = [
    "decontaminate_ngram_overlap",
    "dedup_fuzzy_minhash",
    "dedup_incremental_minhash",
    "dedup_minhash_survivors",
    "curation_pipeline_e2e",
    "text_ngram_novelty",
    "cooccurrence_pmi",
    "text_bigram_logprob",
    "dedup_simhash",
    "text_keyword_rake",
]


def build_docs10(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(f"{DOCS10}/_built"):
        return
    shutil.rmtree(DOCS10, ignore_errors=True)
    os.makedirs(DOCS10, exist_ok=True)
    src = scale_stress.SRC
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    ]:
        shutil.copy(f"{src}/{t}.parquet", f"{DOCS10}/{t}.parquet")
    docs = table(spark, src, "documents")
    reps = spark.range(scale_stress.REPLICAS).select(
        F.col("id").alias("rep")
    )
    OFF = 10_000_000
    # repartition(32) for the same 1-file-layout reason as the fact
    # replica (see scale_stress.build)
    (
        docs.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * OFF)
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{DOCS10}/documents.parquet")
    )
    open(f"{DOCS10}/_built", "w").write("ok")


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_core_panel.json"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "s3spark-sf1-core-panel",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "8g",  # the scale_stress GC posture
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    scale_stress.REGISTRY["agg_groupby"].fn(
        spark, scale_stress.SRC
    ).write.format("noop").mode("overwrite").save()
    scale_stress.build(spark)
    build_docs10(spark)
    fact = scale_stress.time_keys(spark, scale_stress.DST, FACT_PANEL)
    docs = scale_stress.time_keys(spark, DOCS10, DOC_PANEL)
    result = {
        "cpus": int(cpus),
        "fact_sf1_sec": fact,
        "docs10_sec": docs,
        "protocol": "median-of-3 after one discarded warm-up per key; "
        "inter-key System.gc(); fact panel at the scale_stress 10x "
        "fact replica, doc panel at a 10x documents replica "
        "(doc_id-offset clones — dup structure replicates too, see "
        "module docstring)",
    }
    print(json.dumps(result))
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
