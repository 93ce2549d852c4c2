"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The printed line is kept compact (headline keys only, 2 dp) because a
driver that records stdout truncated the full per-key payload; the
complete record is written to BENCH_DETAIL.json next to this script.

Every key is timed the same way, by :func:`sample`, which the other
harnesses (``scale_stress.py``, ``scripts/opt_ab.py``,
``scripts/sf1_core_panel.py``) call too.  A sample times the key's
build, ``fn(spark, sf_dir)`` with any eager ``localCheckpoint`` or
``collect`` jobs it starts, and then its sink, a ``noop`` write that
runs the whole plan without bringing rows to the driver.  The two
parts share one clock, so ``build_s + sink_s`` is the sample's wall
time, and the Spark jobs each part started are read from the status
store.  A key records the sample with the median wall time of ``REPS``
("queries"), the fastest and slowest of them ("spread") and that
sample's layers ("layers": build_s, sink_s, the wall time of each
build job, and the count of sink jobs).

Settings read from the environment: ``SPARK_GRAFT_SF_DIR``,
``SPARK_GRAFT_CPUS`` (via s3spark.session) and ``SPARK_GRAFT_SHUFFLE``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import s3spark.queries  # noqa: E402,F401
from s3spark.registry import REGISTRY  # noqa: E402
from s3spark.session import get_spark  # noqa: E402
from perfbench.trace import SparkStatus  # noqa: E402

# Keys surfaced in the one-line JSON payload (the full map goes to
# BENCH_DETAIL.json). One representative per operator family from
# SURVEY.md §2.3 so the driver-recorded line stays parseable (<2 KB).
HEADLINE_KEYS = (
    "scan_parquet",
    "scan_projection_pushdown",
    "filter_comparison",
    "project_arith",
    "join_inner_equi",
    "join_multiway",
    "join_broadcast",
    "join_asof",
    "agg_groupby",
    "agg_rollup",
    "agg_count_distinct",
    "window_ranking",
    "window_running",
    "sort_multi",
    "limit_topk",
    "topk_per_group",
    "set_union_all",
    "scalar_string",
    "udf_pandas",
    "dedup_exact",
    "dedup_fuzzy_minhash",
    "dedup_clusters",
    "sim_cosine_topk",
    "sim_ann_lsh",
    "text_stats",
    "stream_tumbling",
    "stream_watermark_dedup",
    "join_interval_overlap",
    "curation_pipeline_e2e",
    "retention_cohorts",
    "decontaminate_ngram_overlap",
    "doc_chunk_overlap",
)

REPS = 3
DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
)


def sample(spark, status: SparkStatus, fn, sf_dir: str) -> dict:
    """Run ``fn(spark, sf_dir)`` into the noop sink once and return its
    wall time split into build and sink, with the jobs of each part.

    ``status`` is the session's :class:`SparkStatus`; jobs started
    before the call, by untimed code between samples, are skipped."""
    # Jump past the jobs the status store holds first: it keeps only the
    # newest spark.ui.retainedJobs, and a pointer at a job it has dropped
    # would never advance.
    held = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    status.next_job = max([status.next_job, *(j + 1 for j in held)])
    status.skip_to_latest()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    build_s = time.perf_counter() - t0
    build_jobs = status.new_jobs()
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    sink_s = time.perf_counter() - t0
    return {
        "wall_s": build_s + sink_s,
        "build_s": build_s,
        "sink_s": sink_s,
        "build_job_s": [
            round(j["end"] - j["start"], 3)
            for j in build_jobs
            if j["start"] is not None and j["end"] is not None
        ],
        "sink_jobs": len(status.new_jobs()),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(
        "s3spark-bench",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")),
        extra_conf={"spark.ui.showConsoleProgress": "false", "spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    status = SparkStatus(spark)

    # Warm the JVM + parquet footers once so per-query times measure the
    # query, not first-touch JIT/IO.
    try:
        sample(spark, status, REGISTRY["agg_groupby"].fn, sf_dir)
    except Exception as e:
        print(f"bench: warmup failed: {e}", file=sys.stderr)

    times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    layers: dict[str, dict] = {}
    for name in sorted(REGISTRY):
        try:
            samples = sorted(
                (sample(spark, status, REGISTRY[name].fn, sf_dir) for _ in range(REPS)),
                key=lambda s: s["wall_s"],
            )
        except Exception as e:  # pragma: no cover - bench robustness
            print(f"bench: {name} failed: {e}", file=sys.stderr)
            times[name] = -1.0
            continue
        rec = samples[REPS // 2]
        times[name] = round(rec["wall_s"], 4)
        spread[name] = [round(samples[0]["wall_s"], 4), round(samples[-1]["wall_s"], 4)]
        layers[name] = {
            "build_s": round(rec["build_s"], 4),
            "sink_s": round(rec["sink_s"], 4),
            "build_job_s": rec["build_job_s"],
            "sink_jobs": rec["sink_jobs"],
        }
        # NO inter-key System.gc() here, unlike scale_stress.py: the
        # bench JVM runs on the default (small) driver heap, so natural
        # collections keep the local-mode ContextCleaner current, and a
        # forced full GC between keys measurably SLOWED the timed
        # samples (+17% total, flagship +0.8 s — class/codegen unloading
        # lands in the next key's samples; A/B measured round 8).  The
        # GC-stall pathology only appears under a large heap, which the
        # scale-stress harness uses (and where the inter-key GC plus an
        # 8g cap is the measured fix).
    total = round(sum(t for t in times.values() if t > 0), 4)
    failures = sorted(k for k, t in times.items() if t < 0)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    with open(DETAIL_PATH, "w") as fh:
        json.dump(
            {
                "metric": "total_query_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": times,
                "spread": spread,
                "layers": layers,
                "reps": REPS,
                "failures": failures,
                "sf": sf_val,
            },
            fh,
            indent=1,
        )
    print(
        json.dumps(
            {
                "metric": "total_query_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": {k: round(times[k], 2) for k in HEADLINE_KEYS if k in times},
                "n_queries": len(times),
                "n_failed": len(failures),
                "reps": REPS,
                "queries_file": "BENCH_DETAIL.json",
                "sf": sf_val,
            }
        )
    )


if __name__ == "__main__":
    main()
