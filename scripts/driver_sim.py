"""Driver-sim: run registry keys through the driver-faithful
comparator (tests.helpers — raw-frame pandas sort_values, so
list-valued output cells fail here EXACTLY as they fail the driver's
canonicalizer; see CORRECTNESS_r04 embedding_centroids err).

Usage:
    python scripts/driver_sim.py --all         # whole registry
    python scripts/driver_sim.py key1 key2 ... # named keys
"""
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

import s3spark.queries  # noqa: F401
from s3spark.registry import REGISTRY
from tests.helpers import assert_same  # the driver-faithful comparator

argv = sys.argv[1:]
if not argv:
    print(__doc__, file=sys.stderr)
    sys.exit(2)
KEYS = list(REGISTRY) if argv == ["--all"] else argv

# S3SPARK_SIM_SF_DIR: sweep the fixture scale (the differential must
# hold at EVERY SF, not just the driver's 0.01 — a threshold tuned to
# one fixture's distribution shows up here)
SF = os.environ.get("S3SPARK_SIM_SF_DIR", "/root/testdata/sf0.01")
# S3SPARK_SIM_PARTITIONS: run the sim under a different shuffle
# partitioning (the driver's session is NOT ours — a key whose output
# depends on partition order would pass at 8 and fail at the driver's
# count; sweeping an odd count here smokes that out)
_PARTS = os.environ.get("S3SPARK_SIM_PARTITIONS", "8")
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", _PARTS)
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
con = duckdb.connect()
for t in (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

fails = []
t0 = time.time()
for k in KEYS:
    q = REGISTRY[k]
    try:
        df = q.fn(spark, SF)
        if q.oracle is None:
            print(f"{k}: rows-only, {df.count()} rows", flush=True)
            continue
        assert_same(df, con, q.oracle, name=k)
        print(f"{k}: PASS", flush=True)
    except Exception as exc:  # noqa: BLE001
        print(f"{k}: FAIL {type(exc).__name__}: {str(exc)[:400]}", flush=True)
        fails.append(k)
print(f"-- {len(KEYS)} keys in {time.time() - t0:.1f}s")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
