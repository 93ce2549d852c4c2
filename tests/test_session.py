"""Session factory tests: credential wiring (reference R2 semantics)
and the scale-posture configuration."""

from __future__ import annotations


def test_credentials_map_to_s3a_conf(spark):
    """Explicit credentials must land in Hadoop S3A config — the
    engine twin of the reference's set_environment_variables
    (download_file.py:59-71).  Uses the running session's builder
    path: getOrCreate applies configs onto the existing session."""
    from s3spark.session import get_spark

    s = get_spark(
        "cred-test",
        aws_access_key_id="AKIATEST",
        aws_secret_access_key="SECRETTEST",
        aws_default_region="eu-west-1",
        s3_endpoint="http://localhost:9000",
    )
    hconf = s._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.access.key") == "AKIATEST"
    assert hconf.get("fs.s3a.secret.key") == "SECRETTEST"
    assert hconf.get("fs.s3a.endpoint.region") == "eu-west-1"
    assert hconf.get("fs.s3a.endpoint") == "http://localhost:9000"


def test_scale_posture_conf(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    )


def test_default_master_and_partitions_follow_usable_cores():
    """With SPARK_GRAFT_CPUS unset, a fresh get_spark() runs local[n]
    with n shuffle partitions, n being the cores this process may run
    on (what nproc prints)."""
    import json
    import os
    import subprocess
    import sys

    probe = (
        "import json; from s3spark.session import get_spark; "
        "s = get_spark(extra_conf={'spark.ui.enabled': 'false'}); "
        "print(json.dumps([s.sparkContext.master, "
        "s.conf.get('spark.sql.shuffle.partitions')])); s.stop()"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    )
    n = len(os.sched_getaffinity(0))
    assert json.loads(out.stdout.strip().splitlines()[-1]) == [f"local[{n}]", str(n)]


def test_events_table_tolerates_all_timestamp_physical_types(spark, tmp_path):
    """events_table must serve the same rows whether a generator wrote
    ts as TIMESTAMP(MICROS) (direct read, ntz->ltz normalized) or
    TIMESTAMP(NANOS) (Spark's reader rejects it; explicit int64 schema
    + ns->us fallback) — with NO session conf mutation either way."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from s3spark.io import events_table

    base = pd.Timestamp("2024-01-01")
    df = pd.DataFrame(
        {
            "event_id": range(5),
            "ts": [base + pd.Timedelta(minutes=i) for i in range(5)],
            "user_id": [1] * 5,
            "event_type": ["click"] * 5,
            "value": [1.0] * 5,
            "props": ["{}"] * 5,
        }
    )
    us_path = str(tmp_path / "us.parquet")
    ns_path = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.Table.from_pandas(df.assign(ts=df.ts.astype("datetime64[us]"))),
        us_path,
    )
    pq.write_table(
        pa.Table.from_pandas(df.assign(ts=df.ts.astype("datetime64[ns]"))),
        ns_path,
    )
    before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    out_us = events_table(spark, us_path)
    out_ns = events_table(spark, ns_path)
    assert dict(out_us.dtypes)["ts"] == "timestamp"
    assert dict(out_ns.dtypes)["ts"] == "timestamp"
    rows_us = sorted(
        (r.event_id, r.ts) for r in out_us.select("event_id", "ts").collect()
    )
    rows_ns = sorted(
        (r.event_id, r.ts) for r in out_ns.select("event_id", "ts").collect()
    )
    assert rows_us == rows_ns  # same instants from both physical types
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) == before
    )
