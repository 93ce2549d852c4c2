"""s3a:// integration probe (VERDICT round-1 item 9).

The verbs are path-scheme agnostic by construction (Hadoop FileSystem),
but round 1 only ever demonstrated ``file://``. This module makes the
``s3a://`` gap explicit and self-healing:

- Probe result in THIS container (2026-08-13): moto 5.2.1 and boto3 are
  installed and ``ThreadedMotoServer`` starts fine, but the Spark
  distribution ships NO ``hadoop-aws`` / ``aws-java-sdk`` jars (searched
  the whole filesystem), so ``org.apache.hadoop.fs.s3a.S3AFileSystem``
  cannot be loaded and no S3A client can exist, moto endpoint or not.
  ``pip/apt install`` and jar downloads are forbidden offline, so the
  blocker is environmental, not architectural.

- The round-trip test below is therefore skipped while the class is
  absent, and runs for real (moto-backed bucket, all four verbs) the
  moment a build ships the jars — no code change needed.
"""

from __future__ import annotations

import pytest


def _s3a_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem")
        return True
    except Exception:
        return False


def test_s3a_classpath_probe_documented(spark):
    """Pin the probe result: if this ever starts failing, the jars
    appeared and the skipped round-trip below MUST be made to pass."""
    if _s3a_available(spark):
        pytest.fail(
            "hadoop-aws jars are now on the classpath — enable "
            "test_s3a_roundtrip_against_moto and delete this guard"
        )


def test_s3a_roundtrip_against_moto(spark, tmp_path):
    """All four verbs against a moto-backed s3a:// bucket (real S3 REST
    semantics: LIST pagination, COPY, DELETE). Runs only when the S3A
    filesystem classes exist."""
    if not _s3a_available(spark):
        pytest.skip("hadoop-aws jars absent in this container (see module doc)")

    import boto3
    from moto.server import ThreadedMotoServer

    from s3spark import fs

    server = ThreadedMotoServer(port=0)
    server.start()
    try:
        host, port = server.get_host_and_port()
        endpoint = f"http://{host}:{port}"
        s3 = boto3.client(
            "s3",
            endpoint_url=endpoint,
            aws_access_key_id="test",
            aws_secret_access_key="test",
            region_name="us-east-1",
        )
        s3.create_bucket(Bucket="engine-test")
        for i in range(3):
            s3.put_object(
                Bucket="engine-test", Key=f"in/data_{i}.csv", Body=b"a,b\n1,2"
            )
        conf = spark._jsc.hadoopConfiguration()
        conf.set("fs.s3a.endpoint", endpoint)
        conf.set("fs.s3a.access.key", "test")
        conf.set("fs.s3a.secret.key", "test")
        conf.set("fs.s3a.path.style.access", "true")
        conf.set("fs.s3a.connection.ssl.enabled", "false")

        listing = fs.list_files(spark, "s3a://engine-test/in")
        assert listing.count() == 3
        got = fs.match_files(listing, r"^in/data_\d\.csv$")
        assert got.count() == 3  # key-relative anchored regex

        res = fs.transfer(
            spark,
            source_url="s3a://engine-test",
            source_folder="in",
            source_file=r"data_\d\.csv",
            match_type=fs.REGEX_MATCH,
            dest_url=f"file://{tmp_path}",
        )
        assert res.count == 3
        res = fs.transfer(
            spark,
            source_url="s3a://engine-test",
            source_folder="in",
            source_file="data_0.csv",
            match_type=fs.EXACT_MATCH,
            dest_url="s3a://engine-test",
            dest_folder="archive",
            delete_source=True,
        )
        assert res.count == 1
        fs.remove(
            spark,
            source_url="s3a://engine-test",
            source_folder="archive",
            source_file=r".*",
            match_type=fs.REGEX_MATCH,
        )
        assert fs.list_files(spark, "s3a://engine-test/in").count() == 2
    finally:
        server.stop()
