"""SparkSession factory with S3A credential wiring.

Replaces the reference's per-script credential injection
(``set_environment_variables``, download_file.py:59-71) and client
construction (``connect_to_s3``, download_file.py:74-82,
move_file.py:106-122): explicit credentials map onto Hadoop S3A
configuration; when omitted, the S3A provider chain resolves them
(env vars / instance profile), matching boto3's default-chain behavior.

Scale posture (100 TB, SURVEY.md §4.2): AQE on (skew-join + partition
coalescing), UTC session timezone, Arrow transfers on, S3A fast upload
for massively-parallel object-store writes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "s3spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    aws_access_key_id: str | None = None,
    aws_secret_access_key: str | None = None,
    aws_default_region: str | None = None,
    s3_endpoint: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for S3-backed pipelines.

    Credential precedence mirrors the reference (explicit args override
    ambient env, download_file.py:59-71); unset values fall through to
    the S3A default provider chain.  ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]`` and ``shuffle_partitions`` to the same
    count; with the variable unset, to the cores this process may run
    on (what ``nproc`` prints).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark 4.1.2 turned on checkpoint file checksums by default
        # (ChecksumCheckpointFileManager writes + verifies a sidecar
        # checksum per WAL/state file).  Round-11 bisect of the
        # "streaming family runs 1.2-3.5x its committed values with
        # zero code diff" regression (r10 verdict): the checksum
        # manager alone doubles stream_outer_join_watermark's run-1
        # wall (13.6 s -> 6.7 s measured A/B on a quiet box).  Local
        # scratch checkpoints add no integrity risk worth 2x on every
        # stateful micro-batch; on an unreliable object store, flip it
        # back on per-deployment.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # S3A posture for real clusters; harmless on local file paths.
        .config("spark.hadoop.fs.s3a.fast.upload", "true")
        .config("spark.hadoop.fs.s3a.multipart.size", "67108864")
        .config("spark.hadoop.fs.s3a.connection.maximum", "96")
    )
    creds = {
        "fs.s3a.access.key": aws_access_key_id,
        "fs.s3a.secret.key": aws_secret_access_key,
        "fs.s3a.endpoint.region": aws_default_region,
        "fs.s3a.endpoint": s3_endpoint,
    }
    for k, v in creds.items():
        if v:
            builder = builder.config(f"spark.hadoop.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() on an already-running session ignores spark.hadoop.*
    # builder configs; apply credentials to the live Hadoop conf so the
    # reference's override-ambient semantics (download_file.py:59-71)
    # hold regardless of session reuse.
    hconf = spark._jsc.hadoopConfiguration()
    for k, v in creds.items():
        if v:
            hconf.set(k, v)
    return spark
