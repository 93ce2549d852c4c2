"""S3Pipeline — the engine's public facade (SURVEY.md §3.2).

Mirrors the reference's four entry points with the same parameter
vocabulary (bucket, folder+file, match type, credentials) while the
execution is Spark-native:

- ``ingest``  ≈ download_file.py main() (S3 → local)
- ``publish`` ≈ upload_file.py main() (local → S3)
- ``move``    ≈ move_file.py main() (S3 → S3, copy+delete)
- ``remove``  ≈ remove_files.py main()
- ``query``   — run any registered analytic operator (§2.3 surface),
  the capability layer the reference implies but never had
- ``read``/``write`` — dataset-level ingest/egress: parquet/csv/json
  DataFrames on any Hadoop-visible store (the 100 TB path: executors
  stream partitions directly; bytes never transit the driver)

Buckets become base URLs: the reference's ``--bucket-name my-bucket``
is ``s3a://my-bucket`` here; any scheme Hadoop knows (file://, hdfs://,
s3a://) works identically, which is how the test-suite exercises the
full verb surface against local temp dirs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from s3spark import fs
from s3spark.io import read_parquet
from s3spark.registry import REGISTRY
from s3spark.session import get_spark


def _as_url(bucket_or_url: str) -> str:
    """'my-bucket' → 's3a://my-bucket'; URLs pass through unchanged."""
    if "://" in bucket_or_url or bucket_or_url.startswith("file:"):
        return bucket_or_url
    return f"s3a://{bucket_or_url}"


class S3Pipeline:
    def __init__(
        self,
        spark: SparkSession | None = None,
        *,
        aws_access_key_id: str | None = None,
        aws_secret_access_key: str | None = None,
        aws_default_region: str | None = None,
        s3_endpoint: str | None = None,
        hadoop_conf: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark or get_spark(
            "s3spark-pipeline",
            aws_access_key_id=aws_access_key_id,
            aws_secret_access_key=aws_secret_access_key,
            aws_default_region=aws_default_region,
            s3_endpoint=s3_endpoint,
        )
        # s3-config / extra-args knobs (s3spark.s3config) land on the
        # live Hadoop conf, like the reference's per-invocation Config
        hconf = self.spark._jsc.hadoopConfiguration()
        for k, v in (hadoop_conf or {}).items():
            hconf.set(k, v)

    # -------------------------------------------------- file verbs (R17-R20)

    def ingest(
        self,
        *,
        bucket_name: str,
        source_file_name: str,
        source_folder_name: str = "",
        source_file_name_match_type: str = fs.EXACT_MATCH,
        destination_url: str,
        destination_folder_name: str = "",
        destination_file_name: str | None = None,
    ) -> fs.VerbResult:
        """≈ reference download (download_file.py:249-297)."""
        return fs.transfer(
            self.spark,
            source_url=_as_url(bucket_name),
            source_folder=source_folder_name,
            source_file=source_file_name,
            match_type=source_file_name_match_type,
            dest_url=_as_url(destination_url),
            dest_folder=destination_folder_name,
            dest_file=destination_file_name,
        )

    def publish(
        self,
        *,
        bucket_name: str,
        source_url: str,
        source_file_name: str,
        source_folder_name: str = "",
        source_file_name_match_type: str = fs.EXACT_MATCH,
        destination_folder_name: str = "",
        destination_file_name: str | None = None,
    ) -> fs.VerbResult:
        """≈ reference upload (upload_file.py:219-271)."""
        return fs.transfer(
            self.spark,
            source_url=_as_url(source_url),
            source_folder=source_folder_name,
            source_file=source_file_name,
            match_type=source_file_name_match_type,
            dest_url=_as_url(bucket_name),
            dest_folder=destination_folder_name,
            dest_file=destination_file_name,
        )

    def move(
        self,
        *,
        source_bucket_name: str,
        destination_bucket_name: str,
        source_file_name: str,
        source_folder_name: str = "",
        source_file_name_match_type: str = fs.EXACT_MATCH,
        destination_folder_name: str = "",
        destination_file_name: str | None = None,
    ) -> fs.VerbResult:
        """≈ reference move (move_file.py:156-234): copy+delete,
        cross-bucket, non-atomic (same as S3 COPY+DELETE)."""
        return fs.transfer(
            self.spark,
            source_url=_as_url(source_bucket_name),
            source_folder=source_folder_name,
            source_file=source_file_name,
            match_type=source_file_name_match_type,
            dest_url=_as_url(destination_bucket_name),
            dest_folder=destination_folder_name,
            dest_file=destination_file_name,
            delete_source=True,
        )

    def remove(
        self,
        *,
        bucket_name: str,
        source_file_name: str,
        source_folder_name: str = "",
        source_file_name_match_type: str = fs.EXACT_MATCH,
    ) -> fs.VerbResult:
        """≈ reference remove (remove_files.py:119-163), with full
        pagination (divergence D2) and typed errors (D3/D7)."""
        return fs.remove(
            self.spark,
            source_url=_as_url(bucket_name),
            source_folder=source_folder_name,
            source_file=source_file_name,
            match_type=source_file_name_match_type,
        )

    # ------------------------------------------------------------- listing

    def list(self, bucket_name: str, folder_name: str = "") -> DataFrame:
        """Listing DataFrame (path, name, size, mtime) for a prefix."""
        from s3spark.naming import clean_folder_name

        base = _as_url(bucket_name)
        folder = clean_folder_name(folder_name)
        return fs.list_files(self.spark, f"{base}/{folder}" if folder else base)

    # ----------------------------------------------------- dataset-level IO

    def read(self, url: str, fmt: str = "parquet", **options) -> DataFrame:
        """Dataset ingest: distributed columnar read (executors pull
        splits directly from the store; predicate/column pushdown via
        Catalyst).  A plain Parquet read goes through
        :func:`s3spark.io.read_parquet`, so a local file's schema is
        inferred once per session rather than by a Spark job on every
        read."""
        if fmt == "parquet" and not options:
            return read_parquet(self.spark, _as_url(url))
        return self.spark.read.format(fmt).options(**options).load(_as_url(url))

    def write(
        self,
        df: DataFrame,
        url: str,
        fmt: str = "parquet",
        mode: str = "error",
        partition_by: list[str] | None = None,
        **options,
    ) -> None:
        """Dataset egress: executors write partitions in parallel
        (multipart via fs.s3a.*; partitioning for downstream pruning)."""
        w = df.write.format(fmt).mode(mode).options(**options)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(_as_url(url))

    # ------------------------------------------------------------- queries

    def query(self, name: str, sf_dir: str) -> DataFrame:
        """Run a registered analytic operator by name (SURVEY.md §2.3)."""
        import s3spark.queries  # noqa: F401  (ensure registration)

        return REGISTRY[name].fn(self.spark, sf_dir)

    def query_names(self) -> list[str]:
        import s3spark.queries  # noqa: F401

        return sorted(REGISTRY)
