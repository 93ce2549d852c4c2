"""s3spark — a PySpark-native analytics engine with the data-pipeline
capabilities of shipyardapp/amazons3-blueprints, re-expressed Spark-first.

The reference (read-only at /root/reference) is a set of four boto3 CLI
blueprints that list/match/download/upload/move/remove S3 objects
(see SURVEY.md §0-§2).  This package provides:

- ``s3spark.session``   — SparkSession factory with S3A credential wiring
  (reference: download_file.py:59-71 ``set_environment_variables``).
- ``s3spark.naming``    — key/name manipulation semantics
  (reference: download_file.py:85-164, upload_file.py:92-171).
- ``s3spark.fs``        — listing / match and the verbs ``transfer``
  (download, upload, move) and ``remove`` over Hadoop FileSystem
  (reference: the four main() loops).
- ``s3spark.errors``    — typed errors carrying the reference exit codes
  (reference: exit_codes.py:1-3).
- ``s3spark.queries``   — the engine operator surface (SURVEY.md §2.3):
  scans, filters, joins, aggregates, windows, sorts, set ops, scalar
  functions, UDx, LLM-data ops (dedup / similarity / text analysis),
  and event-time windowing, each with a DuckDB oracle.
- ``s3spark.streaming`` — Structured Streaming variants (watermark,
  stateful dedup, windowed aggregation).
"""

from s3spark.registry import REGISTRY, register  # noqa: F401

__version__ = "0.1.0"
