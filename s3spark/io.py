"""Table loading + oracle-safe aggregate helpers.

Fixture tables (TESTDATA.md) are one parquet file per table per scale
factor.  At 100 TB these would be partitioned parquet datasets under an
``s3a://`` prefix — ``table()`` takes any directory/prefix, so the same
code path serves both.

Every Parquet read of the package (``table()``, ``events_table()``,
``S3Pipeline.read``) goes through :func:`read_parquet`.  Spark infers a
Parquet schema from the footer with a Spark job of its own on every
read; :func:`read_parquet` infers a local file's schema once per file
version and session and passes it on later reads, which then start no
job.  Only schemas
are kept, never data: every read still scans the current bytes.

``dsum``/``davg`` route floating-point SUM/AVG through DECIMAL(25,6):
the fixture measures carry 2 decimal places, so the cast is exact, and
decimal summation is associative — the result is identical regardless
of partitioning/summation order on both Spark and DuckDB.  This removes
the float-drift failure mode called out in SURVEY.md §7 while keeping
full parallelism (decimal sums still use partial aggregation + AQE).
"""

from __future__ import annotations

import atexit
import os
import shutil
import stat
import tempfile
import weakref

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEC = "decimal(25,6)"


# Session confs that change how Spark maps a Parquet footer to a schema
# (the flags ParquetToSparkSchemaConverter reads); a memoized schema
# holds only for the values it was inferred under.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)
# Inference failures that depend only on the footer and the confs above,
# so they hold for a whole file version like a schema does.
_FOOTER_ERRORS = ("PARQUET_TYPE_ILLEGAL", "PARQUET_TYPE_NOT_SUPPORTED",
                  "PARQUET_TYPE_NOT_RECOGNIZED")
_GLOB = frozenset("*?[]{}\\")
# entries per session; past it the oldest entry goes
_MEMO_CAP = 4096

# session -> {path: (file version, schema or footer error)}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _local_path(spark: SparkSession, path: str) -> str | None:
    """The absolute local path that a ``file:`` URL, or an absolute path
    on a ``file:`` default FileSystem, names; None for anything else."""
    if path.startswith("file:"):
        rest = path[5:]
        if rest.startswith("//"):  # file://authority/path
            if not rest.startswith("///"):
                return None
            rest = rest[2:]
        return rest if rest.startswith("/") else None
    if path.startswith("/"):
        default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS") or "file:///"
        if default_fs.startswith("file:"):
            return path
    return None


def _file_version(spark: SparkSession, path: str) -> tuple | None:
    """What a memoized schema is valid for: the file's identity and the
    schema-conversion confs.  None where nothing may be memoized: a
    path off the local file system, a directory, a glob, a missing
    path, anything but one plain local file."""
    local = _local_path(spark, path)
    if local is None or _GLOB.intersection(local):
        return None
    try:
        st = os.stat(local)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    ident = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
    return ident, tuple(spark.conf.get(k, None) for k in _PARQUET_SCHEMA_CONFS)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred once per
    file version and session.

    The first read of a plain local file infers as Spark does and
    memoizes the schema under the file's version (:func:`_file_version`).  A later
    read of the same version passes that schema and starts no job; a
    changed file or a changed conf infers again and replaces the entry.
    A directory is never memoized, since a new file in it can change
    its schema, and neither is a path on another store (``s3a://``,
    ``hdfs://``), whose modification times are too coarse to tell a
    same-length rewrite from the old file.  A footer Spark cannot convert is memoized too, as its
    error, which a later read raises again without a job."""
    version = _file_version(spark, path)
    if version is None:
        return spark.read.parquet(path)
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(path)
    if hit is not None and hit[0] == version:
        if isinstance(hit[1], AnalysisException):
            # the first read's exception, so the type and condition hold;
            # its old traceback goes, or each raise would extend it
            raise hit[1].with_traceback(None)
        return spark.read.schema(hit[1]).parquet(path)
    if len(memo) >= _MEMO_CAP:
        memo.pop(next(iter(memo)))
    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in _FOOTER_ERRORS:
            memo[path] = (version, e)
        raise
    memo[path] = (version, df.schema)
    return df


# events fixture footer schema for generators that emit
# ts:TIMESTAMP(NANOS), requested as LongType — the reader serves the
# raw int64 nanos under an explicit schema, so no session conf
# (nanosAsLong) ever has to be mutated.
_EVENTS_NANOS_SCHEMA = (
    "event_id long, ts long, user_id long, "
    "event_type string, value double, props string"
)


def events_table(spark: SparkSession, path: str) -> DataFrame:
    """Read the events table, tolerant of the fixture's timestamp
    physical type.

    Fixture generators have shipped ``ts`` as both TIMESTAMP(MICROS)
    (readable directly) and TIMESTAMP(NANOS), which Spark's parquet
    reader rejects ([PARQUET_TYPE_ILLEGAL]).  Probe with
    :func:`read_parquet` first — schema inference reads only footers,
    and the probe's outcome is memoized per file version, so a nanos
    file fails its inference once and later reads go straight to the
    fallback — then fall back to an explicit int64 schema and convert
    ns→µs (matching DuckDB's coercion).  Both paths are scoped to this
    read: no session conf (nanosAsLong) is toggled, so other parquet
    reads in the same session keep their semantics.
    """
    try:
        df = read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanosAsLong happened to be set session-wide by the caller
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # normalize to TIMESTAMP_LTZ: unix_micros()/watermarks
            # require it, and with the UTC session timezone the cast
            # is value-preserving
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    except Exception:
        df = spark.read.schema(_EVENTS_NANOS_SCHEMA).parquet(path)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (parquet file or partitioned directory)
    through :func:`read_parquet`: a file's schema is inferred once per
    session, a directory's on every read."""
    if name == "events":
        return events_table(spark, f"{sf_dir}/{name}.parquet")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


_SCRATCH: dict[str, str] = {}


def _cleanup_scratch() -> None:
    for d in _SCRATCH.values():
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(tag: str, fresh: bool = False) -> str:
    """Process-lifetime scratch directory, one per tag.

    Query operators that materialize intermediate files (format
    round-trips, partitioned layouts, text corpora) reuse the same
    directory across invocations — every writer there uses
    mode("overwrite") — instead of leaking a fresh mkdtemp per call;
    everything is removed at interpreter exit.

    ``fresh=True`` returns a new subdirectory under the tag's root on
    every call (streaming checkpoints must never be shared between
    queries) while still being cleaned up at exit."""
    d = _SCRATCH.get(tag)
    if d is None:
        if not _SCRATCH:
            atexit.register(_cleanup_scratch)
        d = tempfile.mkdtemp(prefix=f"s3spark-{tag}-")
        _SCRATCH[tag] = d
    if fresh:
        return tempfile.mkdtemp(dir=d)
    return d


def dsum(col: Column | str) -> Column:
    """Order-independent SUM for double columns (exact decimal path)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent AVG: exact decimal sum / count, divided as doubles."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def sql_dsum(expr: str) -> str:
    """DuckDB oracle twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(25,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    """DuckDB oracle twin of :func:`davg`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(25,6))) AS DOUBLE) / COUNT({expr})"
