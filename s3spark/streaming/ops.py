"""Structured Streaming operators over the events fixture.

The reference has no streaming at all (SURVEY.md §2.2); this is the
north-star streaming surface: file-source streams with event-time
watermarks, stateful dedup, and windowed aggregation, all runnable in
``availableNow`` batch-catchup mode so results are deterministic and
checkable against batch equivalents.

Scale posture: file-source streaming at 100 TB means many small
micro-batches (maxFilesPerTrigger); watermarks bound the dedup/window
state so state stores don't grow without limit; checkpointing goes to
the object store next to the data.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3spark import io
from s3spark.io import DEC, scratch_dir


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file-source stream (same timestamp-type tolerance
    as the batch reader, s3spark.io.events_table).

    The batch probe below only infers the footer schema; it never
    mutates session conf.  If the fixture stores TIMESTAMP(NANOS) the
    probe read fails and we fall back to the explicit int64-nanos
    schema + ns→µs conversion; a TIMESTAMP(MICROS) fixture streams
    directly."""
    try:
        raw_schema = (
            spark.read.option("pathGlobFilter", "events*.parquet")
            .parquet(sf_dir)
            .schema
        )
    except Exception:
        raw_schema = io._EVENTS_NANOS_SCHEMA
    # file-source streams need a directory; glob-filter to the events
    # table so sibling fixture tables are not picked up
    sdf = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(sdf.dtypes).get("ts")
    if ts_type == "bigint":
        sdf = sdf.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # watermarks require TIMESTAMP_LTZ; value-preserving under UTC
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def stream_dedup(sdf: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked stateful dedup on the unique event_id.  The
    watermark lets Spark evict dedup state older than the horizon —
    without it, state grows unboundedly at 100 TB."""
    return sdf.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def stream_tumbling_counts(
    sdf: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window aggregate (append-mode compatible:
    a window emits once its end passes the watermark)."""
    return (
        sdf.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def stream_user_stats(sdf: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    cumulative (event count, value total, last event time), state
    explicitly managed per key across micro-batches — the shape used
    for arbitrary streaming state Spark's built-ins can't express
    (per-entity counters, custom sessionization, fraud scores).

    Values carry 2 decimal places, so state accumulates exact integer
    cents — the stateful analogue of the engine's decimal-routed sums
    (no float drift across micro-batches).  At 100 TB state is
    sharded by key across executors and checkpointed; a watermark
    + timeout would bound it for unbounded keyspaces."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, n_events long, total_value double, last_ts timestamp"
    )
    state_schema = "n long, cents long, last_us long"

    def update(key, pdfs, state):
        (user_id,) = key
        n, cents, last_us = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(round(float(pdf["value"].sum()) * 100))
            mx = pdf["ts"].max()
            last_us = max(last_us, int(pd.Timestamp(mx).value // 1000))
        state.update((n, cents, last_us))
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": n,
                    "total_value": cents / 100.0,
                    "last_ts": pd.Timestamp(last_us * 1000),
                }
            ]
        )

    return sdf.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_merge_into(
    sdf: DataFrame,
    target_dir: str,
    key_col: str = "event_id",
) -> None:
    """Incremental merge/upsert sink via foreachBatch: each micro-batch
    is merged into a parquet target with anti-join ∪ batch (same
    rewrite as the batch merge_upsert key) — the
    streaming-ingestion-into-a-lake pattern.  foreachBatch gives
    exactly-once per epoch against an idempotent rewrite; with a table
    format the body becomes MERGE INTO."""
    from pyspark.sql import functions as F  # noqa: F811

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.dropDuplicates([key_col])
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        Path = jvm.org.apache.hadoop.fs.Path
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            Path(target_dir).toUri(), conf
        )
        bak = target_dir + ".bak"
        # Crash recovery FIRST: if a prior epoch died between
        # rename(target→bak) and rename(tmp→target), bak holds the only
        # complete copy — restore it before any read or delete decision,
        # otherwise this epoch would treat bak as a deletable leftover
        # and silently restart history from the current batch.
        if not fs.exists(Path(target_dir)) and fs.exists(Path(bak)):
            fs.rename(Path(bak), Path(target_dir))
        if fs.exists(Path(target_dir)):
            # the previous epoch swapped files under this path — drop
            # Spark's cached file listing or the read plans deleted files
            spark.catalog.refreshByPath(target_dir)
            target = spark.read.parquet(target_dir)
            untouched = target.join(
                batch_df.select(key_col), key_col, "left_anti"
            )
            merged = untouched.unionByName(batch_df)
        else:
            merged = batch_df  # first epoch: no target yet
        # rewrite to a temp dir then swap — parquet has no transactional
        # overwrite-while-reading; a table format removes this dance.
        # The swap moves the live target ASIDE first (never delete-then-
        # rename: a crash between those two calls would destroy every
        # epoch's data, not just the in-flight one) — at any instant one
        # complete copy exists as either target or target.bak.
        tmp = target_dir + f".epoch{epoch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        # after the recovery step above, bak-exists ⇒ target-exists, so
        # bak here is a true leftover (crash after the final rename but
        # before this delete) and is safe to drop
        if fs.exists(Path(bak)):
            fs.delete(Path(bak), True)
        had_target = fs.exists(Path(target_dir))
        if had_target:
            fs.rename(Path(target_dir), Path(bak))
        fs.rename(Path(tmp), Path(target_dir))
        if had_target:
            fs.delete(Path(bak), True)

    ckpt = scratch_dir("merge-ckpt", fresh=True)
    q = (
        sdf.writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(
    result: DataFrame,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion with the
    availableNow trigger into a memory sink; return the materialized
    result as a batch DataFrame.  Pass the same ``checkpoint`` across
    calls to resume incrementally (watermark + source offsets persist;
    each call returns only that run's emissions)."""
    name = f"s3spark_stream_{uuid.uuid4().hex[:12]}"
    ckpt = checkpoint or scratch_dir("ckpt", fresh=True)
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return result.sparkSession.table(name)
