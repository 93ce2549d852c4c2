"""transformWithState(InPandas) integration probe (VERDICT round-8
stretch item 9).

Spark 4.1's arbitrary-state-v2 API is the successor to
``applyInPandasWithState`` (our ``stream_stateful_user_stats``
coverage key): a ``StatefulProcessor`` with typed value/list/map state
handles, timers, and TTL.  This module makes the gap explicit and
self-healing:

- Probe result in THIS container (2026-08-15): the PySpark 4.1.2 API
  surface EXISTS (``GroupedData.transformWithStateInPandas``), but the
  state-server protocol between the JVM and the Python driver worker
  speaks protobuf and ``google.protobuf`` is NOT installed — the
  streaming query dies with
  ``STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE: ImportError:
  cannot import name 'descriptor' from 'google.protobuf'``.
  ``pip install`` is forbidden offline, so the blocker is
  environmental, not architectural.

- The end-to-end test below is therefore skipped while protobuf is
  absent, and runs for real (running per-user event counts via a
  ValueState, availableNow trigger, checked against the batch
  groupBy oracle) the moment a build ships the dependency — no code
  change needed.
"""

from __future__ import annotations

import importlib.util

import pytest

from tests.conftest import SMOKE_SF_DIR


def _protobuf_available() -> bool:
    try:
        # find_spec on a submodule imports the parent package first,
        # raising ModuleNotFoundError when 'google' itself is absent
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def test_tws_dependency_probe_documented():
    """Pin the probe result: if this ever starts failing, protobuf
    appeared and the skipped end-to-end test below MUST be made to
    pass (and promoted to a registry key with a batch oracle)."""
    if _protobuf_available():
        pytest.fail(
            "google.protobuf is now importable — enable "
            "test_tws_running_counts_match_batch and delete this guard"
        )


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas needs google.protobuf "
    "(state-server protocol); not installed in this container",
)
def test_tws_running_counts_match_batch(spark, tmp_path):
    """Arbitrary-state v2 end-to-end: a ValueState-backed running
    per-user event count over the events fixture, availableNow
    trigger, equals the batch groupBy count."""
    import glob
    import shutil

    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import LongType, StructField, StructType

    class CountProc(StatefulProcessor):
        def init(self, handle):
            self._count = handle.getValueState("count", "cnt BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            total = sum(len(pdf) for pdf in rows)
            prev = self._count.get()
            base = prev[0] if prev else 0
            self._count.update((base + total,))
            yield pd.DataFrame({"user_id": [key[0]], "n": [base + total]})

        def close(self):
            pass

    sf_dir = SMOKE_SF_DIR
    src = tmp_path / "in"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n", LongType())]
    )
    res = stream.groupBy("user_id").transformWithStateInPandas(
        CountProc(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    q = (
        res.writeStream.format("memory")
        .queryName("tws_probe_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: r["n"]
        for r in spark.sql("select * from tws_probe_out").collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert got == want
