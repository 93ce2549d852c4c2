"""The Parquet read path (``s3spark.io.read_parquet``): a plain file's
schema is inferred once per file version and session, a changed file
or a changed schema-conversion conf infers again, a directory infers on
every read, and a memoized read gives the same schema, plan and rows as
``spark.read.parquet``.

Each test works in its own ``spark.newSession()``: it starts with an
empty memo whatever other tests read before, and a conf it sets stays
out of the shared session.  Jobs are counted as new job ids on the
shared SparkContext's status tracker; schema inference is a job of its
own.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from s3spark import io
from s3spark.pipeline import S3Pipeline
from tests.conftest import SMOKE_SF_DIR
from tests.test_fs_budget import _jobs


@pytest.fixture
def session(spark):
    return spark.newSession()


def _jobs_of(spark, fn):
    """(what fn returned, the jobs it started)."""
    before = _jobs(spark)
    out = fn()
    return out, len(_jobs(spark) - before)


def test_second_table_read_starts_no_job(session):
    _, first = _jobs_of(session, lambda: io.table(session, SMOKE_SF_DIR, "lineitem"))
    df, second = _jobs_of(session, lambda: io.table(session, SMOKE_SF_DIR, "lineitem"))
    assert first >= 1
    assert second == 0
    assert "l_orderkey" in df.columns


def test_pipeline_read_infers_once(session):
    pipe = S3Pipeline(session)
    url = f"file://{SMOKE_SF_DIR}/orders.parquet"
    _, first = _jobs_of(session, lambda: pipe.read(url))
    df, second = _jobs_of(session, lambda: pipe.read(url))
    assert first >= 1 and second == 0
    assert df.count() == pq.read_metadata(f"{SMOKE_SF_DIR}/orders.parquet").num_rows


def test_rewritten_file_shows_its_new_column(session, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert io.read_parquet(session, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, jobs = _jobs_of(session, lambda: io.read_parquet(session, path))
    assert jobs >= 1  # the changed file was inferred again
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_directory_is_inferred_on_every_read(session, tmp_path):
    # a directory's schema is merged over its files only with mergeSchema
    session.conf.set("spark.sql.parquet.mergeSchema", "true")
    root = tmp_path / "parted"
    (root / "p=1").mkdir(parents=True)
    pq.write_table(pa.table({"a": [1]}), str(root / "p=1" / "part-0.parquet"))
    assert sorted(io.read_parquet(session, str(root)).columns) == ["a", "p"]
    (root / "p=2").mkdir()
    pq.write_table(pa.table({"a": [2], "b": ["new"]}), str(root / "p=2" / "part-0.parquet"))
    df = io.read_parquet(session, str(root))
    assert sorted(df.columns) == ["a", "b", "p"]
    assert sorted(tuple(r) for r in df.select("p", "a", "b").collect()) == [
        (1, 1, None), (2, 2, "new"),
    ]


def test_binary_as_string_toggle_changes_the_type(session, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    assert dict(io.read_parquet(session, path).dtypes) == {"b": "binary"}
    session.conf.set("spark.sql.parquet.binaryAsString", "true")
    df = io.read_parquet(session, path)
    assert dict(df.dtypes) == {"b": "string"}
    assert sorted(r.b for r in df.collect()) == ["x", "y"]
    session.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert dict(io.read_parquet(session, path).dtypes) == {"b": "binary"}


def _normalized_plan(df) -> str:
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().executedPlan().toString())


@pytest.mark.parametrize("name", io.TABLES)
def test_memo_read_matches_spark_read(session, name):
    path = f"{SMOKE_SF_DIR}/{name}.parquet"
    io.read_parquet(session, path)
    memo, jobs = _jobs_of(session, lambda: io.read_parquet(session, path))
    assert jobs == 0  # served from the memo
    plain = session.read.parquet(path)
    assert memo.schema == plain.schema
    assert _normalized_plan(memo) == _normalized_plan(plain)
    assert memo.collect() == plain.collect()


def test_nanos_events_file_is_inferred_once(session, tmp_path):
    path = str(tmp_path / "events.parquet")
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["view", "click"],
            "value": [1.5, 2.5],
            "props": ["{}", "{}"],
        }),
        path,
    )
    first, first_jobs = _jobs_of(session, lambda: io.events_table(session, path))
    second, second_jobs = _jobs_of(session, lambda: io.events_table(session, path))
    assert first_jobs >= 1  # the inference that fails on TIMESTAMP(NANOS)
    assert second_jobs == 0
    micros = [v // 1000 for v in ns]
    for df in (first, second):
        got = df.selectExpr("event_id", "unix_micros(ts) AS us").orderBy("event_id").collect()
        assert [r.us for r in got] == micros


def test_unconvertible_footer_raises_again_without_a_job(session, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("ns"))}), path)
    with pytest.raises(AnalysisException) as first:
        io.read_parquet(session, path)
    assert first.value.getCondition() == "PARQUET_TYPE_ILLEGAL"

    def again():
        with pytest.raises(AnalysisException) as second:
            io.read_parquet(session, path)
        return second.value

    err, jobs = _jobs_of(session, again)
    assert jobs == 0
    assert err.getCondition() == "PARQUET_TYPE_ILLEGAL"
    assert err.getMessageParameters() == first.value.getMessageParameters()


@pytest.mark.parametrize(
    "path, memoized",
    [("file:///x/t.parquet", "/x/t.parquet"), ("file:/x/t.parquet", "/x/t.parquet"),
     ("/x/t.parquet", "/x/t.parquet"), ("file://host/x/t.parquet", None),
     ("x/t.parquet", None), ("s3a://bucket/t.parquet", None)],
)
def test_local_path(spark, path, memoized):
    assert io._local_path(spark, path) == memoized
