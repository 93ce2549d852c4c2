from __future__ import annotations

import os
from typing import Iterator, NamedTuple

import pytest

# The fixture scale directories; test modules take them from here (a
# hygiene test pins it).  SF_DIR and E2E_SF_DIR follow their environment
# variables; SMOKE_SF_DIR and SF01_DIR are fixed, for tests whose result
# is pinned to that scale.
SF_DIR = os.environ.get("S3SPARK_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.1"
E2E_SF_DIR = os.environ.get("S3SPARK_E2E_SF_DIR", SF01_DIR)


@pytest.fixture(scope="session")
def spark():
    from s3spark.session import get_spark

    s = get_spark("s3spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from s3spark.io import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class KeyPlan(NamedTuple):
    schema: object  # pyspark.sql.types.StructType
    plan: str  # executedPlan().toString()


class KeyPlans:
    """Each registry key's output schema and executed-plan text, built
    once per session on first request and shared by every plan gate
    and plan assertion.  Only the text is kept, not the DataFrame.  The
    executed plan is the one ``EnsureRequirements`` has run over, so
    the exchanges a query needs are in it: a global sort shows as
    ``Exchange rangepartitioning`` here but as a bare ``Sort`` in
    ``sparkPlan()``.  A test that changes a session conf before it
    plans builds its key itself, so no non-default plan is cached."""

    # Building this key runs a Structured Streaming query to completion
    # into a memory sink; its flat output is pinned by its oracle test.
    UNPLANNED = frozenset({"stream_watermark_dedup"})

    def __init__(self, spark, sf_dir: str):
        import s3spark.queries  # noqa: F401  (fills REGISTRY)
        from s3spark.registry import REGISTRY

        self._registry = REGISTRY
        self._spark = spark
        self._sf_dir = sf_dir
        self._memo: dict[str, KeyPlan] = {}

    @staticmethod
    def of(df) -> KeyPlan:
        return KeyPlan(df.schema, df._jdf.queryExecution().executedPlan().toString())

    def __call__(self, name: str) -> KeyPlan:
        if name not in self._memo:
            df = self._registry[name].fn(self._spark, self._sf_dir)
            self._memo[name] = self.of(df)
        return self._memo[name]

    def every(self, allowed=frozenset()) -> Iterator[tuple[str, KeyPlan]]:
        """(name, KeyPlan) for every key but ``UNPLANNED`` and ``allowed``."""
        for name in sorted(self._registry):
            if name not in self.UNPLANNED and name not in allowed:
                yield name, self(name)


@pytest.fixture(scope="session")
def key_plan(spark, sf_dir):
    return KeyPlans(spark, sf_dir)
