"""Query registry: the engine's declared operator surface (SURVEY.md §2.3).

Every operator is registered here with a PySpark implementation and
(when SQL-expressible) an equivalent DuckDB oracle SQL.  The driver and
our pytest harness both iterate this registry; a key is only added once
it hash-matches its oracle locally, so the surface grows monotonically
with verified operators only.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # ANSI SQL for DuckDB; None → rows-only check


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle)
        return fn

    return deco
