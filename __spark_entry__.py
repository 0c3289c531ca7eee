"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``_data_engineering_pipeline_project_spark``
(operators/, functions/, sources/, streaming/); this file is the thin
registration surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from _data_engineering_pipeline_project_spark import queries as _q

_q.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: star-join revenue by
    nation with broadcast dimensions (SURVEY.md §2d extension surface)."""
    return _q.revenue_by_nation(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_q.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each query (keys without an
    oracle get the driver's weaker rows-only check). Deferred oracles —
    twins whose literals must be re-derived from the compare-scale data
    (the OPQ rotation) — resolve here, memoized."""
    return _q.resolve_oracles()
