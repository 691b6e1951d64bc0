"""Runtime entry module of the engine.

``entry(spark)`` runs the flagship CTR query on sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 plus the extension operators, each with a DuckDB-runnable
ANSI-SQL oracle where SQL can express it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flink_ad_analytics_spark.queries import RELATIONAL_QUERIES
from flink_ad_analytics_spark.queries_ext import EXTENSION_QUERIES
from flink_ad_analytics_spark.queries_pipeline import PIPELINE_QUERIES

_ALL = {**RELATIONAL_QUERIES, **EXTENSION_QUERIES, **PIPELINE_QUERIES}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (interval LEFT join + tumbling CTR) on sf0.001."""
    fn, _ = RELATIONAL_QUERIES["ctr_hourly"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator; callables take (spark, sf_dir)."""
    return {name: fn for name, (fn, _sql) in _ALL.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted -> rows-only check)."""
    return {name: sql for name, (_fn, sql) in _ALL.items() if sql is not None}
