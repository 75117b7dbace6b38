"""Driver contract for the spark-graft builder (PySpark target).

Backed by the query registry in
``spark_streaming_practicum_spark.registry``: every operator family
module registers (name, spark_fn, oracle_sql) triples at import time;
this file just exposes them in the driver's shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from spark_streaming_practicum_spark.registry import all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the TPC-H-Q1-shaped
    pricing summary (scan -> pushed filter -> two-phase hash agg)."""
    defs = all_queries()
    return defs["agg_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def _utc_pinned(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Timestamp oracle parity requires the session timezone to be UTC
    (DuckDB is UTC-naive); the harness session may not set it."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return wrapped


# The driver's correctness run samples the head of queries(); lead it
# with the queries whose implementation changed since their last green
# driver row, then registry order. A misspelt name raises KeyError.
_HEAD = ("ml_dbscan_grid_clusters",)


def _driver_order() -> dict:
    defs = all_queries()
    return {n: defs[n] for n in _HEAD} | defs


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _utc_pinned(d.fn) for name, d in _driver_order().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query; omitted
    entries (hash-family / state-order dependent ops) get the driver's
    rows-only check."""
    return {
        name: d.oracle
        for name, d in _driver_order().items()
        if d.oracle is not None
    }
