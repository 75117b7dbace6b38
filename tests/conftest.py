"""Shared fixtures: one tuned SparkSession per test run, DuckDB oracle
connection with the testdata views pre-registered (mirroring the driver
harness)."""

from __future__ import annotations

import duckdb
import pytest

from spark_streaming_practicum_spark.catalog import TABLES
from spark_streaming_practicum_spark.functions.ranks import release_persisted_frames
from spark_streaming_practicum_spark.runner import count_jobs
from spark_streaming_practicum_spark.session import build_session

import os

SF_DIR = os.environ.get("SSP_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # 8 shuffle partitions for the test session (the driver-contract
    # environment uses the same): at sf0.001/sf0.01 the suite runs
    # thousands of tiny reduce stages, and 32 reduce tasks per stage is
    # pure scheduling overhead. Every registered query's RESULT is
    # partition-invariant by construction (decimal-sum discipline,
    # two-pass ranks) — test_results_invariant_to_shuffle_partitioning
    # pins exactly that at 7 vs 32.
    session = build_session(app_name="ssp-tests", shuffle_partitions=8)
    yield session
    session.stop()


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def job_count(spark, fn) -> int:
    """Spark jobs run while ``fn()`` runs, counted the way the query
    runner counts them (``runner.count_jobs``)."""
    return count_jobs(spark, fn)[1]


def pytest_addoption(parser):
    parser.addoption(
        "--run-iceberg",
        action="store_true",
        default=False,
        help="run Iceberg sink tests (needs Iceberg runtime JARs + catalog conf)",
    )


# Session-wide built-plan cache: constructing a registered query is not
# free (several run eager driver jobs while building), and three suites
# sweep the whole registry (oracle parity, the hashable-schema check,
# the CartesianProduct lint). Build each query's DataFrame once per
# process and share. Lazy plans only — consumers collect/inspect as
# they wish.
#
# CONTRACT: cached plans were built under whatever session conf was
# live at first call and are NEVER invalidated. A test that varies
# session conf (broadcast threshold, AQE, timezone, ...) and asserts
# plan SHAPE must rebuild its DataFrame directly from the registry DEFS
# (the way test_random_walk does) instead of going through built_query,
# or its assertion becomes order-dependent on which test populated the
# cache first. Value-level assertions are safe: every registered query
# is conf-insensitive in its RESULT by design (oracle-hash discipline).
_PLAN_CACHE: dict[str, object] = {}


def built_query(name: str, spark, sf_dir: str | None = None):
    from spark_streaming_practicum_spark.registry import all_queries

    key = name
    if key not in _PLAN_CACHE:
        _PLAN_CACHE[key] = all_queries()[name].fn(spark, sf_dir or SF_DIR)
    return _PLAN_CACHE[key]


def release_pins() -> None:
    """Free every pin the session's queries made and forget the built
    plans: a cached plan that reads a released checkpoint can no longer
    be collected."""
    release_persisted_frames()
    _PLAN_CACHE.clear()
