"""The driver imports __spark_entry__ and runs queries with ITS OWN
SparkSession — not build_session(). These tests run the contract under a
deliberately hostile session (non-UTC timezone, small core count) and
assert results still match the DuckDB oracle: catalog.table()/
stream_table() must pin everything that correctness depends on."""

from __future__ import annotations

import importlib.util

import pytest

from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR

SPOT_CHECKS = [
    "date_arithmetic",       # raw timestamp passthrough — the tz-sensitive case
    "window_sessionize",     # timestamp arithmetic + windows
    "agg_pricing_summary",   # decimal-sum policy
    "cohort_retention",      # date_trunc cohorts
]


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def hostile_spark():
    # A fresh session the way a harness might build one: non-UTC timezone,
    # no repo tuning. getOrCreate() would reuse the suite session, so this
    # builds in a new JVM-free context only if none exists — the conf set
    # below still applies because session timeZone is runtime-settable.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    original_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", original_tz)


@pytest.mark.parametrize("name", SPOT_CHECKS)
def test_contract_query_matches_oracle_under_hostile_tz(
    name, entry_mod, hostile_spark, oracle_con
):
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    s = sorted(tuple(r) for r in qs[name](hostile_spark, SF_DIR).collect())
    o = sorted(oracle_con.execute(osql[name]).fetchall())
    assert len(s) == len(o), f"{name}: {len(s)} vs {len(o)} rows"
    assert s == o, f"{name}: values diverge under non-UTC session tz"


def test_entry_runs_under_hostile_session(entry_mod, hostile_spark):
    rows = entry_mod.entry(hostile_spark).collect()
    assert len(rows) >= 1


def test_enumeration_is_head_then_registry(entry_mod):
    """The driver samples the head of queries(): it must lead with
    _HEAD and still enumerate every registered query exactly once."""
    defs = all_queries()
    assert set(entry_mod._HEAD) <= set(defs)
    names = list(entry_mod.queries())
    assert sorted(names) == sorted(defs)
    assert names[: len(entry_mod._HEAD)] == list(entry_mod._HEAD)
    assert entry_mod.oracle_sql() == {n: d.oracle for n, d in defs.items() if d.oracle}
