"""Repo-wide physical-plan lint: invariants that must hold for EVERY
registered batch query, not just the ones with dedicated plan tests.

The one non-negotiable at cluster scale is the unconstrained
CartesianProduct: |left| x |right| rows with no key, no broadcast bound
— a plan that can only exist because someone forgot a join condition.
Every deliberate cross join in this engine rides a broadcast (tiny
side), which plans as BroadcastNestedLoopJoin, never CartesianProduct.
This sweep keeps that true as the query surface grows.

(True-streaming queries are skipped: constructing them executes the
stream; their plans are covered by their own e2e tests.)

Two source lints ride along: every parquet read in the package goes
through ``sources.batch.read_parquet``, the one reader that memoizes
inferred file schemas, and every DataFrame of driver-side rows goes
through ``sources.batch.local_frame``, which plans them as a
``LocalRelation`` instead of a Python-worker RDD scan.
"""

from __future__ import annotations

import pathlib

import pytest

from spark_streaming_practicum_spark.plans import formatted_plan
from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR, built_query


# `slow`: building all ~440 batch plans takes ~4 min (a third of the
# not-parity leg — round-10 verdict task 4 guard breach), so this lint
# runs as its own once-per-round leg: `python -m pytest -m slow`.
@pytest.mark.slow
def test_no_cartesian_product_anywhere(spark):
    offenders = []
    for name, d in sorted(all_queries().items()):
        if name.startswith("stream_"):
            continue
        plan = formatted_plan(built_query(name, spark))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"unbounded cartesian products in: {offenders}"


def _calls_outside_sources_batch(call: str) -> list[str]:
    pkg = pathlib.Path(__file__).resolve().parents[1] / "spark_streaming_practicum_spark"
    return [
        str(path.relative_to(pkg))
        for path in pkg.rglob("*.py")
        if call in path.read_text()
        and path.relative_to(pkg).as_posix() != "sources/batch.py"
    ]


def test_parquet_reads_go_through_one_reader():
    offenders = _calls_outside_sources_batch("spark.read.parquet(")
    assert not offenders, f"spark.read.parquet( outside sources/batch.py: {offenders}"


def test_driver_rows_go_through_one_builder():
    offenders = _calls_outside_sources_batch("createDataFrame(")
    assert not offenders, f"createDataFrame( outside sources/batch.py: {offenders}"
