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

Source lints ride along:
- every parquet read in the package goes through
  ``sources.batch.read_parquet``, the one reader that memoizes inferred
  file schemas, and SQL text reads no parquet path: it takes
  ``catalog.table`` frames as ``spark.sql`` parameters;
- no query registers a temp view of its own, except the two whose point
  is a catalog name;
- every DataFrame of driver-side rows goes through
  ``sources.batch.local_frame``, which plans them as a ``LocalRelation``
  instead of a Python-worker RDD scan;
- every pin goes through the registry in ``functions/ranks.py``, so
  ``release_persisted_frames()`` frees it. The consumer's per-batch
  persist is the one exception: it unpersists in ``finally``;
- in the package, ``bench.py`` and ``scripts/``, only ``runner.py``
  materializes a query into the noop sink and releases its pins.
"""

from __future__ import annotations

import ast
import inspect
import pathlib

import pytest

from spark_streaming_practicum_spark.catalog import register_views
from spark_streaming_practicum_spark.functions.ranks import checkpointed, persisted
from spark_streaming_practicum_spark.operators.modern_sql import sql_parameterized_identifier
from spark_streaming_practicum_spark.plans import formatted_plan
from spark_streaming_practicum_spark.registry import all_queries
from spark_streaming_practicum_spark.streaming.processor import StreamProcessor

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


def _occurrences(text: str) -> dict[str, int]:
    """``{package-relative path: count}`` of every package file with ``text``."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "spark_streaming_practicum_spark"
    counts = {path.relative_to(pkg).as_posix(): path.read_text().count(text) for path in pkg.rglob("*.py")}
    return {path: n for path, n in counts.items() if n}


def _calls_outside_sources_batch(call: str) -> list[str]:
    return sorted(set(_occurrences(call)) - {"sources/batch.py"})


def test_parquet_reads_go_through_one_reader():
    offenders = _calls_outside_sources_batch("spark.read.parquet(")
    assert not offenders, f"spark.read.parquet( outside sources/batch.py: {offenders}"


def test_sql_reads_no_parquet_path():
    offenders = _occurrences("parquet.`")
    assert not offenders, f"parquet.` path reads in SQL text: {offenders}"


def test_temp_views_only_where_a_catalog_name_is_the_point():
    """``catalog.register_views`` (the view-then-SQL entry point) and
    ``sql_parameterized_identifier`` (``IDENTIFIER(:tbl)`` resolves a
    catalog name) are the only temp-view registrations."""
    call = "createOrReplaceTempView("
    sites = _occurrences(call)
    assert sites == {"catalog.py": 1, "operators/modern_sql.py": 1}, sites
    for fn in (register_views, sql_parameterized_identifier):
        assert call in inspect.getsource(fn), fn.__name__


def test_driver_rows_go_through_one_builder():
    offenders = _calls_outside_sources_batch("createDataFrame(")
    assert not offenders, f"createDataFrame( outside sources/batch.py: {offenders}"


def test_pins_go_through_the_registry():
    allowed = {
        "functions/ranks.py": inspect.getsource(persisted) + inspect.getsource(checkpointed),
        "streaming/processor.py": inspect.getsource(StreamProcessor.process_batch),
    }
    for call in (".persist(", ".cache(", ".localCheckpoint("):
        sites = _occurrences(call)
        offenders = {path: n for path, n in sites.items() if n != allowed.get(path, "").count(call)}
        assert not offenders, f"{call} outside the pin registry: {offenders}"


def _call_sites(name: str, *args: str) -> set[str]:
    """Files of the package, ``bench.py`` and ``scripts/`` that call
    ``name`` (with ``args`` as its leading literal arguments)."""
    root = pathlib.Path(__file__).resolve().parents[1]
    paths = [root / "bench.py", *root.glob("scripts/*.py")]
    paths += root.glob("spark_streaming_practicum_spark/**/*.py")
    return {
        path.relative_to(root).as_posix()
        for path in paths
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", getattr(node.func, "id", None)) == name
        and tuple(getattr(a, "value", None) for a in node.args[: len(args)]) == args
    }


def test_queries_run_through_the_runner():
    """``runner.run_query`` is the one path that materializes a query and
    releases its pins. ``scripts/scale_witness_r13.py`` also calls a
    release: besides the package's ``ranks`` it loads an older ``ranks``
    module from a git blob, whose pins only that module's own release
    frees."""
    runner = "spark_streaming_practicum_spark/runner.py"
    assert _call_sites("format", "noop") == {runner}
    witness = "scripts/scale_witness_r13.py"
    assert _call_sites("release_persisted_frames") == {runner, witness}
