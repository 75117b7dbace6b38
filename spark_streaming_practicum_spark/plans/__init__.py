"""Plan inspection helpers — the feedback loop for scale tuning.

Used by tests to assert physical-plan properties that matter at 100 TB:
filters pushed to the parquet scan, broadcast joins where intended,
whole-stage codegen coverage.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def _node_count(df: DataFrame, node: str) -> int:
    # formatted explain lists each node twice (tree + "(n) Node" detail);
    # count only the numbered detail headers.
    return len(re.findall(rf"^\(\d+\) {node}", formatted_plan(df), flags=re.M))


def broadcast_join_count(df: DataFrame) -> int:
    return _node_count(df, "BroadcastHashJoin")


def executed_plan(df: DataFrame) -> str:
    """String of the EXECUTED physical plan (runs the query) — the only
    reliable place to see AQE's final plan and codegen stages."""
    df.collect()  # must execute THIS plan's QueryExecution for AQE's final plan
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Distinct codegen stage ids in the executed plan (Spark marks
    codegen'd operators with `*(n)` rather than a WholeStageCodegen node
    in plan strings)."""
    return len(set(re.findall(r"\*\((\d+)\)", executed_plan(df))))
