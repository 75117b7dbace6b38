"""Query workload: a fixed list of oracle-backed registered queries over
seeded generated tables, run in a closed loop by one client. Each query is
timed in three layers: build (calling the registered function, which for
some operators runs eager driver jobs), plan (Catalyst's ``executedPlan``)
and execute (materialization into the ``noop`` sink). Results are checked
against the queries' DuckDB oracles outside the timed region.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

from perfbench.harness import log

# One build-heavy query (its DataFrame construction runs eight driver jobs)
# and three execute-heavy ones (one lazy plan each: an aggregation, the
# TPC-H Q4 semi-join, a windowed top-k). Sized so a run fits the budget.
EAGER = ("ml_dbscan_grid_clusters",)
LAZY = ("agg_pricing_summary", "q4_order_priority", "window_topk_per_group")
MIX = EAGER + LAZY
TABLE_SCALE = 0.005


@dataclass
class QueryRun:
    name: str
    build_s: float
    plan_s: float
    exec_s: float
    cpu_s: float  # CPU time of the whole process tree during the three layers

    @property
    def wall_s(self) -> float:
        return self.build_s + self.plan_s + self.exec_s


@dataclass
class MixResult:
    runs: list[QueryRun] = field(default_factory=list)
    errors: dict[str, str] = field(default_factory=dict)
    last_frames: dict = field(default_factory=dict)


def release(spark) -> None:
    """Between queries, drop cached frames the way a long-lived session
    must (``functions.ranks.release_persisted_frames``)."""
    from spark_streaming_practicum_spark.functions.ranks import release_persisted_frames

    spark.catalog.clearCache()
    release_persisted_frames()


def run_query(spark, defs, name: str, table_dir: Path, hooks=None) -> tuple[QueryRun, object]:
    """Build, plan and execute one query; ``hooks`` (a tracer) brackets
    each layer call."""
    enter = hooks.enter if hooks else (lambda *a: None)
    leave = hooks.leave if hooks else (lambda *a: None)
    from perfbench.harness import process_cpu_s

    cpu0 = process_cpu_s()
    enter(name, "build")
    t0 = time.perf_counter()
    df = defs[name].fn(spark, str(table_dir))
    t1 = time.perf_counter()
    leave(name, "build", df)
    enter(name, "plan")
    t2 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t3 = time.perf_counter()
    leave(name, "plan", df)
    enter(name, "exec")
    t4 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t5 = time.perf_counter()
    leave(name, "exec", df)
    return QueryRun(name, t1 - t0, t3 - t2, t5 - t4, process_cpu_s() - cpu0), df


def run_mix(spark, table_dir: Path, names, budget_s: float, min_passes: int = 1,
            hooks=None) -> MixResult:
    """Repeat passes over ``names`` until ``budget_s`` has elapsed (a pass
    in progress completes)."""
    from spark_streaming_practicum_spark.registry import all_queries

    defs = all_queries()
    out = MixResult()
    t_start = time.perf_counter()
    passes = 0
    # Start another pass only while it is expected to end within budget.
    while passes < min_passes or (
        time.perf_counter() + (time.perf_counter() - t_start) / passes <= t_start + budget_s
    ):
        for name in names:
            try:
                run, df = run_query(spark, defs, name, table_dir, hooks)
                out.runs.append(run)
                out.last_frames[name] = df
                log(f"pass {passes + 1} {name}: build {run.build_s:.3f} plan {run.plan_s:.3f} "
                    f"exec {run.exec_s:.3f} s wall, {run.cpu_s:.2f} CPU-s")
            except Exception as exc:  # a query that raises is a failed operation
                out.errors[name] = repr(exc)[:300]
            if hooks:
                hooks.sample_pins(spark)
            release(spark)
        passes += 1
    return out


# ------------------------------------------------------------ oracle check


def _canon_cell(v):
    """(kind, value) so an int never equals a float; floats to 9 dp."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return ("null",)
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, (float, np.floating)):
        return ("f", round(float(v), 9))
    if isinstance(v, (pd.Timestamp, datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("t", ts.isoformat())
    if isinstance(v, date):
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(_canon_cell(x) for x in v))
    return ("s", str(v))


def canon_rows(columns, rows) -> tuple[list[str], list]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [tuple(_canon_cell(row[i]) for i in order) for row in rows]
    return [columns[i] for i in order], sorted(canon, key=repr)


def oracle_connection(table_dir: Path):
    import duckdb

    from perfbench.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir / t}.parquet')")
    return con


def check_results(frames: dict, defs, con, expect_override: dict | None = None) -> dict[str, str]:
    """Compare each query's collected result with its DuckDB oracle;
    returns mismatch descriptions by query name. ``expect_override``
    replaces an oracle's rows (the benchmark's own gate test uses it)."""
    import pandas as pd

    bad = {}
    for name, df in frames.items():
        # Both sides go through pandas, as the engine's parity tests do, so
        # a nullable integer column gets the same dtype treatment on each.
        spdf = pd.DataFrame([tuple(r) for r in df.collect()], columns=list(df.columns))
        got = canon_rows(list(spdf.columns), list(spdf.itertuples(index=False, name=None)))
        if expect_override and name in expect_override:
            want = canon_rows(list(df.columns), expect_override[name])
        else:
            pdf = con.execute(defs[name].oracle).df()
            want = canon_rows(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))
        if got != want:
            bad[name] = f"columns {got[0]} vs {want[0]}, rows {len(got[1])} vs {len(want[1])}"
    return bad
