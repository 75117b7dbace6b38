"""One query runner: build, plan, consume and release a registered query.

``run_query`` times three layers and counts the Spark jobs each runs:
build (the query function, which may run eager driver jobs such as a
stream drain), plan (``executedPlan``) and exec (``consume(df)``, the
noop sink by default). Then it releases every pin the query made
(``functions.ranks.release_persisted_frames``), so a long session holds
none: ``consume`` must be done with the frame when it returns.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import asdict, dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .functions.ranks import release_persisted_frames


@dataclass(frozen=True)
class QueryRun:
    build_s: float
    plan_s: float
    exec_s: float
    build_jobs: int
    plan_jobs: int
    exec_jobs: int

    @property
    def wall_s(self) -> float:
        return self.build_s + self.plan_s + self.exec_s

    def record(self) -> dict:
        """The run as a JSON-ready dict, seconds rounded to the ms."""
        return {k: round(v, 3) if k.endswith("_s") else v for k, v in asdict(self).items()}


def _jobs_submitted(spark: SparkSession) -> int:
    # The scheduler's job-id counter, not a job group: Structured Streaming
    # runs each micro-batch of a stream drain as ordinary jobs on the
    # stream's own thread, under the stream's own group, so a job group
    # set on this thread never sees them.
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()  # noqa: SLF001


def count_jobs(spark: SparkSession, fn: Callable[[], Any]) -> tuple[Any, int]:
    """``fn()`` and the number of Spark jobs submitted while it ran.
    Raises if a stream is already active: its jobs would be counted too."""
    active = spark.streams.active
    if active:
        raise RuntimeError(f"cannot count jobs while streams run: {[q.name for q in active]}")
    first = _jobs_submitted(spark)
    out = fn()
    return out, _jobs_submitted(spark) - first


def _layer(spark: SparkSession, fn: Callable[[], Any]) -> tuple[Any, float, int]:
    start = time.perf_counter()
    out, jobs = count_jobs(spark, fn)
    return out, time.perf_counter() - start, jobs


def noop(df: DataFrame) -> None:
    """Execute ``df`` in full into the noop sink, with no driver-side collect."""
    df.write.mode("overwrite").format("noop").save()


def run_query(
    spark: SparkSession,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
    consume: Callable[[DataFrame], Any] = noop,
) -> tuple[QueryRun, Any]:
    """Build ``fn(spark, sf_dir)``, plan it, pass it to ``consume`` and
    release its pins; returns the layer record and what ``consume``
    returned."""
    try:
        df, build_s, build_jobs = _layer(spark, lambda: fn(spark, sf_dir))
        _, plan_s, plan_jobs = _layer(spark, df._jdf.queryExecution().executedPlan)  # noqa: SLF001
        out, exec_s, exec_jobs = _layer(spark, lambda: consume(df))
    finally:
        release_persisted_frames()
    return QueryRun(build_s, plan_s, exec_s, build_jobs, plan_jobs, exec_jobs), out
