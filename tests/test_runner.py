"""The query runner: its job counts see stream drains, and it releases
every query's pins, so a run plans the same whatever ran before it."""

from __future__ import annotations

import re

from spark_streaming_practicum_spark.catalog import TABLES, table
from spark_streaming_practicum_spark.plans import formatted_plan
from spark_streaming_practicum_spark.registry import all_queries
from spark_streaming_practicum_spark.runner import run_query

from .conftest import SF_DIR, job_count, release_pins


def test_stream_drain_jobs_are_counted(spark):
    """``stream_tws_event_counts`` drains its stream while it builds. The
    micro-batch runs on the stream's own thread, where a job group set
    on the caller's thread does not see it."""
    fn = all_queries()["stream_tws_event_counts"].fn
    run, _ = run_query(spark, fn, SF_DIR, lambda df: None)
    assert run.build_jobs >= 1, run
    assert job_count(spark, lambda: fn(spark, SF_DIR)) >= 1


def test_released_runs_plan_and_count_alike(spark):
    """Built and run twice with no release in between,
    ``ab_permutation_test``'s second plan (formatted before execution)
    reads the first run's pinned frame and carries two character folds.
    Each run through the runner is released: both plan the one fold and
    run the same jobs in every layer. The table schemas are memoized
    first, so neither run pays a schema inference job."""
    release_pins()
    for t in TABLES:
        table(spark, SF_DIR, t)

    def folds_then_rows(df):
        folds = len(re.findall(r"\baggregate\(split\(", formatted_plan(df)))
        df.collect()
        return folds

    fn = all_queries()["ab_permutation_test"].fn
    (first, folds1), (second, folds2) = (
        run_query(spark, fn, SF_DIR, folds_then_rows) for _ in range(2)
    )
    assert (folds1, folds2) == (1, 1)
    jobs = [(r.build_jobs, r.plan_jobs, r.exec_jobs) for r in (first, second)]
    assert jobs[0] == jobs[1], jobs
