"""Property tests for the modern-SQL pack's non-oracle-able entry
(theta sketch estimates) — the oracle-able seven are covered by
test_oracle_parity.py automatically — and a pin on the SQL script's
build jobs."""

from __future__ import annotations

from spark_streaming_practicum_spark.catalog import table
from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR, job_count


def test_theta_estimates_within_error_bound(spark, oracle_con):
    rows = {
        r["event_type"]: r["approx_users"]
        for r in all_queries()["sketch_theta_distinct"].fn(spark, SF_DIR).collect()
    }

    exact_per_type = dict(
        oracle_con.execute(
            "SELECT event_type, COUNT(DISTINCT user_id) FROM events GROUP BY event_type"
        ).fetchall()
    )
    exact_union = oracle_con.execute(
        "SELECT COUNT(DISTINCT user_id) FROM events"
    ).fetchone()[0]
    exact_overlap = oracle_con.execute(
        """
        SELECT COUNT(*) FROM (
            SELECT user_id FROM events WHERE event_type = 'view'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase')
        """
    ).fetchone()[0]

    # Theta default lgK=12 (4096 buckets) -> exact below ~4k distinct,
    # and within a few percent far beyond; 5% is a conservative gate.
    def close(approx, exact):
        return abs(approx - exact) <= max(2.0, 0.05 * exact)

    for et, exact in exact_per_type.items():
        assert close(rows[et], exact), (et, rows[et], exact)
    assert close(rows["__union_all__"], exact_union)
    assert close(rows["__view_and_purchase__"], exact_overlap)


def test_scripting_loop_reads_orders_once(spark):
    """The script sets the mean order price once and loops on the
    variable. Building it runs the script: 31 jobs at sf0.001 through
    sf0.1 (the average, the loop's statements and the final query; the
    orders frame comes from ``catalog.table``, whose schema is memoized).
    A WHILE condition that re-scans orders raises the count with every
    iteration."""
    table(spark, SF_DIR, "orders")
    jobs = job_count(spark, lambda: all_queries()["sql_scripting_control_flow"].fn(spark, SF_DIR))
    assert jobs <= 31, f"sql_scripting_control_flow build ran {jobs} jobs"
