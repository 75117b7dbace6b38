"""Guards of the two-pass global ranking (functions/ranks.py): the
mono-id local index is bit-equivalent to a reference ``row_number()``
window, the plan stays free of the shapes the rework removed (Window
operator; the full-width hashpartitioning(_pid) exchange that fed it),
cumulative decimal offsets keep all 38 digits, and RFM ranks on exact
decimal sums."""

from __future__ import annotations

import re
from datetime import datetime
from decimal import Decimal

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_streaming_practicum_spark.catalog import table
from spark_streaming_practicum_spark.functions.ranks import (
    global_cumulative_sums,
    global_row_number,
)
from spark_streaming_practicum_spark.plans import formatted_plan
from spark_streaming_practicum_spark.sources.batch import local_frame

from .conftest import SF_DIR, release_pins


def _base(spark):
    return table(spark, SF_DIR, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("y"),
        F.col("l_quantity").alias("x"),
    )


_ORDER_COLS = ["y", "l_orderkey", "l_linenumber", "x"]


def _rank_map(df, rn_col):
    """(full row values) -> sorted list of assigned ranks."""
    out: dict = {}
    for r in df.collect():
        key = tuple(r[c] for c in _ORDER_COLS)
        out.setdefault(key, []).append(r[rn_col])
    return {k: sorted(v) for k, v in out.items()}


def test_mono_id_rank_matches_reference_window(spark):
    base = _base(spark)
    order = [F.col(c).asc() for c in _ORDER_COLS]
    ref = base.withColumn("rn", F.row_number().over(Window.orderBy(*order)))
    expected = _rank_map(ref, "rn")

    eager, n = global_row_number(base, order, rn_name="rn")
    assert _rank_map(eager, "rn") == expected
    assert n == sum(len(v) for v in expected.values())
    release_pins()


def test_rank_plan_avoids_removed_shapes(spark):
    base = _base(spark)
    order = [F.col(c).asc() for c in _ORDER_COLS]

    # Round 13: the helper pins the rank pass with a lazy
    # localCheckpoint, so the CONSUMER plan is a truncated leaf scan —
    # assert the removed shapes stay out of the pass itself on the
    # pre-checkpoint frame, and the truncation on the returned one.
    from spark_streaming_practicum_spark.functions.ranks import _with_local_rank

    P = spark.sparkContext.defaultParallelism
    pass_plan = formatted_plan(_with_local_rank(base, order, P))
    assert "Window" not in pass_plan, pass_plan[:3000]
    assert "monotonically_increasing_id" in pass_plan
    assert "rangepartitioning" in pass_plan

    eager, _ = global_row_number(base, order, rn_name="rn")
    eager_plan = formatted_plan(eager)
    assert "Window" not in eager_plan, eager_plan[:3000]
    assert "BroadcastHashJoin" in eager_plan
    # lineage truncated: consumers re-plan a leaf, not the rank subtree
    assert "at localCheckpoint" in eager_plan, eager_plan[:3000]
    release_pins()


def test_rank_project_stays_above_sort(spark):
    """If Catalyst ever pushed the mono-id projection below the
    in-partition sort, local indices would be assigned in pre-sort
    order and every rank would be garbage. Pin the operator order: in
    the plan tree the Project carrying monotonically_increasing_id
    renders ABOVE (parent of) the Sort."""
    from spark_streaming_practicum_spark.functions.ranks import _with_local_rank

    base = _base(spark)
    order = [F.col(c).asc() for c in _ORDER_COLS]
    # the projection/sort ordering lives inside the (checkpoint-pinned)
    # rank pass; assert on the pass plan, the consumer sees only a leaf
    plan = formatted_plan(
        _with_local_rank(base, order, spark.sparkContext.defaultParallelism)
    )
    release_pins()
    # operator ids from the numbered details section
    proj_ids = {
        m.group(1)
        for m in re.finditer(
            r"\((\d+)\) Project\b[^(]*?\nOutput[^\n]*monotonically_increasing_id",
            plan,
        )
    }
    sort_ids = {m.group(1) for m in re.finditer(r"\((\d+)\) Sort\b", plan)}
    assert proj_ids and sort_ids, plan[:3000]
    lines = plan.splitlines()
    first_proj = min(
        i
        for i, l in enumerate(lines)
        if any(re.search(rf"\bProject \({p}\)", l) for p in proj_ids)
    )
    first_sort = min(
        i
        for i, l in enumerate(lines)
        if any(re.search(rf"\bSort \({s}\)", l) for s in sort_ids)
    )
    assert first_proj < first_sort, (first_proj, first_sort)


def test_cumulative_decimal_offsets_keep_every_digit(spark):
    # 32 significant digits per running sum: more than the 28 that
    # Python's default decimal context keeps.
    v = Decimal("10000000000000000000000000.000001")
    base = local_frame(spark, [(k, v) for k in range(8)], "k int, v decimal(38,6)")
    out = global_cumulative_sums(base, [F.col("k")], ["v"], partitions=4)
    got = {r["k"]: r["cum_v"] for r in out.collect()}
    assert got == {
        k: Decimal(f"{(k + 1) * 10**25}.{k + 1:06d}") for k in range(8)
    }


def test_rfm_ranks_monetary_on_the_exact_sum(spark, tmp_path):
    """Customer 2's sum is 0.01 above customer 1's and both round to the
    same double: ranked on the double, c_custkey breaks the tie wrongly."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_streaming_practicum_spark.registry import all_queries

    assert 1e15 + 0.01 == 1e15
    pq.write_table(pa.table({"c_custkey": [1, 2]}), tmp_path / "customer.parquet")
    pq.write_table(pa.table({"o_custkey": [1, 2, 2], "o_totalprice": [1e15, 1e15, 0.01],
                             "o_orderdate": [datetime(1995, 1, 1)] * 3}), tmp_path / "orders.parquet")
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')")
    d = all_queries()["rfm_customer_segments"]
    got = sorted(tuple(r) for r in d.fn(spark, str(tmp_path)).collect())
    release_pins()
    assert got == sorted(con.execute(d.oracle).fetchall())
    assert [(r[0], r[3], r[6]) for r in got] == [(1, 1e15, 2), (2, 1e15, 1)]
