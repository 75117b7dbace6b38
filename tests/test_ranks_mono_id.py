"""Round-12 optimization guard: the mono-id local index inside the
two-pass global ranking must be bit-equivalent to a reference
``row_number()`` window, and the plan must stay free of the shapes the
rework removed (Window operator; the full-width hashpartitioning(_pid)
exchange that fed it).

A collect-free "lazy" sibling was built and rejected this round: a
persist-free version is WRONG (repartitionByRange bounds are
sample-seeded per execution, so independent count/output branches can
disagree on the partitioning), and the persist-retaining version
measured slower with higher job counts (every consumer re-plans the
in-DAG offset subtree). The eager helper's P-integer collect is the
cheap, correct design; these tests pin its invariants. The
cumulative-sum sibling's decimal offsets must keep all 38 digits.
"""

from __future__ import annotations

import re
from decimal import Decimal

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_streaming_practicum_spark.catalog import table
from spark_streaming_practicum_spark.functions.ranks import (
    global_cumulative_sums,
    global_row_number,
    release_persisted_frames,
)
from spark_streaming_practicum_spark.plans import formatted_plan
from spark_streaming_practicum_spark.sources.batch import local_frame

from .conftest import SF_DIR


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
    release_persisted_frames()


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
    release_persisted_frames()


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
    release_persisted_frames()
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
