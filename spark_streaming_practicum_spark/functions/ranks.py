"""Distributed global-ranking primitives.

A ``row_number()``/``ntile()`` window with ORDER BY but no PARTITION BY
plans a single-partition WindowExec: every row in the relation moves to
ONE task, which is the canonical cluster-scale bottleneck (Spark even
logs "No Partition Defined for Window operation" at runtime). The exact
same total order can be produced with every pass fully parallel:

1. range-partition on the sort key, so partition *i* holds strictly
   smaller keys than partition *i+1* (ties stay together; callers pass a
   tie-breaking column so the order is total);
2. count rows per partition — a P-row aggregate whose result (P
   integers) is the only driver-side state — and turn the counts into
   cumulative offsets, broadcast back as a P-row ``local_frame``
   (a ``LocalTableScan``: the merge step costs what its P rows cost,
   with no Python-worker scan);
3. global rank = offset + partition-local ``row_number`` (the local
   window needs no exchange: the data is already partitioned by range).

This is the DataFrame form of RDD ``zipWithIndex`` and the plan that
``training.ids_contiguous_global`` pins in its plan-shape test; the
helpers here share it with every operator that needs a global total
order (equi-depth histograms, RFM quartiles, ...).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.batch import local_frame

# Persisted intermediates must outlive the helper call (the returned
# plan reads them when the CALLER materializes it), so they cannot be
# unpersisted before returning. Operator persists routed through
# ``persisted`` are bounded here: a FIFO of live persisted frames. Each
# new invocation evicts the oldest entries beyond the cap, so a
# 350+-query sweep accumulates at most _MAX_LIVE cached frames instead
# of hundreds. The cap is generous vs. the heaviest composite caller
# (rfm_customer_segments persists four frames per invocation), so a
# query's own frames are never evicted before its output materializes —
# and even if they were, the plan recomputes, losing only speed.
#
# The rank helpers below (global_row_number and the cumulative sums) no
# longer persist: they pin with ``localCheckpoint(eager=False)``, which
# this FIFO does not track. Those blocks are freed only when the JVM
# garbage-collects the checkpointed RDD, so release_persisted_frames()
# and _MAX_LIVE do NOT bound their storage in a long-lived session.
_live_persisted: list[DataFrame] = []
_MAX_LIVE = 8


def _track_persisted(df: DataFrame) -> DataFrame:
    _live_persisted.append(df)
    while len(_live_persisted) > _MAX_LIVE:
        _live_persisted.pop(0).unpersist(blocking=False)
    return df


def persisted(df: DataFrame) -> DataFrame:
    """Chain-friendly ``df.persist()`` routed through the bounded FIFO —
    ``df.transform(persisted)`` instead of ``df.persist()``.

    Operator-level persists used to rely on the bench/driver clearing
    caches between queries; in a LONG-LIVED session a multi-query sweep
    would accumulate storage memory without bound (round-3 advice).
    Routing every operator persist here caps live cached frames at
    ``_MAX_LIVE``; evicting a frame an un-materialized plan still
    references merely recomputes it (speed, not correctness). Frames a
    query unpersists itself (iterative loops) may be evicted again —
    ``unpersist`` on a cold frame is a no-op, so double release is
    harmless."""
    return _track_persisted(df.persist())


def unpersist_tracked(df: DataFrame) -> None:
    """Unpersist a frame AND remove it from the FIFO's live list.

    Iterative loops that release a superseded frame with a bare
    ``df.unpersist()`` leave its (dead) entry occupying a FIFO slot, so
    a loop of r rounds pushes r dead entries and evicts frames the
    query STILL NEEDS (e.g. the edge frame a connected-components loop
    re-joins every round) — each later round then recomputes that
    lineage from scratch. Caught by bench --compare in round 4:
    dedup_cluster_representatives 2.1 s -> 5.8 s after the FIFO
    routing; this restores the loop's cache behavior while keeping the
    bounded-cache policy for frames nobody releases."""
    df.unpersist(blocking=False)
    try:
        _live_persisted.remove(df)
    except ValueError:
        pass


def release_persisted_frames() -> None:
    """Drop every helper-persisted frame (test/bench teardown hook)."""
    while _live_persisted:
        _live_persisted.pop().unpersist(blocking=False)


def _with_local_rank(
    df: DataFrame, order_exprs: list[Column], partitions: int
) -> DataFrame:
    """Range-partition + in-partition sort + 1-based LOCAL row index.

    The local index comes from ``monotonically_increasing_id`` (the
    documented layout: partition id in the high bits, a 0-based
    sequential counter in the low 33 bits), projected ABOVE the
    explicit ``sortWithinPartitions`` — both expressions are
    non-deterministic, so Catalyst may not push the projection below
    the sort. Compared to the previous
    ``row_number() OVER (PARTITION BY _pid)`` formulation this removes
    an entire full-width ``Exchange hashpartitioning(_pid)`` + second
    sort of the data (round-12 finding: hashing P distinct _pid values
    into P partitions also collides ~1/e of them — the guide's
    synthetic-key skew). Limit: < 2^33 rows per partition (8.5B; a
    ~1 GB-bounded shuffle partition can never reach it)."""
    return (
        df.repartitionByRange(partitions, *order_exprs)
        .sortWithinPartitions(*order_exprs)
        .select(
            "*",
            F.spark_partition_id().alias("_pid"),
            (
                F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
                + 1
            ).alias("_lrn"),
        )
    )


def global_row_number(
    df: DataFrame,
    order_exprs: list[Column],
    rn_name: str = "global_rn",
    partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """``df`` + a 1-based global ROW_NUMBER() by ``order_exprs``.

    Returns (frame, total_row_count); the count is a by-product of the
    offset pass, so callers needing N (e.g. ntile) pay no extra job.
    ``order_exprs`` must define a TOTAL order (include a unique
    tie-break column) and may use ``.desc()`` — the same expressions
    drive both the range partitioner and the partition-local sort.

    The driver-side state is P integers plus the blocking collect that
    produces them. Round 12 built and measured a collect-free variant
    (offsets as an in-DAG triangular broadcast join over the ≤P-row
    count frame) and REJECTED it (job counts up, 4 of 5 wired queries
    slower — see OPTIMIZATION_r12.md §6); a pin-free version is not
    even correct, because ``repartitionByRange`` draws its boundaries
    from a sample seeded by the RDD id, so a count branch and an output
    branch that execute the exchange separately can disagree on the
    partitioning (measured in r12: wrong xicor statistics whenever
    column pruning kept ReusedExchange from unifying the branches).

    Round 13: the pin is a LAZY ``localCheckpoint`` instead of a
    persist. Same single materialization (the offset collect is still
    the first action — lazy checkpoint adds no job), same frozen
    boundaries, but (a) the lineage is TRUNCATED, so every consumer
    re-plans a leaf scan instead of the full upstream subtree
    (theil-sen's physical plan: 5,556 → 130 lines; xicor 1,011 → 151;
    family job counts down 1-3), and (b) the pin cannot silently
    degrade: a persist evicted under memory pressure would recompute
    the exchange with RESAMPLED boundaries on one branch — the exact
    r12 wrong-results mode — while a checkpointed frame has no lineage
    to recompute from. Interleaved min-merge A/B at sf0.1 measured the
    swap wall-clock flat (geomean 1.01; biggest plans fastest: theil
    0.90×, xicor 0.93×).
    """
    spark = df.sparkSession
    P = partitions or spark.sparkContext.defaultParallelism
    d = _with_local_rank(df, order_exprs, P).localCheckpoint(eager=False)
    sizes = {
        r["_pid"]: r["n"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off = local_frame(spark, offsets or [(0, 0)], "_pid int, _off long")
    out = (
        d.join(F.broadcast(off), "_pid")
        .withColumn(rn_name, F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_off", "_lrn")
    )
    return out, acc


def ntile_from_rank(rank: Column, n: int, k: int) -> Column:
    """SQL-standard NTILE(k) from a 1-based global rank over n rows.

    With q = n div k and r = n mod k, the first r buckets hold q+1 rows
    — identical to Spark's and DuckDB's window NTILE, so results stay
    oracle-comparable while the assignment is a map-side expression.
    """
    q, r = divmod(n, k)
    head = r * (q + 1)
    first = (F.floor((rank - 1) / (q + 1)) + 1).cast("int")
    if q == 0:
        return first
    rest = (F.floor((rank - head - 1) / q) + r + 1).cast("int")
    return F.when(rank <= head, first).otherwise(rest)


def global_cumulative_sums(
    df: DataFrame,
    order_exprs: list[Column],
    sum_cols: list[str],
    partitions: int | None = None,
) -> DataFrame:
    """Running ``SUM(col) OVER (ORDER BY ...)`` for each ``sum_cols``
    entry, without the single-partition window: the same two-pass
    range-partition scheme as ``global_row_number``, generalized from
    counting rows to prefix-summing arbitrary (exact-typed) columns.
    Driver-side state is P partial-sum rows. Output columns are named
    ``cum_<col>``.

    A single-exchange quantile-bucket variant was built, verified and
    REJECTED on measurement in round 12 (1.45–2.1× slower at sf0.1:
    the boundary sketch is an extra blocking action and the family is
    action-count-bound — see OPTIMIZATION_r12.md §7). Two reusable
    Catalyst lessons from that rejection: (a) a large CASE/expression
    tree inlined into a JOIN KEY sends constraint inference exponential
    — materialize such columns into a pinned frame first; (b) an
    array-literal + HOF ``filter`` assignment is interpreted, ~4·P
    lambda calls per row per consumer.

    Round 13: the boundary pin is a lazy ``localCheckpoint`` (same
    rationale and A/B as ``global_row_number`` above: no extra job,
    truncated lineage for every consumer, and the pin cannot be
    evicted into a boundary-resampling recompute)."""
    spark = df.sparkSession
    P = partitions or spark.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(P, *order_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    from decimal import Decimal, localcontext

    partial_df = d.groupBy("_pid").agg(*[F.sum(c).alias(c) for c in sum_cols])
    # offsets carry each summed column's OWN result type (long for ints,
    # decimal for decimal sums, double for floats)
    sum_types = dict(partial_df.dtypes)
    partials = {r["_pid"]: r for r in partial_df.collect()}

    def _zero(c: str):
        t = sum_types[c]
        if t.startswith("decimal"):
            return Decimal(0)
        return 0.0 if t == "double" else 0

    offsets, acc = [], {c: _zero(c) for c in sum_cols}
    # A decimal(38,s) offset has up to 38 digits; Python's default
    # context keeps 28 and would round the rest away.
    with localcontext() as ctx:
        ctx.prec = 2 * 38
        for pid in sorted(partials):
            offsets.append((pid, *[acc[c] for c in sum_cols]))
            for c in sum_cols:
                acc[c] += partials[pid][c] or _zero(c)
    schema = "_pid int, " + ", ".join(
        f"_off_{c} {sum_types[c]}" for c in sum_cols
    )
    off = local_frame(
        spark, offsets or [(0, *[_zero(c) for c in sum_cols])], schema
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = d.join(F.broadcast(off), "_pid")
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", F.col(f"_off_{c}") + F.sum(c).over(w))
    return out.drop("_pid", *[f"_off_{c}" for c in sum_cols])
