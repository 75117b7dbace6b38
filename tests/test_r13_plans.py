"""Round-13 optimization plan-shape pins.

Each test freezes the structural property a round-13 rework bought, so
a regression shows up as a plan diff rather than a silent slowdown.
"""

import re

from spark_streaming_practicum_spark.plans import formatted_plan
from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR

DEFS = all_queries()


def test_rfm_single_rank_pass(spark):
    """Round 13 melted the three quartile metrics into ONE ranking pass:
    the plan must carry exactly one range-partitioning exchange (the
    shared global_row_number call), not three — and still never a
    single-partition window."""
    df = DEFS["rfm_customer_segments"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, plan[:3000]
    # One rank pass <=> exactly one checkpointed rank frame feeds the
    # query (the helper's lazy localCheckpoint leaf). Pre-rework each
    # of the three metrics ranked separately (three distinct leaves).
    ckpt_ids = set(re.findall(r"MapPartitionsRDD\[(\d+)\] at localCheckpoint", plan))
    assert len(ckpt_ids) == 1, (
        f"expected one rank-pass checkpoint leaf, saw {sorted(ckpt_ids)}"
    )


def test_ab_permutation_single_char_fold(spark):
    """Round 13 prefix-factored the replicate hashes: exactly ONE
    interpreted character-fold (the user-id digits) may survive in the
    plan — pre-rework each of the 50 replicates re-folded the prefixed
    string per referencing aggregate. The melt's explode must be
    present (narrow aggregate instead of the 201-buffer wide one)."""
    df = DEFS["ab_permutation_test"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    n_folds = len(re.findall(r"\baggregate\(split\(", plan))
    assert n_folds <= 1, f"expected <=1 char fold, saw {n_folds}"
    assert "Generate explode" in plan or "Expand" in plan or "explode" in plan, (
        "melt explode missing from plan"
    )


def test_cc_dedup_plans_stay_truncated(spark):
    """Round 13 checkpoint-truncated the CC label loop's lineage: the
    composed cluster queries carried ~12,000-line physical plans (the
    full shingle/jaccard subtree re-embedded per round). Keep them leaf
    -scan sized; a persist slipping back in regresses this 50x."""
    for name in (
        "dedup_cluster_representatives",
        "dedup_cluster_quality_representative",
    ):
        df = DEFS[name].fn(spark, SF_DIR)
        n_lines = formatted_plan(df).count("\n")
        assert n_lines < 1500, f"{name}: plan re-inflated to {n_lines} lines"


def test_topo_layers_bellman_optimality(spark):
    """Certificate for the round-13 path-doubling rewrite: the layer
    assignment must satisfy the longest-path Bellman conditions on the
    actual DAG — layer(v) = 0 for roots, and for every node with
    incoming edges layer(v) = max over edges (s, v) of layer(s) + 1.
    These equations have a unique solution on a DAG, so passing them
    proves the log-depth doubling computed the same fixpoint the
    one-hop-per-round loop did."""
    from pyspark.sql import functions as F

    from spark_streaming_practicum_spark.catalog import table as cat_table

    layers = {
        r["nationkey"]: r["layer"]
        for r in DEFS["graph_topo_layers"].fn(spark, SF_DIR).collect()
    }
    li = cat_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    o = cat_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    c = cat_table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey")
    s = cat_table(spark, SF_DIR, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") < F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
        .collect()
    )
    incoming: dict[int, list[int]] = {}
    for e in edges:
        incoming.setdefault(e["dst"], []).append(e["src"])
    assert layers, "no layers produced"
    for v, lay in layers.items():
        if v not in incoming:
            assert lay == 0, f"root {v} must be layer 0, got {lay}"
        else:
            want = max(layers[s_] for s_ in incoming[v]) + 1
            assert lay == want, f"node {v}: layer {lay} != bellman {want}"


def test_gbdt_stump_job_count_pinned(spark):
    """Round 13 pinned gbdt's stump frames with lazy localCheckpoint
    (119 -> 18 jobs). Each frame is first materialized by the collect of
    a broadcast exchange, which fires its checkpoint only because Spark
    4.1 runs broadcast collects as ordinary jobs. If a Spark upgrade or a
    persist slipping back in breaks that coupling, every round re-executes
    the stump lineage and the job count drifts; count the jobs of one
    build + collect under a job group to catch it."""
    sc = spark.sparkContext
    group = "pin-gbdt-stump-jobs"
    sc.setJobGroup(group, "gbdt_stump_boosting job-count pin")
    try:
        DEFS["gbdt_stump_boosting"].fn(spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 18, f"gbdt_stump_boosting ran {len(jobs)} jobs, expected 18"
