"""Physical-plan assertions: the properties that decide whether a query
survives a 100x scale-up — filters reaching the parquet scan, dims
broadcast instead of shuffled, top-k planned as TakeOrdered (not a global
sort), and column pruning at the scan."""

from __future__ import annotations

from spark_streaming_practicum_spark.plans import (
    broadcast_join_count,
    formatted_plan,
    has_pushed_filters,
)
from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR

DEFS = all_queries()


def test_q1_filter_pushed_to_scan(spark):
    df = DEFS["agg_pricing_summary"].fn(spark, SF_DIR)
    assert has_pushed_filters(df), formatted_plan(df)[:2000]


def test_q1_column_pruning(spark):
    plan = formatted_plan(DEFS["agg_pricing_summary"].fn(spark, SF_DIR))
    # scan must not read columns the query never touches
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_broadcast_star_uses_broadcast_joins(spark):
    df = DEFS["join_broadcast_star"].fn(spark, SF_DIR)
    assert broadcast_join_count(df) == 3, formatted_plan(df)[:3000]


def test_q5_broadcasts_dims(spark):
    df = DEFS["join_q5_local_supplier"].fn(spark, SF_DIR)
    assert broadcast_join_count(df) >= 3


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = formatted_plan(DEFS["topk_global"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_q3_topk_is_take_ordered(spark):
    plan = formatted_plan(DEFS["join_q3_shipping_priority"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_use_dedicated_join_types(spark):
    semi = formatted_plan(DEFS["join_semi"].fn(spark, SF_DIR))
    anti = formatted_plan(DEFS["join_anti"].fn(spark, SF_DIR))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_scan_projection_only_needed_columns(spark):
    df = DEFS["limit_scan"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in read and "c_name" in read
    assert "c_acctbal" not in read and "c_mktsegment" not in read


def test_whole_stage_codegen_present(spark):
    from spark_streaming_practicum_spark.plans import wholestage_codegen_spans

    assert wholestage_codegen_spans(DEFS["agg_pricing_summary"].fn(spark, SF_DIR)) >= 1


def test_q1_two_phase_aggregation(spark):
    # partial (map-side) + final HashAggregate around one narrow Exchange —
    # the shape that keeps a 100 TB aggregate's shuffle |groups|-wide
    plan = formatted_plan(DEFS["agg_pricing_summary"].fn(spark, SF_DIR))
    import re
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, flags=re.M)) == 2


def test_q19_disjunction_pushed_to_both_scans(spark):
    """Q19's OR-of-ANDs: the per-side conjuncts (quantity bounds on
    lineitem, brand/size on part) must reach BOTH parquet scans as
    pushed data filters, and the join must broadcast the part side."""
    df = DEFS["q19_discounted_revenue"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert broadcast_join_count(df) >= 1
    assert plan.count("PushedFilters: [") >= 2
    import re
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_quantity" in p for p in pushed), pushed
    assert any("p_brand" in p or "p_size" in p for p in pushed), pushed


def test_q4_semi_join_with_non_equi_conjunct(spark):
    """EXISTS plans as a LeftSemi join carrying the date conjunct, with
    the order-date range pushed into the orders scan."""
    df = DEFS["q4_order_priority"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    import re
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in p for p in pushed), pushed


def test_q16_not_in_is_anti_join(spark):
    df = DEFS["q16_supplier_cnt_by_part"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan


def test_split_and_chunk_are_shuffle_free(spark):
    """The hash split is a pure projection: zero exchanges in the plan.
    Chunking only repartitions for scan parallelism (single-file input);
    no key shuffle beyond it."""
    split_plan = formatted_plan(DEFS["split_train_val_test"].fn(spark, SF_DIR))
    assert "Exchange" not in split_plan, split_plan[:800]
    chunk_plan = formatted_plan(DEFS["text_chunk_fixed_tokens"].fn(spark, SF_DIR))
    import re
    assert len(re.findall(r"^\(\d+\) Exchange", chunk_plan, flags=re.M)) <= 1


def test_contiguous_ids_avoid_single_partition_window(spark):
    """The two-pass zipWithIndex must never plan the naive global
    row_number's Exchange SinglePartition — that is the whole point."""
    plan = formatted_plan(DEFS["ids_contiguous_global"].fn(spark, SF_DIR))
    assert "SinglePartition" not in plan, plan[:3000]
    # the offset table rides a broadcast join, not a shuffle
    assert "BroadcastHashJoin" in plan


def test_scd2_windows_share_one_partitioning(spark):
    """Gaps-and-islands: every window pass and the island aggregation
    partition on user_id (or its subsets), so Catalyst plans exactly ONE
    exchange for the entire SCD2 reconstruction."""
    plan = formatted_plan(DEFS["scd2_user_state_history"].fn(spark, SF_DIR))
    tree = plan.split("(1) ")[0]  # node tree precedes the details section
    n_exchanges = sum(1 for line in tree.splitlines() if "Exchange" in line)
    assert n_exchanges == 1, tree


def test_embedding_cosine_dedup_has_no_nested_loop_join(spark):
    """Exact all-pairs cosine must run as blocked GEMM (grouped pandas over
    broadcast-fanned block pairs), never as a BroadcastNestedLoopJoin."""
    plan = formatted_plan(DEFS["dedup_embedding_cosine"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_phash_near_dup_uses_band_join_not_all_pairs(spark):
    """Perceptual-hash dedup must generate candidates through the 4-bit
    band equi-join — an all-pairs cartesian/nested-loop would defeat the
    blocking design."""
    plan = formatted_plan(DEFS["mm_phash_near_dup"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_injected_on_fact_scan(spark):
    """With creation thresholds at harness scale, the selective orders
    side must inject a bloom-filter probe into the lineitem side."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # injection only happens for probable SHUFFLE joins; at harness
        # scale the dim is broadcastable-by-size, so disable auto-broadcast
        # to reproduce the cluster-scale shape
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = formatted_plan(DEFS["join_runtime_bloom_filter"].fn(spark, SF_DIR))
        assert "bloom_filter" in plan.lower() or "might_contain" in plan.lower(), (
            plan[:3000]
        )
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                # get(k, None) returns None even for confs with built-in
                # defaults; unset restores the default instead of leaking
                # the override into every later test in the session
                spark.conf.unset(k)


# --- round-12 broadcast audit regression guard ------------------------------
#
# The round-11 verdict's one scale-killer was an unconditional broadcast
# of a VOCABULARY-sized table. The round-12 audit swept all ~300
# F.broadcast sites and removed the hint from every frame keyed by an
# open-domain entity (token / bigram / user / query / vector id — frames
# that grow without bound as the corpus grows). Schema-bounded dimension
# broadcasts (nation/region always; supplier/customer/part as the
# documented dim-broadcast pattern, e.g. join_broadcast_star) keep their
# hints. This test pins the fixed queries hint-free so the pattern
# cannot creep back: an explicit hint forces the broadcast at ANY size,
# while hint-free plans let AQE broadcast only while the frame fits.

# name -> exact count of strategy=broadcast hints that legitimately
# remain in the optimized plan (1-row scalars, lang-keyed frames,
# bounded block grids, the fixed N_QUERIES set). The de-hinted
# open-domain frame would raise the count by exactly the joins it
# re-hints, so an exact pin detects any creep-back.
_BOUNDED_HINTS_ONLY = {
    "sparse_cosine_pairs_topk": 0,     # token->df table + per-doc norms
    "text_tfidf_topk": 0,              # token->df table
    "ts_sax_motif_pairs": 0,           # per-user full-window list
    "ngram_draft_acceptance_rate": 0,  # per-prev-token draft table
    "nb_lang_classifier_eval": 3,      # de-hinted (vocab x langs) likelihoods; keeps lang/1-row frames
    "rlhf_dpo_implicit_reward": 2,     # de-hinted unigram/continuation counts; keeps scalars
    "doc_bigram_logprob": 1,           # de-hinted context (w1) counts; keeps the vocab scalar
    "dsir_importance_weights": 1,      # de-hinted target-token counts; keeps the stats row
    "curriculum_perplexity_stages": 1, # de-hinted bigram-type KN probs; keeps the totals row
    "eval_ndcg_at_k": 2,               # de-hinted per-qid IDCG; keeps the N_QUERIES frames
    "crosslingual_margin_mining": 2,   # de-hinted per-vector kNN means; keeps block grids
}


def test_no_broadcast_hint_on_open_domain_frames(spark):
    for name, expected in _BOUNDED_HINTS_ONLY.items():
        df = DEFS[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        got = plan.count("strategy=broadcast")
        assert got == expected, (
            f"{name}: {got} broadcast-hinted joins (expected {expected}) — "
            "an open-domain frame may have been re-hinted\n" + plan[:1500]
        )
