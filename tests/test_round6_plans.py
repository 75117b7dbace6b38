"""Round-6 operator certificates: value-level invariants the oracles
can't see (they'd agree with a wrong-but-mirrored formula) plus the
session-memo sharing contract and one plan pin.

Each test uses built_query (shared lazy plan cache) unless it asserts
plan shape under specific conf — see the _PLAN_CACHE contract note in
conftest.py.
"""

from __future__ import annotations

from tests.conftest import SF_DIR, built_query


# --- dedup-family session memo -------------------------------------------------


def test_session_memo_shares_frames_across_queries(spark):
    """dedup_simhash and dedup_minhash_lsh must resolve the cert slice
    to the SAME memoized object."""
    from spark_streaming_practicum_spark.functions import ranks

    sh_rows = built_query("dedup_simhash", spark).collect()
    memo_after_simhash = dict(ranks._memo)
    mh_rows = built_query("dedup_minhash_lsh", spark).collect()
    # same slice object reused, not rebuilt
    for key, frame in memo_after_simhash.items():
        assert ranks._memo.get(key) is frame
    # both queries emit the identical sampled exact pair set
    assert sorted((r.doc_a, r.doc_b, r.jaccard) for r in sh_rows) == sorted(
        (r.doc_a, r.doc_b, r.jaccard) for r in mh_rows
    )
    # and the certificates are green
    assert all(r.simhash_precision_exact and r.simhash_recall_ge_80pct for r in sh_rows)
    assert all(r.lsh_precision_exact and r.lsh_recall_ge_90pct for r in mh_rows)


# --- classical stats invariants --------------------------------------------------


def test_mcnemar_discordant_bounded_by_users(spark):
    row = built_query("stats_mcnemar_paired", spark).collect()[0]
    assert row.n_first_only + row.n_last_only <= row.n_users
    assert row.mcnemar_chi2 >= 0.0


def test_mantel_haenszel_or_positive(spark):
    row = built_query("stats_mantel_haenszel_or", spark).collect()[0]
    assert row.n_strata == 5
    assert row.sum_ad_over_n > 0 and row.sum_bc_over_n > 0
    assert row.or_mh > 0


def test_runs_test_run_count_bounds(spark):
    """1 <= R <= n1 + n2, and R can exceed 2*min(n1,n2)+1 never."""
    row = built_query("stats_runs_test_daily", spark).collect()[0]
    n1, n2, r = row.n_above, row.n_below, row.n_runs
    assert 1 <= r <= n1 + n2
    assert r <= 2 * min(n1, n2) + 1


def test_kendall_tau_bounds(spark):
    row = built_query("ts_kendall_tau_daily", spark).collect()[0]
    assert -1.0 <= row.tau_b <= 1.0
    assert row.concordant + row.discordant <= row.n_pairs


def test_mmd_null_hypothesis_near_zero(spark):
    """Both halves draw from the SAME value distribution, so the
    linear-time MMD^2 must sit near its null value of 0. The linear
    estimator's variance is O(1/m) (|h| <= 2 per block), so the band
    scales with the block count — 0.10 at 219 blocks is sampling
    noise, 0.10 at 100k blocks would be a bug."""
    row = built_query("drift_mmd_linear_paired", spark).collect()[0]
    assert row.n_blocks > 0
    assert abs(row.mmd2_linear) < 3.0 / row.n_blocks**0.5


def test_page_hinkley_nonnegative_prefix_min(spark):
    rows = built_query("ts_page_hinkley_drift", spark).collect()
    assert all(r.ph_stat >= 0.0 for r in rows)
    # the first day's cum equals its own running min => PH exactly 0
    assert rows[0].ph_stat == 0.0


def test_hurst_sane_band(spark):
    """R/S Hurst on a finite i.i.d.-ish daily series lands in (0, 1.2)
    — far outside means the block/deviation arithmetic broke."""
    row = built_query("ts_hurst_rescaled_range", spark).collect()[0]
    assert 0.0 < row.hurst < 1.2
    assert row.rs_w5 > 0 and row.rs_w10 > 0 and row.rs_w15 > 0


# --- eval metric invariants -------------------------------------------------------


def test_bleu2_components_bounded(spark):
    row = built_query("eval_bleu2_corpus", spark).collect()[0]
    assert 0.0 <= row.p1 <= 1.0 and 0.0 <= row.p2 <= 1.0
    assert 0.0 < row.brevity_penalty <= 1.0
    # geometric mean of precisions times BP <= max precision
    assert row.bleu2 <= max(row.p1, row.p2) + 1e-9


def test_chrf2_recall_weighting(spark):
    """chrF2 = 5PR/(4P+R) must land between min(P,R) and max(P,R)."""
    rows = built_query("eval_chrf2_pairs", spark).collect()
    assert rows
    for r in rows:
        lo, hi = sorted((r.chrf_p, r.chrf_r))
        assert lo - 1e-9 <= r.chrf2 <= hi + 1e-9


def test_cer_consistent_with_lengths(spark):
    rows = built_query("eval_cer_pairs", spark).collect()
    assert rows
    for r in rows:
        assert r.edit_distance >= 0 and r.len_ref > 0
        assert abs(r.cer - round(r.edit_distance / r.len_ref, 6)) < 1e-9


def test_dpo_accuracy_bounded(spark):
    row = built_query("rlhf_dpo_implicit_reward", spark).collect()[0]
    assert row.n_pairs > 0
    assert 0.0 <= row.dpo_accuracy <= 1.0


# --- graph / governance ------------------------------------------------------------


def test_katz_floor_and_attenuation(spark):
    """Every node scores >= 1 (the constant injection); nodes with
    in-edges score strictly above it."""
    rows = built_query("graph_katz_centrality", spark).collect()
    assert len(rows) == 25
    assert all(r.katz >= 1.0 for r in rows)
    assert any(r.katz > 1.0 for r in rows)


def test_dp_topk_shape_and_plan(spark):
    """Exactly 5 dense ranks, and the selection must plan as a
    top-k (TakeOrderedAndProject), never a full sort."""
    from spark_streaming_practicum_spark.registry import all_queries

    df = all_queries()["privacy_dp_topk_exponential"].fn(spark, SF_DIR)
    rows = df.collect()
    assert [r.rk for r in rows] == [1, 2, 3, 4, 5]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
