"""Driver-side rows become a ``LocalRelation`` (``sources.batch.local_frame``).

``spark.createDataFrame(list)`` plans its rows as a scan of a pickled
``PythonRDD``: every action on such a frame runs ``defaultParallelism``
tasks through Python workers. ``local_frame`` sends the same rows as an
Arrow table, which plans as a ``LocalTableScan``. These tests pin that
the values, the schema and the row checks are those of the list path,
and that no registered query that builds driver-side rows still scans a
Python RDD."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import types as T

from spark_streaming_practicum_spark.sources.batch import local_frame

from .conftest import built_query

_DDL = "i int, l bigint, d double, m decimal(38,6), s string"
_ROWS = [
    (1, 2**40, 0.1, Decimal("9007199254740993.000001"), "a"),
    # collides with the row above as a double, not as a decimal
    (-2, -(2**62), -1e308, Decimal("9007199254740993.000002"), ""),
    (None, None, None, None, None),
    (2**31 - 1, 0, 0.0, Decimal("-0.000001"), "ü"),
]


def test_values_and_schema_match_the_list_path(spark):
    got = local_frame(spark, _ROWS, _DDL)
    want = spark.createDataFrame(_ROWS, _DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert [tuple(r) for r in got.collect()] == _ROWS


def test_struct_schema_keeps_nullability(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    rows = [(1, None), (2, "x")]
    got = local_frame(spark, rows, schema)
    assert got.schema == spark.createDataFrame(rows, schema).schema == schema
    assert [tuple(r) for r in got.collect()] == rows


def test_empty_rows_give_an_empty_frame_with_the_schema(spark):
    got = local_frame(spark, [], _DDL)
    assert got.schema == spark.createDataFrame([], _DDL).schema
    assert got.collect() == []


@pytest.mark.parametrize(
    "row",
    [(None,), (2**31,), ("1",), (1.0,)],
    ids=["null_in_non_nullable", "int_out_of_range", "string_for_int", "float_for_int"],
)
def test_rows_the_list_path_rejects_raise(spark, row):
    schema = T.StructType([T.StructField("x", T.IntegerType(), False)])
    with pytest.raises(Exception) as list_err:
        spark.createDataFrame([row], schema)
    with pytest.raises(type(list_err.value)) as err:
        local_frame(spark, [row], schema)
    assert str(err.value) == str(list_err.value)


def test_plans_as_a_local_table_scan(spark):
    df = local_frame(spark, _ROWS, _DDL)
    qe = df._jdf.queryExecution()
    assert qe.executedPlan().getClass().getSimpleName() == "LocalTableScanExec"
    assert qe.optimizedPlan().stats().rowCount().get() == len(_ROWS)


# Every registered query that built driver-side rows with
# ``createDataFrame(list)`` before it went through ``local_frame``.
_DRIVER_ROW_QUERIES = [
    "ab_test_mann_whitney",
    "abc_classification_parts",
    "attribution_markov_removal",
    "causal_uplift_two_model",
    "crosslingual_margin_mining",
    "curriculum_perplexity_stages",
    "decision_stump_info_gain",
    "dedup_embedding_cosine",
    "drift_ks_two_sample",
    "drift_mmd_linear_paired",
    "drift_wasserstein_1d",
    "eval_auc_exact",
    "eval_cumulative_gains",
    "histogram_equidepth",
    "ids_contiguous_global",
    "kruskal_wallis_h",
    "linkage_sorted_neighborhood",
    "lsh_parameter_planner",
    "median_rank_ci",
    "ml_dbscan_grid_clusters",
    "opt_histogram_selectivity_audit",
    "pca_power_iteration_top_pc",
    "retrieval_wand_prune_certificate",
    "rfm_customer_segments",
    "robust_theil_sen_slope",
    "sim_mmr_diversified_topk",
    "sketch_quantile_mergeable",
    "spearman_rank_correlation",
    "stats_jonckheere_terpstra",
    "wilcoxon_signed_rank",
    "xicor_correlation",
]


def python_rdd_scans(df) -> list[str]:
    """Leaves of the physical plan that scan an RDD built by Python."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    found = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (
            leaf.getClass().getSimpleName() == "RDDScanExec"
            and "PythonRDD" in leaf.rdd().toDebugString()
        ):
            found.append(leaf.simpleString(100))
    return found


@pytest.mark.parametrize("name", _DRIVER_ROW_QUERIES)
def test_no_python_rdd_scan(name, spark):
    assert python_rdd_scans(built_query(name, spark)) == []


def test_dbscan_executes_as_one_local_table_scan(spark):
    plan = built_query("ml_dbscan_grid_clusters", spark)._jdf.queryExecution()
    assert plan.executedPlan().getClass().getSimpleName() == "LocalTableScanExec"
