"""Queries leave a long-lived session as they found it: every pin a query
makes is freed by ``release_persisted_frames()``, and no query leaves a
temporary function, temp view or session variable behind."""

from __future__ import annotations

from spark_streaming_practicum_spark.catalog import TABLES
from spark_streaming_practicum_spark.functions import ranks
from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR, release_pins
from .test_oracle_parity import _canon_frame, spark_frame

DEFS = all_queries()
# a persist and a rank checkpoint; five lazy checkpoints; a checkpoint per
# loop round and the dedup memo; a persist the query drops itself
PINNING = ("rfm_customer_segments", "gbdt_stump_boosting",
           "dedup_cluster_representatives", "sim_mmr_diversified_topk")
NAMING = {
    "sql_udf_net_revenue": {("function", "net_revenue")},
    "udtf_sentence_segments": {("function", "sentence_segments")},
    "sql_session_variables": {("variables", True)},
    "sql_over_views": {("view", t) for t in TABLES},
    "sql_parameterized_identifier": {("view", "orders_param_v")},
}


def _session_names(spark) -> set[tuple]:
    variables = spark._jsparkSession.sessionState().catalogManager().tempVariableManager()
    return (
        {("function", r.function) for r in spark.sql("SHOW USER FUNCTIONS").collect()}
        | {("view", t.name) for t in spark.catalog.listTables() if t.isTemporary}
        | {("variables", not variables.isEmpty())}
    )


def test_release_frees_every_pin(spark):
    def rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    release_pins()
    baseline, runs = rdds(), []
    for _ in range(2):
        runs.append({n: _canon_frame(spark_frame(DEFS[n].fn(spark, SF_DIR))) for n in PINNING})
        assert rdds() > baseline, "the queries pinned nothing"
        release_pins()
        assert rdds() == baseline and not ranks._memo
    assert runs[0] == runs[1]


def test_queries_leave_no_session_names(spark, oracle_con):
    before = _session_names(spark)
    for name, names in NAMING.items():
        got = _canon_frame(spark_frame(DEFS[name].fn(spark, SF_DIR)))
        assert got == _canon_frame(oracle_con.execute(DEFS[name].oracle).df()), name
        assert not names & _session_names(spark), name
    assert _session_names(spark) == before
