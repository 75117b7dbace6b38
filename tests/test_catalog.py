"""catalog.table's parquet schema memo (``sources.batch.read_parquet``)
and the memory-sink views of the streaming queries.

Inferring a parquet schema is a Spark job; an unchanged file re-read
with unchanged schema-conversion confs must reuse the inferred schema
and run none, while a rewritten file or a flipped conf must re-infer.

SQL-surface queries take ``catalog.table`` frames as ``spark.sql``
parameters, so with the schemas memoized their SQL text reads no table
through a job of its own, and building them leaves no temp view behind.

A streaming query drained into a memory sink registers a temp view per
run; ``catalog.memory_sink_frame`` drops it once the frame is resolved,
so a long session does not keep one view per stream run."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from spark_streaming_practicum_spark.catalog import TABLES, table
from spark_streaming_practicum_spark.registry import all_queries
from spark_streaming_practicum_spark.sources.batch import read_parquet

from .conftest import SF_DIR, job_count
from .test_oracle_parity import _canon_frame, spark_frame


def test_table_reread_runs_no_job_and_keeps_schema(spark):
    first = {t: table(spark, SF_DIR, t).schema.json() for t in TABLES}
    for t in TABLES:
        out = []
        jobs = job_count(spark, lambda: out.append(table(spark, SF_DIR, t)))
        assert jobs == 0, f"re-reading {t} ran {jobs} jobs"
        again = out[0]
        assert again.schema.json() == first[t], t
        # the memoized schema is exactly what a fresh inference gives
        path = f"{SF_DIR}/{t}.parquet"
        assert read_parquet(spark, path).schema.json() == spark.read.parquet(path).schema.json(), t


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_schema_conf_flip_reinfers(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], type=pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    assert prev == "false"
    assert read_parquet(spark, path).schema["b"].dataType == T.BinaryType()
    try:
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).schema["b"].dataType == T.StringType()
    finally:
        spark.conf.set(key, prev)
    assert read_parquet(spark, path).schema["b"].dataType == T.BinaryType()


# At most this many build jobs for the SQL-surface queries that read
# tables through parameters: the two SET VARs, and the script's
# statements.
_SQL_BUILD_JOBS = {
    "agg_grouping_sets": 0,
    "recursive_cte_reachability": 0,
    "agg_listagg_ordered": 0,
    "pipe_syntax_revenue": 0,
    "sql_udf_net_revenue": 0,
    "sql_group_order_by_all": 0,
    "sql_lateral_column_alias": 0,
    "sql_scripting_control_flow": 31,
    "sql_pivot_clause": 0,
    "sql_unpivot_clause": 0,
    "subquery_correlated_scalar": 0,
    "subquery_in": 0,
    "join_lateral_topk": 0,
    "sql_session_variables": 2,
    "udtf_sentence_segments": 0,
}


@pytest.mark.parametrize("name", sorted(_SQL_BUILD_JOBS))
def test_sql_reads_run_no_job_and_leave_no_view(name, spark):
    for t in TABLES:
        table(spark, SF_DIR, t)
    before = {t.name for t in spark.catalog.listTables()}
    jobs = job_count(spark, lambda: all_queries()[name].fn(spark, SF_DIR))
    assert jobs <= _SQL_BUILD_JOBS[name], f"{name} build ran {jobs} jobs"
    assert {t.name for t in spark.catalog.listTables()} == before


@pytest.mark.parametrize(
    "name", ["stream_tumbling_hour", "stream_stateful_user_profile", "stream_tws_event_counts"]
)
def test_memory_sink_view_is_dropped(name, spark, oracle_con):
    defs = all_queries()
    if name not in defs:
        pytest.skip(f"{name} is not registered (no protobuf runtime)")
    before = {t.name for t in spark.catalog.listTables()}
    df = defs[name].fn(spark, SF_DIR)
    assert {t.name for t in spark.catalog.listTables()} == before
    got = _canon_frame(spark_frame(df))
    assert got == _canon_frame(oracle_con.execute(defs[name].oracle).df())
