"""catalog.table's parquet schema memo (``sources.batch.read_parquet``)
and the memory-sink views of the streaming queries.

Inferring a parquet schema is a Spark job; an unchanged file re-read
with unchanged schema-conversion confs must reuse the inferred schema
and run none, while a rewritten file or a flipped conf must re-infer.

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

from .conftest import SF_DIR
from .test_oracle_parity import _canon_frame, spark_frame


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_table_reread_runs_no_job_and_keeps_schema(spark):
    first = {t: table(spark, SF_DIR, t).schema.json() for t in TABLES}
    for t in TABLES:
        again, jobs = _jobs_of(spark, f"memo-reread-{t}", lambda: table(spark, SF_DIR, t))
        assert jobs == 0, f"re-reading {t} ran {jobs} jobs"
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


@pytest.mark.parametrize("name", ["stream_tumbling_hour", "stream_tws_event_counts"])
def test_memory_sink_view_is_dropped(name, spark, oracle_con):
    defs = all_queries()
    if name not in defs:
        pytest.skip(f"{name} is not registered (no protobuf runtime)")
    before = {t.name for t in spark.catalog.listTables()}
    df = defs[name].fn(spark, SF_DIR)
    assert {t.name for t in spark.catalog.listTables()} == before
    got = _canon_frame(spark_frame(df))
    assert got == _canon_frame(oracle_con.execute(defs[name].oracle).df())
