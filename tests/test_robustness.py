"""Edge-case robustness: empty inputs, unknown tables, degenerate
schemas, and the rate streaming source."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from spark_streaming_practicum_spark.catalog import table
from spark_streaming_practicum_spark.streaming.parser import JsonArrayBatchParser
from spark_streaming_practicum_spark.streaming.router import Router

from .conftest import SF_DIR, release_pins


def test_unknown_table_raises_clean_error(spark):
    with pytest.raises(KeyError, match="unknown table"):
        table(spark, SF_DIR, "nonexistent")


def test_parser_empty_input(spark):
    schema = T.StructType([T.StructField("id", T.StringType(), False)])
    empty = spark.createDataFrame([], "value string")
    parsed = JsonArrayBatchParser(schema).parse(empty)
    routed = Router(schema).split(parsed)
    assert parsed.count() == 0
    assert routed.valid.count() == 0 and routed.dead_letters.count() == 0


def test_router_all_optional_schema_never_invalid(spark):
    # no required fields -> invalid_schema unreachable; extra-fields and
    # corruption still classified
    schema = T.StructType([T.StructField("id", T.StringType(), True)])
    df = spark.createDataFrame(
        [('[{"id": null}]',), ("broken [",), ('[{"id": "1", "e": "x"}]',)], ["value"]
    )
    routed = Router(schema).split(JsonArrayBatchParser(schema).parse(df))
    reasons = sorted(r["_dead_letter_reason"] for r in routed.dead_letters.collect())
    assert reasons == ["corrupted_batch", "extra_fields"]
    assert routed.valid.count() == 1  # the null-id record is valid


def test_rate_streaming_source_smoke(spark):
    """The built-in rate source drives a watermark-free agg — the load
    generator for streaming soak tests."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    agg = stream.groupBy().count()
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rate_smoke")
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        n = 0
        while n == 0 and time.time() < deadline:
            time.sleep(1)
            rows = spark.sql("SELECT * FROM rate_smoke").collect()
            n = rows[0][0] if rows else 0
        assert n > 0
    finally:
        q.stop()


def test_ignore_corrupt_parquet_files(spark, tmp_path):
    """File-level corruption tolerance: the batch analogue of the
    reference's corrupted-batch dead-lettering (a truncated parquet in
    a 100 TB lake must not kill the job). With ignoreCorruptFiles the
    scan reads every healthy file and skips the bad one."""
    out = tmp_path / "lake"
    table(spark, SF_DIR, "region").write.parquet(str(out))
    df = spark.read.parquet(str(out))
    healthy, schema = df.count(), df.schema
    # corrupt one data file mid-way, reference-producer style
    part = next(p for p in out.iterdir() if p.name.endswith(".parquet"))
    data = part.read_bytes()
    part.write_bytes(data[: len(data) // 2])

    # NB: the declared schema matters — footer-based inference itself
    # dies on the truncated file before ignoreCorruptFiles can apply
    # (at scale the lake schema comes from the catalog anyway).
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        survivors = spark.read.schema(schema).parquet(str(out)).count()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
    assert 0 <= survivors < healthy


def test_runtime_bloom_filter_join_pruning(spark, tmp_path):
    """Runtime bloom-filter injection on a shuffle join: the selective
    side's keys become a bloom filter applied to the probe side's scan
    — the fact-fact analogue of DPP (no partition column needed).
    Thresholds are lowered because the feature is sized for TB-scale
    scans; the PLAN SHAPE is what the assertion checks."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        li = table(spark, SF_DIR, "lineitem")
        o = table(spark, SF_DIR, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = joined._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        assert "bloom_filter" in plan.lower() or "bloomfilter" in plan.lower(), plan[:2000]
        assert joined.count() > 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


# --- catalog dtype parity with the DuckDB oracle ---------------------------

_DUCK_TO_SPARK = {
    "BIGINT": "bigint",
    "INTEGER": "int",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
    "DATE": "date",
    "FLOAT[]": "array<float>",
    "DOUBLE[]": "array<double>",
}


def test_catalog_dtypes_match_duckdb_views(spark, oracle_con):
    """Every catalog.table() column must surface exactly the dtype the
    DuckDB oracle sees for the same parquet — any drift (TIMESTAMP_NTZ,
    DECIMAL, INT96...) forks the two engines' arithmetic/type behavior
    and shows up later as inscrutable hash mismatches."""
    from spark_streaming_practicum_spark.catalog import TABLES, table

    from .conftest import SF_DIR

    for t in TABLES:
        duck = oracle_con.execute(f"DESCRIBE SELECT * FROM {t}").fetchall()
        spark_types = dict(table(spark, SF_DIR, t).dtypes)
        for col, ducktype, *_ in duck:
            expected = _DUCK_TO_SPARK.get(ducktype, ducktype.lower())
            assert spark_types.get(col) == expected, (
                f"{t}.{col}: spark={spark_types.get(col)} duckdb={ducktype}"
            )


# --- determinism under partitioning --------------------------------------

_PARTITION_SENSITIVE_SAMPLE = [
    # two-pass ranking / prefix scans
    "histogram_equidepth",
    "rfm_customer_segments",
    "drift_ks_two_sample",
    "ab_test_mann_whitney",
    "ids_contiguous_global",
    # decimal-accumulated float aggregates
    "agg_pricing_summary",
    "agg_higher_moments",
    # grouped-GEMM / pandas paths
    "contrastive_pair_mining",
    "jl_random_projection",
    # hash-priority sampling
    "sample_reservoir_per_group",
    "weighted_sample_topk",
]


def test_results_invariant_to_shuffle_partitioning(spark):
    """The same query must return IDENTICAL rows at different
    spark.sql.shuffle.partitions settings — the distributed-engine
    property that catches order-dependent accumulation, partition-id
    leakage, and rank instability. Exercises the operators whose plans
    explicitly depend on partitioning (two-pass ranking, prefix scans,
    decimal sums, grouped GEMM, hash sampling)."""
    from spark_streaming_practicum_spark.registry import all_queries

    defs = all_queries()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for name in _PARTITION_SENSITIVE_SAMPLE:
            results = []
            for parts in ("7", "32"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                release_pins()
                rows = defs[name].fn(spark, SF_DIR).collect()
                results.append(sorted(tuple(r) for r in rows))
            assert results[0] == results[1], (
                f"{name}: results differ between 7 and 32 shuffle partitions"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        release_pins()
