"""UDF surface (SURVEY.md §2C "UDF surface"): one scalar pandas UDF, one
grouped-map (applyInPandas), one pandas UDAF — each with SQL-replicable
semantics so the oracle stays exact.

The reference itself has zero UDFs (SURVEY.md §2A) — every transform is
built-in Column expressions. These exist to pin down the sanctioned slow
path: Arrow-batched pandas UDFs, never row-at-a-time Python.
"""

from __future__ import annotations

import numpy as np
from collections.abc import Iterator
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import table
from ..registry import query


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT doc_id,
           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text_prefix
    FROM documents
    WHERE doc_id < 50
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-vectorized string normalization)."""

    @pandas_udf("string")
    def normalize(s: pd.Series) -> pd.Series:
        return s.str.replace(r"\s+", " ", regex=True).str.strip().str.lower()

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select("doc_id", normalize("text").alias("norm_text_prefix"))


@query(
    "udf_grouped_map_zscore",
    oracle="""
    SELECT event_id, user_id,
           ROUND(CASE WHEN stddev_pop(value) OVER (PARTITION BY user_id) = 0 THEN 0.0
                      ELSE (value - AVG(value) OVER (PARTITION BY user_id))
                           / stddev_pop(value) OVER (PARTITION BY user_id)
                 END, 5) AS zscore
    FROM events
    """,
)
def udf_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-user z-score of event values.

    One shuffle on user_id, then a whole-group pandas frame per task —
    the pattern for per-entity model scoring at scale."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        std = float(pdf["value"].std(ddof=0))
        mean = float(pdf["value"].mean())
        z = np.zeros(len(pdf)) if std == 0.0 else (pdf["value"].to_numpy() - mean) / std
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "zscore": np.round(z, 5)}
        )

    e = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return e.groupBy("user_id").applyInPandas(
        zscore, schema="event_id bigint, user_id bigint, zscore double"
    )


@query(
    "udf_grouped_agg_median",
    oracle="""
    SELECT event_type, ROUND(median(value), 5) AS median_value
    FROM events
    GROUP BY event_type
    """,
)
def udf_grouped_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF: exact median per group (numpy median == DuckDB's
    interpolated median for even counts)."""

    @pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(median_udaf("value"), 5).alias("median_value")
    )


@query(
    "udtf_sentence_segments",
    oracle="""
    WITH sel AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
    segs AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, '.'), 1) - 1 AS seg_idx,
               unnest(string_split(text, '.')) AS seg
        FROM sel)
    SELECT doc_id, seg_idx,
           LENGTH(TRIM(seg)) AS n_chars,
           len(string_split(TRIM(seg), ' ')) AS n_words
    FROM segs
    WHERE LENGTH(TRIM(seg)) > 0
    """,
)
def udtf_sentence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 3.5+): one input row ->
    many output rows, invoked per-row via LATERAL — here a sentence
    segmenter emitting (doc_id, seg_idx, n_chars, n_words) per segment,
    the row-generating shape (chunkers, parsers, taggers) scalar UDFs
    can't express.

    This completes the UDF surface (scalar pandas / grouped map /
    grouped agg / table function). UDTFs execute Python row-at-a-time,
    so they are the LAST resort — the identical segmentation is pure
    JVM via explode(split(...)) (see text_chunk_fixed_tokens); the
    input is subsampled accordingly. The oracle re-states the
    segmentation relationally."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, seg_idx int, n_chars int, n_words int")
    class SentenceSegments:
        def eval(self, doc_id: int, text: str):
            idx = 0
            for seg in text.split("."):
                stripped = seg.strip()
                if stripped:
                    yield (doc_id, idx, len(stripped), len(stripped.split(" ")))
                idx += 1

    spark.udtf.register("sentence_segments", SentenceSegments)
    df = spark.sql(
        "SELECT s.* FROM {docs} d, LATERAL sentence_segments(d.doc_id, d.text) s",
        docs=table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0),
    )
    spark.sql("DROP TEMPORARY FUNCTION sentence_segments")  # the plan keeps the UDTF
    return df


@query(
    "udf_grouped_map_arrow",
    oracle="""
    SELECT event_id, user_id,
           ROUND(CASE WHEN stddev_pop(value) OVER (PARTITION BY user_id) = 0 THEN 0.0
                      ELSE (value - AVG(value) OVER (PARTITION BY user_id))
                           / stddev_pop(value) OVER (PARTITION BY user_id)
                 END, 5) AS zscore
    FROM events
    """,
)
def udf_grouped_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map through ``applyInArrow`` (Spark 4): the same per-user
    z-score as udf_grouped_map_zscore but the group arrives as a raw
    ``pyarrow.Table`` — no pandas materialization, no index baggage,
    the lowest-overhead Python grouped path. Shares the pandas
    variant's oracle so the two paths are proven value-identical."""
    import pyarrow as pa

    def zscore(t: "pa.Table") -> "pa.Table":
        v = t.column("value").to_numpy(zero_copy_only=False)
        std = v.std()
        z = np.zeros(len(v)) if std == 0.0 else (v - v.mean()) / std
        return pa.table(
            {
                "event_id": t.column("event_id"),
                "user_id": t.column("user_id"),
                "zscore": pa.array(np.round(z, 5), type=pa.float64()),
            }
        )

    e = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return e.groupBy("user_id").applyInArrow(
        zscore, schema="event_id bigint, user_id bigint, zscore double"
    )


@query(
    "udf_pandas_scalar_iter",
    oracle="""
    SELECT event_id,
           ROUND(LN(1.0 + value / 100.0), 6) AS log_feature
    FROM events
    """,
)
def udf_pandas_scalar_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-series pandas UDF (SCALAR_ITER): the flavor for UDFs
    with expensive one-time setup (model load, tokenizer init) — the
    setup runs once per PARTITION, then every Arrow batch streams
    through the open iterator. Here the 'model' is a trivial log1p,
    but the lifecycle (init outside the loop, yield per batch) is
    exactly how a real scorer amortizes its load at 100 TB."""
    @pandas_udf("double")
    def log_feature(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        scale = 100.0  # stand-in for per-partition model/tokenizer setup
        for v in batches:
            yield np.log1p(v / scale).round(6)

    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id", log_feature("value").alias("log_feature")
    )
