"""Batch sources (reference A3/A4 read side, generalized).

Thin declarative wrappers — the value is in what they DON'T do: no
inferSchema on production paths, explicit schemas so scans prune columns
and push filters from the first query.

``read_parquet`` is the package's one parquet reader. Inferring a
parquet schema is a Spark job (footer listing + merge), so re-reading an
unchanged file in an interactive session paid one job per read. For a
regular local file the reader memoizes the inferred ``StructType`` per
absolute path, keyed by the file's ``st_ino``/``st_size``/``st_mtime_ns``
and the session confs that Spark's parquet-to-Spark schema conversion
reads; a matching key reads with the schema supplied (no job), anything
else infers as Spark would and replaces the entry. Directories and
remote URIs always infer: their contents can change without any one
stat moving, and they have no cheap signature."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Every conf Spark 4.1's ParquetToSparkSchemaConverter consults: the same
# footer converts to a different StructType when any of them changes.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)

# absolute path -> (signature, inferred schema); one entry per file.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    st = os.stat(key)
    sig = (st.st_ino, st.st_size, st.st_mtime_ns) + tuple(
        spark.conf.get(c) for c in _SCHEMA_CONFS
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (sig, df.schema)
    return df


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    return spark.read.schema(schema).csv(path, header=header)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same vectorized/pushdown treatment as parquet in Spark
    (PushedFilters + column pruning), for corpora stored in ORC."""
    return spark.read.orc(path)
