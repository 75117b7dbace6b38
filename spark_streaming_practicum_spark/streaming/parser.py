"""JSON-array batch parsing (reference parity: operators A5-A10).

Semantics re-expressed from /root/reference/src/consumer/batch_parsers.py
(cited per step below) as a *pure batch* DataFrame transform, so the same
code path is unit-testable, oracle-checkable, and wrappable by a
streaming query.

The service-column convention (the pipeline's IR — SURVEY.md §1.4):

    _raw_batch          whole-batch input string (internal; it reaches
                        only the corrupted rows, as their record)
    _raw_record         individual record string; corrupted batches are
                        backfilled with the batch text
    _is_corrupted_batch explode/parse failure flag
    _has_extra_fields   key-count heuristic flag
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RAW_BATCH = "_raw_batch"
RAW_RECORD = "_raw_record"
IS_CORRUPTED = "_is_corrupted_batch"
HAS_EXTRA_FIELDS = "_has_extra_fields"
PARSED = "_parsed_record"
_RECORDS = "_records"

SERVICE_COLUMNS = (RAW_RECORD, IS_CORRUPTED, HAS_EXTRA_FIELDS)


class JsonArrayBatchParser:
    """Parses one-JSON-array-per-row batches into typed records.

    Parity notes (reference file:line):
    - the batch parses once as ``array<string>``; an unparsable or empty
      batch, and each null element, yields one corrupted row
      (batch_parsers.py:121-142, test_batch_parsers.py:84-93). One
      ``inline`` over ``transform(records, x -> struct(coalesce(x, batch),
      x IS NULL))`` produces the rows, so the batch text reaches only the
      corrupted rows instead of riding along with every record;
    - extra-field detection is the reference's *count-based* heuristic —
      the record's top-level key count against the declared field count
      (batch_parsers.py:64-76). ``json_object_keys`` counts the keys the
      reference's ``map<string,string>`` re-parse counted: duplicates
      included, null for a non-object record, and null on corrupted rows
      (the count is skipped there: their record is the batch text).
      Spark re-serializes every object element as strict JSON, on which
      the two agree. They differ only on a record that is the text of a
      JSON *string* element holding lenient JSON: NaN makes the count
      null (the map parse counted it), and an unescaped control character
      inside a string is counted (the map parse gave null). Deliberately
      imperfect (a record with one missing + one extra key passes);
      parity requires keeping it, per SURVEY.md §7;
    - corrupted rows keep the batch text as their record via coalesce
      (batch_parsers.py:77-84);
    - permissive from_json: mismatched fields come back null
      (batch_parsers.py:134-141).

    The Column expressions are built on the first ``parse`` (they need a
    live SparkContext) and reused by every later call on this instance.
    """

    def __init__(self, schema: T.StructType, json_options: dict[str, str] | None = None):
        self.schema = schema
        self.json_options = dict(json_options or {})
        self._heads: dict[str, list[Column]] = {}

    def _head(self, value_column: str) -> list[Column]:
        """The batch text and its one ``array<string>`` parse."""
        if value_column not in self._heads:
            value = F.col(value_column)
            self._heads[value_column] = [
                value.alias(RAW_BATCH),
                F.from_json(value, T.ArrayType(T.StringType())).alias(_RECORDS),
            ]
        return self._heads[value_column]

    @cached_property
    def _body(self) -> tuple[Column, list[Column], list[Column]]:
        batch, records = F.col(RAW_BATCH), F.col(_RECORDS)
        one_corrupted = F.array(
            F.struct(batch.alias(RAW_RECORD), F.lit(True).alias(IS_CORRUPTED))
        )
        explode = F.inline(
            F.when(records.isNull() | (F.size(records) == 0), one_corrupted).otherwise(
                F.transform(
                    records,
                    lambda x: F.struct(
                        F.coalesce(x, batch).alias(RAW_RECORD), x.isNull().alias(IS_CORRUPTED)
                    ),
                )
            )
        )
        record, corrupted = F.col(RAW_RECORD), F.col(IS_CORRUPTED)
        flagged = [
            record,
            corrupted,
            F.when(
                ~corrupted,
                F.size(F.json_object_keys(record)) > F.lit(len(self.schema.fields)),
            ).alias(HAS_EXTRA_FIELDS),
            F.from_json(record, self.schema, self.json_options).alias(PARSED),
        ]
        out = [*[F.col(c) for c in SERVICE_COLUMNS], F.col(f"{PARSED}.*")]
        return explode, flagged, out

    def parse(self, batches: DataFrame, value_column: str = "value") -> DataFrame:
        explode, flagged, out = self._body
        return (
            batches.select(*self._head(value_column))
            .select(explode)
            .select(*flagged)
            .select(*out)
        )
