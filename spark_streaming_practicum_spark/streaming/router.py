"""Validation + dead-letter routing (reference parity: A11-A14).

Re-expressed from /root/reference/src/consumer/stream_processor.py:66-129:
- required-field validation = every non-nullable schema field is non-null
  after the permissive parse (stream_processor.py:66-74);
- reason precedence corrupted_batch > invalid_schema > extra_fields
  (when-chain, stream_processor.py:76-95). A null ``_has_extra_fields``
  (corrupted rows, non-object records) does not match the third branch;
- valid rows drop the service columns (stream_processor.py:99-104);
- dead-letter rows put the reason first, then the raw record, then the
  (partially) parsed business columns (stream_processor.py:106-116).

Improvement over the reference (SURVEY.md §4 "double computation
hazard"): ``Router.split`` classifies once and returns two filtered
views of the SAME frame. That frame (``Router.route``) holds every
record in the dead-letter layout, with the raw record kept only on
dead-letter rows, so it carries exactly what the two sinks write. A
caller that persists it (``StreamProcessor``) uses ``split_routed``:
the parse and the reason run once, and each sink only filters cached
rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property, reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .parser import HAS_EXTRA_FIELDS, IS_CORRUPTED, RAW_RECORD


class DeadLetterReason:
    CORRUPTED_BATCH = "corrupted_batch"
    INVALID_SCHEMA = "invalid_schema"
    EXTRA_FIELDS = "extra_fields"


REASON = "_dead_letter_reason"


@dataclass
class RoutedBatch:
    valid: DataFrame
    dead_letters: DataFrame


class Router:
    """Splits parsed records into (valid, dead_letters).

    The reason, projection and filter Columns are built on first use
    (they need a live SparkContext) and reused by every later call on this
    instance."""

    def __init__(self, schema: T.StructType):
        self.schema = schema

    @cached_property
    def _reason(self) -> Column:
        required = [f.name for f in self.schema.fields if not f.nullable]
        present = reduce(lambda acc, name: acc & F.col(name).isNotNull(), required, F.lit(True))
        return (
            F.when(F.col(IS_CORRUPTED), DeadLetterReason.CORRUPTED_BATCH)
            .when(~present, DeadLetterReason.INVALID_SCHEMA)
            .when(F.col(HAS_EXTRA_FIELDS), DeadLetterReason.EXTRA_FIELDS)
            .otherwise(F.lit(None).cast("string"))
        )

    @cached_property
    def _routes(self) -> tuple[list[Column], Column, Column]:
        """(routed columns, valid filter, dead-letter filter)."""
        reason = F.col(REASON)
        routed = [
            reason,
            F.when(reason.isNotNull(), F.col(RAW_RECORD)).alias(RAW_RECORD),
            *[F.col(c) for c in self.schema.fieldNames()],
        ]
        return routed, reason.isNull(), reason.isNotNull()

    def classify(self, parsed: DataFrame) -> DataFrame:
        """Append the dead-letter reason column (null = valid)."""
        return parsed.withColumn(REASON, self._reason)

    def route(self, parsed: DataFrame) -> DataFrame:
        """Every record in the dead-letter layout (reason, raw record,
        business columns), the raw record kept only on dead-letter rows:
        what the two sinks write, and nothing else."""
        columns, _, _ = self._routes
        return self.classify(parsed).select(*columns)

    def split(self, parsed: DataFrame) -> RoutedBatch:
        return self.split_routed(self.route(parsed))

    def split_routed(self, routed: DataFrame) -> RoutedBatch:
        """``split`` of a frame ``route`` returned (e.g. one the caller
        persisted): two filters of it."""
        _, is_valid, is_dead = self._routes
        return RoutedBatch(
            valid=routed.filter(is_valid).drop(REASON, RAW_RECORD),
            dead_letters=routed.filter(is_dead),
        )
