"""Streaming control plane (reference parity: A24-A28).

Re-expressed from /root/reference/src/consumer/stream_processor.py with
one deliberate fix (SURVEY.md §4 "double computation hazard"): the
reference runs two count() actions plus two writes over uncached lineage
(stream_processor.py:118-129), recomputing the parse up to 4x per
micro-batch. Here each micro-batch is persisted once, observability
counts come off the persisted frame, and both sinks read it.

Per-batch work. Under a processing-time trigger the driver-side cost of
``foreachBatch`` is paid once per trigger, so ``process_batch`` keeps it
to the DataFrame calls themselves. The parser, the router and the
``count(1)`` observe expression are built on the processor's first batch
and reused: a later batch builds no Column, only the short chain of
DataFrame operations that the sinks need (fan-out coalesce, four parse
projections, the reason column, the routed projection, persist, two
filters and a drop, two observes, two writes). Each of those operations
is still analyzed by Spark, and each sink write still plans and runs its
own job.

Fan-out. Spark's file-split planner spreads even a sub-megabyte batch
over every core (``minPartitionNum`` defaults to the default
parallelism), so each stage of a small micro-batch runs one task per core
and each sink writes one parquet file per core. Every task and file is a
fixed cost that a small batch never amortizes. ``process_batch`` therefore
coalesces the raw batch to ``ceil(input bytes / openCostInBytes)``
partitions first: a batch under 4 MB (the default) runs one task per stage
and writes one file per sink, a larger one keeps one task per
``openCostInBytes`` of input up to Spark's own split. ``openCostInBytes``
is Spark's own estimate, in bytes, of one split's fixed cost, so no task
carries less input than its overhead is worth. It is read from the
session, so the rule adds no option and changes no session conf (a
session-wide ``minPartitionNum`` would re-plan every query). Dividing by
``maxPartitionBytes`` (128 MB) instead would run a 4.6 MB backlog batch
as one task, about twice its wall time on a 4-core host. The rule trades
wall time for CPU: fewer tasks cost less CPU per event, but a batch that
Spark would have spread over idle cores now drains more slowly.
"""

from __future__ import annotations

import logging
import math
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from .parser import JsonArrayBatchParser
from .router import Router
from .sinks import ParquetSink

logger = logging.getLogger(__name__)


def size_fan_out(batch: DataFrame) -> DataFrame:
    """Coalesce ``batch`` to ``max(1, ceil(bytes / openCostInBytes))``
    partitions (see the module docstring).

    The input bytes come from the optimized plan's statistics, which runs
    no Spark job; for a file-stream micro-batch they are the sum of the
    batch's file lengths. ``coalesce`` never raises the partition count,
    so a batch Spark split more coarsely keeps Spark's split. A batch
    whose size is unknown (the ``defaultSizeInBytes`` placeholder, e.g. a
    frame over a Python RDD) is returned unchanged."""
    conf = batch.sparkSession._jsparkSession.sessionState().conf()  # noqa: SLF001
    size = batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # noqa: SLF001
    if size >= conf.defaultSizeInBytes():
        return batch
    return batch.coalesce(max(1, math.ceil(size / conf.filesOpenCostInBytes())))


@dataclass
class BatchMetrics:
    batch_id: int
    valid_rows: int
    dead_letter_rows: int


@dataclass
class StreamProcessor:
    """Parse -> validate -> route -> dual-sink, per micro-batch.

    Parity map (reference stream_processor.py):
    - foreachBatch multi-sink routing  :148-157 (A25)
    - micro-batch trigger              :154     (A24)
    - checkpointing                    :150-153 (A26)
    - graceful stop / progress         :131-167 (A27, A28)
    """

    schema: T.StructType
    valid_sink: ParquetSink
    dead_letter_sink: ParquetSink
    checkpoint_location: str
    trigger_interval: str = "30 seconds"
    json_options: dict[str, str] = field(default_factory=dict)
    metrics: list[BatchMetrics] = field(default_factory=list)

    @cached_property
    def _parser(self) -> JsonArrayBatchParser:
        return JsonArrayBatchParser(self.schema, self.json_options)

    @cached_property
    def _router(self) -> Router:
        return Router(self.schema)

    @cached_property
    def _row_count(self) -> Column:
        return F.count(F.lit(1)).alias("n")

    def process_batch(self, batch: DataFrame, batch_id: int) -> BatchMetrics:
        """Route one (micro-)batch; also callable on plain batch frames.

        The raw batch is first coalesced to one partition per
        ``spark.sql.files.openCostInBytes`` of input (``size_fan_out``), so
        scan, parse, persist and both sink writes run at that fan-out: a
        batch under 4 MB runs one task per stage and writes one file per
        sink. ``openCostInBytes`` is the per-split cost Spark's own planner
        already charges, so the rule needs no option of its own.

        The routed frame (``Router.route``: every record in the dead-letter
        layout, the raw record kept only on dead-letter rows) is persisted,
        so each sink job only filters cached rows. Observability counts
        ride the sink writes as ``Observation`` metrics (CollectMetrics in
        the plan), so each micro-batch runs exactly TWO jobs (one per
        sink) — the reference runs four over uncached lineage
        (stream_processor.py:118-129)."""
        routed = self._router.route(self._parser.parse(size_fan_out(batch))).persist()
        try:
            split = self._router.split_routed(routed)
            obs_v, obs_d = Observation(), Observation()
            self.valid_sink.write(split.valid.observe(obs_v, self._row_count))
            self.dead_letter_sink.write(split.dead_letters.observe(obs_d, self._row_count))
            valid_count = obs_v.get["n"]
            dead_count = obs_d.get["n"]
        finally:
            routed.unpersist()
        m = BatchMetrics(batch_id=batch_id, valid_rows=valid_count, dead_letter_rows=dead_count)
        self.metrics.append(m)
        logger.info(
            "batch=%d valid=%d dead_letters=%d", m.batch_id, m.valid_rows, m.dead_letter_rows
        )
        return m

    def start(self, stream: DataFrame, available_now: bool = False) -> StreamingQuery:
        """Start the streaming query over a raw text-batch stream.

        ``available_now=True`` switches to Trigger.AvailableNow: process
        everything currently in the source (in rate-limited micro-
        batches, honoring the checkpoint) and stop — the backfill /
        catch-up mode that reuses the exact streaming pipeline and its
        exactly-once bookkeeping for batch drains."""
        writer = stream.writeStream.option("checkpointLocation", self.checkpoint_location)
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=self.trigger_interval)
        return writer.foreachBatch(lambda df, bid: self.process_batch(df, bid)).start()

    @staticmethod
    def log_progress(query: StreamingQuery) -> dict | None:
        """One progress sample (reference stream_processor.py:131-144)."""
        progress = query.lastProgress
        if progress:
            logger.info(
                "stream_progress batch=%s rows=%s in_rps=%s proc_rps=%s trigger_ms=%s",
                progress.get("batchId"),
                progress.get("numInputRows"),
                progress.get("inputRowsPerSecond"),
                progress.get("processedRowsPerSecond"),
                (progress.get("durationMs") or {}).get("triggerExecution"),
            )
        return progress
