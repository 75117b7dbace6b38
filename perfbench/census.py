"""The traced run's per-layer census.

After the workload's own traced measurement, the census covers the layers
that workload did not exercise (so every traced run reports every layer):
an ingest run gets one traced pass over the query mix, a queries run gets
one backlog drain and a short paced phase. Every traced run then replays a
fixed backlog slice through parse -> split -> sinks for parser and router
self time, and drains the same slice once at local[1] as the
single-threaded baseline. ``finish`` turns it all into the per-layer
metrics and writes the spans out.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from perfbench import harness
from perfbench.workloads import (
    IngestInputs,
    QueryInputs,
    ingest_phases,
    median,
    per_query,
    query_phase,
)

CENSUS_PACED_S = 3.0
REPEATS = 3


def complete(run) -> None:
    tracer = run.tracer
    run.layers["traced.work_per_cpu_s"] = run.e2e["work_per_cpu_s"]
    measured_s, run.measure_s = run.measure_s, 0.0
    with tracer.span("census"):
        if run.ingest_result is None:
            run.ingest_inputs = IngestInputs(run, CENSUS_PACED_S)
            run.ingest_result = ingest_phases(
                run, run.ingest_inputs, 0.0, CENSUS_PACED_S, min_drains=1
            )
        if run.query_mix is None:
            run.query_inputs = QueryInputs(run)
            run.query_mix = query_phase(run, run.query_inputs, 0.0, min_passes=1)
        with tracer.span("replay"):
            replay(run)
        with tracer.span("baseline.local1"):
            baseline_local1(run)
    run.measure_s = measured_s
    run.spark.stop()  # completes the event logs


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def replay(run) -> None:
    """Parser and router self time over a fixed backlog slice: the parse
    materialization less the raw scan, and the two routed outputs less two
    scans of the persisted parse. Row counts come from the same slice."""
    from pyspark.sql import functions as F

    from perfbench.ingest import REPLAY_FILES
    from spark_streaming_practicum_spark.consumer_cli import EVENT_SCHEMA
    from spark_streaming_practicum_spark.streaming.parser import (
        HAS_EXTRA_FIELDS,
        IS_CORRUPTED,
        JsonArrayBatchParser,
    )
    from spark_streaming_practicum_spark.streaming.router import REASON, Router
    from spark_streaming_practicum_spark.streaming.sinks import ParquetSink

    spark, inputs, layers = run.spark, run.ingest_inputs, run.layers
    paths = [str(inputs.backlog_dir / f.name) for f in inputs.backlog[:REPLAY_FILES]]
    raw = spark.read.text(paths)
    parsed_plan = JsonArrayBatchParser(EVENT_SCHEMA).parse(raw)
    scan_s = median(_noop_s(raw) for _ in range(REPEATS))
    parse_s = median(_noop_s(parsed_plan) for _ in range(REPEATS))
    parsed = parsed_plan.persist()
    try:
        counts = parsed.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(IS_CORRUPTED).cast("int")).alias("corrupted"),
            F.sum(F.col(HAS_EXTRA_FIELDS).cast("int")).alias("extra"),
        ).first()
        routed = Router(EVENT_SCHEMA).split(parsed)
        cached_s = median(_noop_s(parsed) for _ in range(REPEATS))
        split_s = median(
            _noop_s(routed.valid) + _noop_s(routed.dead_letters) for _ in range(REPEATS)
        )
        reasons = dict(routed.dead_letters.groupBy(REASON).count().collect())
        valid = routed.valid.count()
        ParquetSink(str(run.work / "replay" / "bronze")).write(routed.valid)
        ParquetSink(str(run.work / "replay" / "dead")).write(routed.dead_letters)
    finally:
        parsed.unpersist()
    layers["parser.self_s"] = parse_s - scan_s
    layers["parser.records_out"] = counts["n"]
    layers["parser.corrupted_rows"] = counts["corrupted"] or 0
    layers["parser.extra_field_rows"] = counts["extra"] or 0
    layers["router.self_s"] = split_s - 2 * cached_s
    layers["router.valid_rows"] = valid
    for reason in ("corrupted_batch", "invalid_schema", "extra_fields"):
        layers[f"router.dead_rows.{reason}"] = reasons.get(reason, 0)
    layers["router.valid_share"] = valid / counts["n"] if counts["n"] else 0.0


def baseline_local1(run) -> None:
    """The replay slice drained once at local[1] in a fresh context (after
    a warm-up drain), as the single-threaded reference rate."""
    from perfbench import ingest

    run.spark.stop()
    run.spark = harness.build(run.work, run.trace, cpus=1)
    inputs = run.ingest_inputs
    ingest.drain_available(run.spark, inputs.warm_dir, run.work / "local1_warm")
    slice_dir = ingest.stage(run.work, "local1", inputs.backlog[: ingest.REPLAY_FILES])
    drain = ingest.drain_available(run.spark, slice_dir, run.work / "local1_drain")
    run.layers["baseline.local1_events_per_s"] = drain.routed_rows() / drain.wall_s


def _trigger_ms(progress: list[dict], key: str) -> list[float]:
    return [p["durationMs"][key] for p in progress if key in p.get("durationMs", {})]


def _dir_files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*.parquet")] if path.exists() else []


def finish(run) -> None:
    from perfbench.queries import MIX
    from perfbench.trace import event_log_task_metrics

    tracer, layers = run.tracer, run.layers
    # ---- query layers: times are per-query medians over passes, counts
    # come from the last pass (they repeat exactly pass to pass).
    mix = run.query_mix
    for layer in ("build", "plan", "exec"):
        layers[f"{layer}_s"] = sum(
            median(getattr(r, f"{layer}_s") for r in mix.runs if r.name == n) for n in MIX
        )
    for name, wall in per_query(mix, "wall_s").items():
        layers[f"q.{name}.wall_s"] = wall
    last = {(g["query"], g["layer"]): gid for gid, g in tracer.groups.items()}
    build_groups = [last[(n, "build")] for n in MIX if (n, "build") in last]
    plan_groups = [last[(n, "plan")] for n in MIX if (n, "plan") in last]
    exec_groups = [last[(n, "exec")] for n in MIX if (n, "exec") in last]
    layers["build_jobs"] = sum(tracer.groups[g]["jobs"] for g in build_groups)
    layers["exec_jobs"] = sum(tracer.groups[g]["jobs"] for g in exec_groups)
    layers["exec_stages"] = sum(tracer.groups[g]["stages"] for g in exec_groups)
    layers["exec_tasks"] = sum(tracer.groups[g]["tasks"] for g in exec_groups)
    for key in ("plan.exchanges", "plan.smj", "plan.shj", "plan.bhj", "plan.python_evals",
                "plan.lines"):
        layers[key] = sum(tracer.plans[g][key] for g in plan_groups if g in tracer.plans)
    t0 = time.perf_counter()
    task_metrics = event_log_task_metrics(run.work / "eventlog")
    tracer.overhead_s += time.perf_counter() - t0
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "executor_cpu_s"):
        layers[f"exec.{key}"] = sum(task_metrics.get(g, {}).get(key, 0.0) for g in exec_groups)
    layers["exec.gc_s"] = sum(tracer.groups[g]["gc_s"] for g in exec_groups)
    layers["pins.persisted_rdds_max"] = tracer.pins_rdds_max
    layers["pins.storage_used_mb_max"] = tracer.pins_storage_mb_max

    # ---- ingestion layers
    res, inputs = run.ingest_result, run.ingest_inputs
    drains, paced = res["drains"], res["paced"]
    last_drain = drains[-1]
    layers["sinks.bronze_write_s"] = median(d for dr in drains for d in dr.bronze.durations)
    layers["sinks.dead_write_s"] = median(d for dr in drains for d in dr.dead.durations)
    written = _dir_files(last_drain.bronze.path) + _dir_files(last_drain.dead.path)
    layers["sinks.files_written"] = len(written)
    layers["sinks.bytes_per_input_byte"] = sum(p.stat().st_size for p in written) / sum(
        len(f.payload) for f in inputs.backlog
    )
    batches = len(last_drain.processor.metrics)
    trigger_s = [ms / 1000.0 for d in drains for ms in _trigger_ms(d.progress, "triggerExecution")]
    layers["processor.batches"] = batches
    layers["processor.batch_p50_s"] = harness.quantile(trigger_s, 0.5)
    layers["processor.batch_p90_s"] = harness.quantile(trigger_s, 0.9)
    layers["processor.jobs_per_batch"] = last_drain.jobs / batches if batches else 0.0
    layers["processor.trigger_overhead_p50_s"] = median(
        (p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"]) / 1000.0
        for p in paced.drain.progress
        if "addBatch" in p.get("durationMs", {})
    )
    layers["processor.cpu_busy_share"] = res["cpu_busy_share"]
    layers["source.files_per_batch_p50"] = median(
        len(v) for v in paced.drain.batch_files().values()
    )
    layers["source.lag_files_max"] = paced.lag_files_max
    layers["producer.gen_s"] = inputs.gen_s
    layers["producer.late_max_s"] = max((t - due for _, due, t in paced.landed), default=0.0)

    layers["trace.overhead_s"] = tracer.overhead_s
    layers["trace.overhead_share"] = tracer.overhead_s / run.measure_s if run.measure_s else 0.0
    out = harness.ROOT / ".perfbench_out" / f"trace-{run.args.workload}-seed{run.args.seed}.json"
    tracer.write(out, {"setup_rounds": run.setup.rounds, "layers": layers})
