"""The two workloads and the run state they share.

* ``ingest``: the consumer path. A backlog phase (available-now drains of
  pre-staged files) gives throughput; a paced phase (open-loop arrivals,
  processing-time trigger) gives per-file freshness.
* ``queries``: a closed loop over a fixed mix of build-heavy and
  execute-heavy registered queries; throughput is queries per second of
  mix wall time and latency is one query's build + plan + execute time.
"""

from __future__ import annotations

import statistics
import time

from perfbench import harness


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Run:
    """State of one benchmark process."""

    def __init__(self, args, process_t0: float) -> None:
        self.args = args
        self.process_t0 = process_t0
        self.work = harness.prepare_env(args.workload)
        self.trace = bool(args.trace)
        self.spark = None
        self.setup = harness.Setup()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.measure_s = 0.0
        self.ingest_inputs = self.ingest_result = None
        self.query_inputs = self.query_mix = None
        self.tracer = None
        if self.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer()

    def start(self, excluded_s: float, warmup) -> None:
        self.spark = self.setup.run(self.work, self.trace, self.process_t0, excluded_s, warmup)
        # Set-up cost in CPU-seconds of the process tree: the wall-clock
        # figure swings with host contention, the work done does not.
        self.e2e["setup_s"] = self.setup.median("cpu_s")
        self.layers["setup.wall_s"] = self.setup.median("total_s")
        self.layers["session.start_s"] = self.setup.median("session_s")
        self.layers["session.warmup_s"] = self.setup.median("warmup_s")

    def fail(self, count: int, why: str) -> None:
        if count:
            self.failed += count
            self.failures.append(why)


# ------------------------------------------------------------------ ingest


class IngestInputs:
    """Seeded batch files, staged atomically: the backlog (drained afresh in
    every measured drain), its first files again as the warm-up slice, and
    the paced arrivals (landed later, on schedule)."""

    def __init__(self, run: Run, paced_s: float) -> None:
        from perfbench import ingest

        seed = run.args.seed
        t0 = time.perf_counter()
        self.backlog = ingest.make_files(
            seed, ingest.BACKLOG_FILES_PER_DRAIN, ingest.BACKLOG_FILE_EVENTS, "b"
        )
        n_paced = int((ingest.PACED_RAMP_S + paced_s) / ingest.PACED_PERIOD_S) + 1
        self.paced = ingest.make_files(seed + 7919, n_paced, ingest.PACED_FILE_EVENTS, "p")
        self.gen_s = time.perf_counter() - t0
        if run.args.wrong_expectation:
            self.backlog[0].bronze["not-an-event-id"] += 1
        self.backlog_dir = ingest.stage(run.work, "backlog", self.backlog)
        self.warm_dir = ingest.stage(run.work, "warm", self.backlog[: ingest.WARMUP_FILES])
        self.prepare_s = time.perf_counter() - t0

    def warmup(self, run: Run):
        from perfbench.ingest import drain_available

        def go(spark, i: int) -> None:
            drain_available(spark, self.warm_dir, run.work / f"warmup{i}")

        return go


def ingest_phases(run: Run, inputs: IngestInputs, backlog_s: float, paced_s: float,
                  min_drains: int) -> dict:
    """Backlog drains for ``backlog_s``, then a paced phase of ``paced_s``;
    then every drain's sinks are checked against the generator's ground
    truth."""
    from perfbench import ingest

    spark, tracer = run.spark, run.tracer
    drains = []
    cpu0, t0 = harness.process_cpu_s(), time.perf_counter()
    t_end = t0 + backlog_s
    # Start another drain only while it is expected to end within budget.
    while len(drains) < min_drains or (
        time.perf_counter() + drains[-1].wall_s <= t_end
    ):
        if tracer:
            tracer.begin("backlog.drain", drain=len(drains))
        drain = ingest.drain_available(spark, inputs.backlog_dir, run.work / f"drain{len(drains)}")
        if tracer:
            for sink, label in ((drain.bronze, "sinks.bronze_write"), (drain.dead, "sinks.dead_write")):
                for d, end in zip(sink.durations, sink.ends):
                    tracer.record(label, end - d, end)
            tracer.end()
        drains.append(drain)
    backlog_wall = time.perf_counter() - t0
    backlog_cpu = harness.process_cpu_s() - cpu0
    busy = backlog_cpu / (backlog_wall * harness.host_cpus())
    if tracer:
        tracer.begin("paced")
    paced = ingest.run_paced(spark, run.work, inputs.paced, paced_s, "paced")
    if tracer:
        tracer.end()
    run.measure_s += backlog_wall + paced.wall_s
    harness.log(f"ingest measured: {len(drains)} drains, {len(paced.landed)} paced files")
    for i, d in enumerate(drains):
        bad = ingest.check_sinks(d.bronze.path, d.dead.path, inputs.backlog)
        run.attempted += len(inputs.backlog)
        run.fail(bad, f"backlog drain {i}: {bad} files not exactly accounted for")
    landed = [f for f, _, _ in paced.landed]
    bad = ingest.check_sinks(paced.drain.bronze.path, paced.drain.dead.path, landed)
    run.attempted += len(landed)
    run.fail(bad, f"paced: {bad} files not exactly accounted for")
    run.fail(paced.uncommitted, "paced: landed files never committed")
    harness.log("ingest sinks checked")
    return {"drains": drains, "paced": paced, "cpu_busy_share": busy}


def ingest_metrics(run: Run, res: dict) -> None:
    """End to end: events routed per CPU-second over both phases (bulk
    per-row cost and small-batch fixed cost together). Per layer: the
    wall-clock views, backlog events/s and paced freshness."""
    drains, paced = res["drains"], res["paced"].drain
    run.e2e["work_per_cpu_s"] = sum(d.routed_rows() for d in drains + [paced]) / sum(
        d.cpu_s for d in drains + [paced]
    )
    fresh = res["paced"].freshness
    run.layers["throughput.wall_per_s"] = sum(d.routed_rows() for d in drains) / sum(
        d.wall_s for d in drains
    )
    run.layers["latency.p50_s"] = harness.quantile(fresh, 0.5)
    run.layers["latency.p90_s"] = harness.quantile(fresh, 0.9)


def workload_ingest(run: Run) -> None:
    half = run.args.seconds / 2
    run.ingest_inputs = IngestInputs(run, half)
    run.start(run.ingest_inputs.prepare_s, run.ingest_inputs.warmup(run))
    run.ingest_result = ingest_phases(run, run.ingest_inputs, half, half, min_drains=1)
    ingest_metrics(run, run.ingest_result)


# ----------------------------------------------------------------- queries


class QueryInputs:
    def __init__(self, run: Run) -> None:
        from perfbench import queries, tables

        t0 = time.perf_counter()
        self.dir = run.work / "tables"
        tables.generate(self.dir, run.args.seed, queries.TABLE_SCALE)
        self.gen_s = time.perf_counter() - t0

    def warmup(self):
        from perfbench import queries

        # Warm-up is one pass over the mix, so every measured pass runs
        # code the JIT has already compiled.
        def go(spark, i: int) -> None:
            queries.run_mix(spark, self.dir, queries.MIX, 0.0)

        return go


def query_phase(run: Run, inputs: QueryInputs, seconds: float, min_passes: int):
    """Passes over the mix for ``seconds``; then the last pass's results
    are checked against the DuckDB oracles."""
    from perfbench import queries
    from spark_streaming_practicum_spark.registry import all_queries

    t0 = time.perf_counter()
    mix = queries.run_mix(run.spark, inputs.dir, queries.MIX, seconds, min_passes, run.tracer)
    run.measure_s += time.perf_counter() - t0
    harness.log(f"queries measured: {len(mix.runs)} executions")
    con = queries.oracle_connection(inputs.dir)
    override = {queries.MIX[0]: []} if run.args.wrong_expectation else None
    bad = queries.check_results(mix.last_frames, all_queries(), con, override)
    con.close()
    run.attempted += len(queries.MIX)
    run.fail(len(set(bad) | set(mix.errors)), f"queries: mismatched {bad}, raised {mix.errors}")
    harness.log("query results checked")
    return mix


def per_query(mix, attr: str) -> dict[str, float]:
    """Median over the measured passes of one query's ``attr``."""
    from perfbench import queries

    return {n: median(getattr(r, attr) for r in mix.runs if r.name == n) for n in queries.MIX}


def query_metrics(run: Run, mix) -> None:
    """End to end: queries per CPU-second over the measured passes. Per
    layer: queries per second of wall time and the median and p90 of the
    per-query wall times."""
    run.e2e["work_per_cpu_s"] = len(mix.runs) / sum(r.cpu_s for r in mix.runs)
    walls = per_query(mix, "wall_s")
    run.layers["throughput.wall_per_s"] = len(walls) / sum(walls.values())
    run.layers["latency.p50_s"] = harness.quantile(walls.values(), 0.5)
    run.layers["latency.p90_s"] = harness.quantile(walls.values(), 0.9)


def workload_queries(run: Run) -> None:
    run.query_inputs = QueryInputs(run)
    run.start(run.query_inputs.gen_s, run.query_inputs.warmup())
    run.query_mix = query_phase(run, run.query_inputs, run.args.seconds, min_passes=2)
    query_metrics(run, run.query_mix)


WORKLOADS = {"ingest": workload_ingest, "queries": workload_queries}
