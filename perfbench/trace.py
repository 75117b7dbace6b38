"""Tracing for the separate traced run: in-memory spans around each layer
call the benchmark makes, Spark job groups read back through the status
tracker (jobs, stages, tasks), JVM garbage-collection time, physical-plan
operator counts, storage pins, and task metrics read from the session's
local event log after it stops.

Everything here is outside the timed runs: ``run.py --trace 0`` never
creates a tracer.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

PLAN_PATTERNS = {
    "plan.exchanges": re.compile(r"\b(Exchange|BroadcastExchange)\b"),
    "plan.smj": re.compile(r"\bSortMergeJoin\b"),
    "plan.shj": re.compile(r"\bShuffledHashJoin\b"),
    "plan.bhj": re.compile(r"\bBroadcastHashJoin\b"),
    "plan.python_evals": re.compile(r"(EvalPython|InPandas|InArrow|PythonUDTF)"),
}


def plan_stats(plan_text: str) -> dict[str, int]:
    lines = plan_text.splitlines()
    stats = {k: sum(1 for ln in lines if p.search(ln)) for k, p in PLAN_PATTERNS.items()}
    stats["plan.lines"] = len(lines)
    return stats


class Tracer:
    """Spans plus per-job-group Spark counters. A query layer call runs
    under job group ``q|<seq>|<query>|<layer>``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.groups: dict[str, dict] = {}
        self.plans: dict[str, dict] = {}
        self.pins_rdds_max = 0
        self.pins_storage_mb_max = 0.0
        self.overhead_s = 0.0
        self._seq = 0
        self._gc0 = 0.0
        self._current: dict[tuple[str, str], str] = {}

    # ---- spans
    @contextmanager
    def span(self, name: str, **attrs):
        self.begin(name, **attrs)
        try:
            yield
        finally:
            self.end()

    def begin(self, name: str, **attrs) -> None:
        parent = self._open[-1] if self._open else None
        self.spans.append({
            "id": len(self.spans), "parent": parent, "name": name,
            "start": time.time(), "end": None, **attrs,
        })
        self._open.append(len(self.spans) - 1)

    def end(self) -> None:
        self.spans[self._open.pop()]["end"] = time.time()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span measured elsewhere (e.g. by an injected sink)."""
        parent = self._open[-1] if self._open else None
        self.spans.append({
            "id": len(self.spans), "parent": parent, "name": name,
            "start": start, "end": end, **attrs,
        })

    # ---- query layer hooks (see queries.run_query)
    def enter(self, query: str, layer: str) -> None:
        t0 = time.perf_counter()
        from pyspark import SparkContext

        self._seq += 1
        group = f"q|{self._seq}|{query}|{layer}"
        self._current[(query, layer)] = group
        sc = SparkContext._active_spark_context
        sc.setJobGroup(group, group)
        self._gc0 = jvm_gc_s(sc)
        self.begin(f"{query}.{layer}", query=query, layer=layer, group=group)
        self.overhead_s += time.perf_counter() - t0

    def leave(self, query: str, layer: str, df) -> None:
        self.end()
        t0 = time.perf_counter()
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        group = self._current.pop((query, layer))
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                if st and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        self.groups[group] = {
            "query": query, "layer": layer, "seq": self._seq,
            "jobs": len(jobs), "stages": stages, "tasks": tasks,
            "gc_s": jvm_gc_s(sc) - self._gc0,
        }
        if layer == "plan":
            self.plans[group] = plan_stats(df._jdf.queryExecution().executedPlan().toString())
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.perf_counter() - t0

    def sample_pins(self, spark) -> None:
        """Persisted RDDs and storage memory held right after a query,
        before the between-query release."""
        t0 = time.perf_counter()
        jsc = spark.sparkContext._jsc
        self.pins_rdds_max = max(self.pins_rdds_max, jsc.getPersistentRDDs().size())
        used = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
        self.pins_storage_mb_max = max(self.pins_storage_mb_max, used / 2**20)
        self.overhead_s += time.perf_counter() - t0

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            {"spans": self.spans, "groups": self.groups, "plans": self.plans, **extra}, indent=1
        ))


def jvm_gc_s(sc) -> float:
    """Collection time of every garbage collector in the JVM, which in
    local mode hosts the driver and the executors."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def event_log_task_metrics(log_dir: Path) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group, from every finished event log
    under ``log_dir``."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(log_dir.iterdir()) if log_dir.exists() else []:
        if path.name.endswith(".inprogress"):
            continue
        stage_group: dict[int, str] = {}
        with path.open() as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if not group or not m:
                        continue
                    acc = out[group]
                    sr = m.get("Shuffle Read Metrics", {})
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    acc["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    return out
