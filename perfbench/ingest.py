"""Ingestion workload: seeded JSON-array batch files at the reference fault
rates, drained through the engine's consumer (text-file stream -> parse ->
route -> bronze and dead-letter parquet sinks).

Two phases share the layers and differ in batch size:

* backlog: pre-staged 1000-event files drained with ``StreamProcessor.start(
  available_now=True)`` at a fixed ``maxFilesPerTrigger``; per-row cost
  dominates. Gives the events-per-second figure.
* paced: an open-loop generator thread lands one small file on a fixed
  schedule while the stream runs on a processing-time trigger; the fixed
  per-batch cost dominates. Gives per-file freshness, timed from each
  file's scheduled landing time.

Every file is replayed through the same seeded generator to get its exact
expected bronze event ids and dead letters by reason; a file whose records
are not exactly accounted for in the sinks is a failed operation.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

from spark_streaming_practicum_spark.consumer_cli import EVENT_SCHEMA
from spark_streaming_practicum_spark.producer import BatchSerializer, EventFactory
from spark_streaming_practicum_spark.sources.streaming import text_file_stream
from spark_streaming_practicum_spark.streaming.processor import StreamProcessor
from spark_streaming_practicum_spark.streaming.sinks import ParquetSink

# Reference producer fault rates (10% each).
INVALID_SCHEMA_CHANCE = 0.1
DUPLICATE_CHANCE = 0.1
CORRUPTION_CHANCE = 0.1

BACKLOG_FILE_EVENTS = 1000
BACKLOG_FILES_PER_DRAIN = 40
MAX_FILES_PER_TRIGGER = 20  # ~20k events per micro-batch
PACED_FILE_EVENTS = 125
PACED_PERIOD_S = 0.0625  # 16 files/s = 2000 events/s
PACED_TRIGGER = "1 second"
REPLAY_FILES = 20
WARMUP_FILES = 10  # one micro-batch of the backlog's file size
PACED_RAMP_S = 2.0  # files due in the first seconds warm the stream up, unsampled


def _canon(raw: str) -> str:
    """Order-insensitive identity of one JSON record (Spark re-serializes
    array elements compactly, Python's json.dumps does not)."""
    try:
        return json.dumps(json.loads(raw), sort_keys=True)
    except ValueError:
        return "corrupt:" + hashlib.sha1(raw.encode()).hexdigest()


@dataclass
class BatchFile:
    name: str
    payload: str
    bronze: Counter  # event_id -> count
    dead: Counter  # (reason, canonical record) -> count


def make_files(seed: int, n_files: int, events_per_file: int, prefix: str) -> list[BatchFile]:
    """Generate ``n_files`` batch payloads with the producer's factory and
    serializer, recording each file's expected routing."""
    factory = EventFactory(
        seed=seed, invalid_schema_chance=INVALID_SCHEMA_CHANCE, duplicate_chance=DUPLICATE_CHANCE
    )
    serializer = BatchSerializer(corruption_chance=CORRUPTION_CHANCE, seed=seed + 1)
    files = []
    for i in range(n_files):
        events = list(factory.create_random_events(events_per_file))
        payload = serializer.serialize(events)
        bronze: Counter = Counter()
        dead: Counter = Counter()
        if len(payload) != len(json.dumps(events)):
            dead[("corrupted_batch", _canon(payload))] += 1
        else:
            for ev in events:
                if "event_id" in ev:
                    bronze[ev["event_id"]] += 1
                else:
                    dead[("invalid_schema", _canon(json.dumps(ev)))] += 1
        files.append(BatchFile(f"{prefix}{i:06d}.json", payload, bronze, dead))
    return files


def land(directory: Path, staging: Path, f: BatchFile) -> None:
    """Write-then-rename, so the stream never lists a half-written file."""
    tmp = staging / f.name
    tmp.write_text(f.payload)
    os.rename(tmp, directory / f.name)


def stage(work: Path, tag: str, files: list[BatchFile]) -> Path:
    """Land ``files`` into a fresh ``<tag>_in`` directory under ``work``."""
    directory, staging = work / f"{tag}_in", work / f"{tag}_staging"
    directory.mkdir()
    staging.mkdir()
    for f in files:
        land(directory, staging, f)
    return directory


def _read_sink(path: Path, columns: list[str]) -> list[tuple]:
    """Rows of a parquet sink directory, read with pyarrow (independently
    of the engine under test)."""
    import pyarrow.parquet as pq

    if not path.exists():
        return []
    return list(zip(*pq.read_table(path, columns=columns).to_pydict().values()))


def check_sinks(bronze_dir: Path, dead_dir: Path, files: list[BatchFile]) -> int:
    """Failed files: those whose expected records differ from what the two
    sinks hold, plus each unexpected record that belongs to no file."""
    got_bronze = Counter(eid for (eid,) in _read_sink(bronze_dir, ["event_id"]))
    got_dead = Counter(
        (reason, _canon(raw))
        for reason, raw in _read_sink(dead_dir, ["_dead_letter_reason", "_raw_record"])
    )
    want_bronze: Counter = Counter()
    want_dead: Counter = Counter()
    owners: dict = {}
    for f in files:
        want_bronze.update(f.bronze)
        want_dead.update(f.dead)
        for key in f.bronze:
            owners.setdefault(("b", key), set()).add(f.name)
        for key in f.dead:
            owners.setdefault(("d", key), set()).add(f.name)
    bad_files: set = set()
    spurious = 0
    for tag, want, got in (("b", want_bronze, got_bronze), ("d", want_dead, got_dead)):
        for key in set(want) | set(got):
            if want[key] != got[key]:
                if (tag, key) in owners:
                    bad_files |= owners[(tag, key)]
                else:
                    spurious += 1
    return len(bad_files) + spurious


class TimedSink:
    """Sink object injected into ``StreamProcessor``: delegates to a
    ``ParquetSink`` and records each write's duration and end time."""

    def __init__(self, path: Path):
        self.sink = ParquetSink(str(path))
        self.path = path
        self.durations: list[float] = []
        self.ends: list[float] = []

    def write(self, batch) -> None:
        t0 = time.perf_counter()
        self.sink.write(batch)
        self.durations.append(time.perf_counter() - t0)
        self.ends.append(time.time())


@dataclass
class Drain:
    """One stream run over its own checkpoint and sinks."""

    root: Path
    wall_s: float = 0.0
    cpu_s: float = 0.0  # CPU time of the whole process tree during the drain
    progress: list[dict] = field(default_factory=list)
    jobs: int = 0
    processor: StreamProcessor = field(init=False)
    bronze: TimedSink = field(init=False)
    dead: TimedSink = field(init=False)

    def __post_init__(self) -> None:
        self.bronze = TimedSink(self.root / "bronze")
        self.dead = TimedSink(self.root / "dead")
        self.processor = StreamProcessor(
            schema=EVENT_SCHEMA,
            valid_sink=self.bronze,
            dead_letter_sink=self.dead,
            checkpoint_location=str(self.root / "checkpoint"),
            trigger_interval=PACED_TRIGGER,
        )

    def routed_rows(self) -> int:
        return sum(m.valid_rows + m.dead_letter_rows for m in self.processor.metrics)

    def batch_files(self) -> dict[int, list[str]]:
        """Batch id -> file names, from the file source's checkpoint log."""
        out: dict[int, set[str]] = {}
        log_dir = self.root / "checkpoint" / "sources" / "0"
        for entry in sorted(log_dir.iterdir()) if log_dir.exists() else []:
            if entry.name.startswith("."):
                continue
            # A ``.compact`` log repeats the entries of earlier batches.
            for line in entry.read_text().splitlines()[1:]:
                rec = json.loads(line)
                out.setdefault(rec["batchId"], set()).add(rec["path"].rsplit("/", 1)[-1])
        return {b: sorted(names) for b, names in out.items()}

    def commit_times(self) -> dict[int, float]:
        """Batch id -> wall time its dead-letter write (the second sink
        write of ``process_batch``) returned."""
        return {m.batch_id: t for m, t in zip(self.processor.metrics, self.dead.ends)}


def progress_records(query) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in query.recentProgress]


def drain_available(spark, in_dir: Path, root: Path) -> Drain:
    """Drain everything in ``in_dir`` with the available-now trigger."""
    from perfbench.harness import process_cpu_s

    drain = Drain(root)
    cpu0, t0 = process_cpu_s(), time.perf_counter()
    query = drain.processor.start(
        text_file_stream(spark, str(in_dir), max_files_per_trigger=MAX_FILES_PER_TRIGGER),
        available_now=True,
    )
    query.awaitTermination()
    drain.wall_s = time.perf_counter() - t0
    drain.cpu_s = process_cpu_s() - cpu0
    drain.progress = progress_records(query)
    # Structured Streaming runs each query's jobs under its run id.
    drain.jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))
    return drain


@dataclass
class PacedResult:
    drain: Drain
    landed: list[tuple[BatchFile, float, float]]  # file, scheduled, landed
    freshness: list[float]  # files due after the ramp
    uncommitted: int  # landed files no committed batch holds
    lag_files_max: int
    wall_s: float


def run_paced(spark, work: Path, files: list[BatchFile], duration_s: float,
              tag: str) -> PacedResult:
    """Open loop: land ``files`` one per period for ``PACED_RAMP_S +
    duration_s`` while the stream runs, and wait until every landed file
    is committed. Freshness is sampled from files due after the ramp."""
    in_dir, staging = work / f"{tag}_in", work / f"{tag}_staging"
    in_dir.mkdir()
    staging.mkdir()
    from perfbench.harness import process_cpu_s

    cpu0 = process_cpu_s()
    drain = Drain(work / f"{tag}_drain")
    query = drain.processor.start(text_file_stream(spark, str(in_dir)))
    landed: list[tuple[BatchFile, float, float]] = []
    n_due = min(len(files), int((PACED_RAMP_S + duration_s) / PACED_PERIOD_S))
    t_start = time.time() + 0.5  # let the first trigger start

    def generator() -> None:
        for i, f in enumerate(files[:n_due]):
            due = t_start + i * PACED_PERIOD_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            land(in_dir, staging, f)
            landed.append((f, due, time.time()))

    thread = threading.Thread(target=generator, name="paced-generator", daemon=True)
    thread.start()
    thread.join()
    names = {f.name for f, _, _ in landed}
    deadline = time.time() + 60.0
    while time.time() < deadline:
        committed = drain.commit_times()
        done = {n for b, ns in drain.batch_files().items() if b in committed for n in ns}
        if names <= done:
            break
        time.sleep(0.05)
    query.stop()
    wall = time.time() - t_start
    drain.cpu_s = process_cpu_s() - cpu0
    drain.progress = progress_records(query)
    batch_of = {n: b for b, ns in drain.batch_files().items() for n in ns}
    commits = drain.commit_times()
    t_sample = t_start + PACED_RAMP_S
    freshness = [
        commits[batch_of[f.name]] - due
        for f, due, _ in landed
        if due >= t_sample and f.name in batch_of and batch_of[f.name] in commits
    ]
    # Backlog seen at each commit: files landed by then, not yet committed.
    per_batch = Counter(batch_of.values())
    lag = 0
    committed_so_far = 0
    for b in sorted(commits):
        committed_so_far += per_batch[b]
        landed_by = sum(1 for _, _, t in landed if t <= commits[b])
        lag = max(lag, landed_by - committed_so_far)
    uncommitted = sum(
        1 for f, _, _ in landed if f.name not in batch_of or batch_of[f.name] not in commits
    )
    return PacedResult(drain, landed, freshness, uncommitted, lag, wall)
