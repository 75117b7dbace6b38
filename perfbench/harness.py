"""Process plumbing shared by the workloads: work directories inside the
checkout, a session sized to the host, timed set-up rounds, the host
signature, peak memory, and teardown of every process the run started."""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "spark_streaming_practicum_spark"
SETUP_ROUNDS = 3


def prepare_env(workload: str) -> Path:
    """Create this run's work directory and point every temp-file writer
    (Python, the JVM, Spark's scratch space) into it. Must run before
    pyspark starts its JVM."""
    work = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return work


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on standard error (standard output carries results)."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemAvailable:"):
            return int(line.split()[1]) // 1024
    return 4096


def session_conf(work: Path, trace: bool) -> dict[str, str]:
    """Driver heap from MemAvailable (a quarter, whole GiB, 1-4 GiB): the
    package default of 8g is sized for a larger host. Progress bars are off
    so their carriage-return lines never interleave with result lines."""
    heap_gb = min(4, max(1, mem_available_mb() // 4096))
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        # C1 only: JIT compilation finishes within the set-up rounds, so the
        # short measured phase counts the engine's work, not C2 compiling.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:TieredStopAtLevel=1"
        ),
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = (work / "eventlog").as_uri()
        # One uncompressed JSON-lines file per context.
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def build(work: Path, trace: bool, cpus: int | None = None):
    """``session.build_session`` at local[<cpus>] with the host-sized conf."""
    from spark_streaming_practicum_spark.session import build_session

    cpus = cpus or host_cpus()
    return build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=session_conf(work, trace),
    )


def purge_package_modules() -> None:
    """Forget the engine's modules so the next set-up round imports them
    afresh (registry registration included)."""
    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]


@dataclass
class Setup:
    """Set-up rounds. Round 1 runs from process start (less input
    generation) to ready; later rounds stop the SparkContext, re-import
    the engine and build a fresh session in the same JVM. Each round ends
    with the workload's warm-up pass. Every round records its wall time
    and the CPU time of the process tree."""

    rounds: list[dict] = field(default_factory=list)

    def run(self, work: Path, trace: bool, process_t0: float, excluded_s: float, warmup):
        spark = None
        for i in range(SETUP_ROUNDS):
            t0 = process_t0 if i == 0 else time.perf_counter()
            cpu0 = 0.0 if i == 0 else process_cpu_s()  # round 1: since process start
            if spark is not None:
                spark.stop()
                purge_package_modules()
            t_session = time.perf_counter()
            spark = build(work, trace)
            t_registry = time.perf_counter()
            from spark_streaming_practicum_spark.registry import all_queries

            all_queries()
            t_warm = time.perf_counter()
            warmup(spark, i)
            t_ready = time.perf_counter()
            log(f"set-up round {i + 1} ready")
            self.rounds.append({
                "total_s": t_ready - t0 - (excluded_s if i == 0 else 0.0),
                "session_s": t_registry - t_session,
                "registry_s": t_warm - t_registry,
                "warmup_s": t_ready - t_warm,
                "cpu_s": process_cpu_s() - cpu0,
            })
        return spark

    def median(self, key: str) -> float:
        return statistics.median(r[key] for r in self.rounds)


# ---------------------------------------------------------------- host


def _cpu_ticks() -> list[int]:
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


class HostSampler:
    """Host signature over a run: steal and iowait shares of CPU time
    (from /proc/stat) and the 1-minute load average at the end."""

    def __init__(self) -> None:
        self._start = _cpu_ticks()

    def signature(self) -> dict[str, float]:
        end = _cpu_ticks()
        delta = [b - a for a, b in zip(self._start, end)]
        total = max(sum(delta), 1)
        return {
            "host.steal_pct": 100.0 * delta[7] / total if len(delta) > 7 else 0.0,
            "host.iowait_pct": 100.0 * delta[4] / total,
            "host.loadavg1": os.getloadavg()[0],
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            stat = (entry / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this driver process plus the JVM."""
    pids = [os.getpid()] + [p for p in descendants() if _is_java(p)]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def _is_java(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/comm").read_text().strip() == "java"
    except OSError:
        return False


def process_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants,
    including exited children they have reaped (cutime, cstime)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])
    return total / tick


def shutdown(spark, work: Path, timeout_s: float = 30.0) -> None:
    """Stop Spark, close the JVM gateway and wait until every process
    this run started has exited; then remove the work directory."""
    procs = descendants()
    if spark is not None:
        try:
            spark.stop()
        finally:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=timeout_s)
                    except Exception:
                        proc.kill()
                        proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in procs if Path(f"/proc/{p}").exists()]
        if not alive:
            break
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)
    shutil.rmtree(work, ignore_errors=True)


def quantile(values, q: float) -> float:
    """Linearly interpolated quantile (q in [0, 1]); 0.0 for no values."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
