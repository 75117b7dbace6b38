"""SparkSession construction tuned for this engine.

Mirrors the reference's SessionBuilder role
(/root/reference/src/consumer/session_builder.py:37-120) but targets the
harness environment: local[N] single-JVM testing while keeping every
config meaningful on a real multi-executor cluster (AQE, shuffle
partition sizing, Arrow for the pandas-UDF slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """CPUs this process may run on: its affinity mask, not the machine."""
    return len(os.sched_getaffinity(0))


def _mem_available_kb() -> int:
    with open("/proc/meminfo") as meminfo:
        for line in meminfo:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1])
    return 4 * 1024 * 1024


def driver_memory(want_gb: int = 8) -> str:
    """Driver heap of ``want_gb``, capped at half of MemAvailable (whole
    GiB, at least 1): in local mode the driver is the executor, and its
    off-heap memory and Python workers need the other half."""
    cap_gb = _mem_available_kb() // (2 * 1024 * 1024)
    return f"{max(1, min(want_gb, cap_gb))}g"


def build_session(
    app_name: str = "spark_streaming_practicum_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    On the 100 TB cluster the same knobs apply — only master/memory and
    ``spark.sql.shuffle.partitions`` change (there: ~2-3x total cores,
    sized so shuffle partitions stay in the 100-200 MB range).

    Unless ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY`` say otherwise,
    the master runs one thread per CPU in this process's affinity mask
    and the driver heap is ``driver_memory()``, so no default exceeds
    the host it runs on.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or host_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic oracle comparison: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for the pandas-UDF slow path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
