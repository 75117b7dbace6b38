"""Table maintenance (reference design space: small-file compaction is
acknowledged and deferred at /root/reference/README.md:78-80; Iceberg
would use rewrite_data_files — this is the plain-parquet equivalent).

Streaming sinks produce one file per micro-batch per partition; at a
30 s trigger that's ~2.9k files/day/partition. Compaction rewrites a
directory to ~target-sized files so scans stay planning-cheap."""

from __future__ import annotations

import math
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

from ..sources.batch import read_parquet

TARGET_FILE_BYTES = 128 * 1024 * 1024  # cluster-appropriate default


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Rewrite a parquet directory into ~target_file_bytes files.

    Returns the new file count. Write-then-swap: the rewrite lands in a
    sibling temp dir and replaces the original atomically-ish (rename),
    so concurrent readers never see a half-written table. (Iceberg's
    rewrite_data_files does this transactionally; for plain parquet this
    is the operational compromise.)"""
    src = Path(path)
    total_bytes = sum(f.stat().st_size for f in src.rglob("*.parquet"))
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))

    tmp = Path(tempfile.mkdtemp(dir=src.parent, prefix=f".{src.name}-compact-"))
    (
        read_parquet(spark, str(src))
        .coalesce(n_files)
        .write.mode("overwrite")
        .parquet(str(tmp))
    )
    old = src.with_name(src.name + ".old")
    src.rename(old)
    tmp.rename(src)
    shutil.rmtree(old)
    return len(list(src.glob("*.parquet")))
