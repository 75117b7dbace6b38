"""CLI entry points: producer -> consumer(--once) pipeline and the
engine query runner — the reference's operational surface
(`python -m src.producer` / `python -m src.consumer`)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from spark_streaming_practicum_spark.catalog import DEFAULT_SF_DIR


def test_producer_cli_writes_batches(tmp_path):
    from spark_streaming_practicum_spark.producer_cli import main

    rc = main(
        [
            "--out",
            str(tmp_path / "out"),
            "--batches",
            "5",
            "--batch-size",
            "4",
            "--seed",
            "3",
        ]
    )
    assert rc == 0
    files = list((tmp_path / "out").glob("*.json"))
    assert len(files) == 5
    for f in files:
        batch = json.loads(f.read_text())
        assert len(batch) == 4


def test_producer_then_consumer_once(spark, tmp_path):
    from spark_streaming_practicum_spark.consumer_cli import main as consume
    from spark_streaming_practicum_spark.producer_cli import main as produce

    produce(
        [
            "--out",
            str(tmp_path / "in"),
            "--batches",
            "4",
            "--batch-size",
            "10",
            "--invalid-schema-chance",
            "0.2",
            "--seed",
            "5",
        ]
    )
    rc = consume(
        [
            "--input",
            str(tmp_path / "in"),
            "--bronze",
            str(tmp_path / "bronze"),
            "--dead-letters",
            str(tmp_path / "dead"),
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--trigger-interval",
            "1 seconds",
            "--once",
        ]
    )
    assert rc == 0
    bronze = spark.read.parquet(str(tmp_path / "bronze"))
    dead = spark.read.parquet(str(tmp_path / "dead"))
    assert bronze.count() + dead.count() == 40
    assert dead.count() > 0  # 20% invalid rate over 40 events


def test_engine_cli_list():
    out = subprocess.run(
        [sys.executable, "-m", "spark_streaming_practicum_spark", "list"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=120,
    )
    assert out.returncode == 0
    assert "agg_pricing_summary" in out.stdout
    # Round 9: the last rows-only query gained a certified-invariant
    # oracle, so every listed entry must carry the [oracle] tag.
    assert "[oracle]" in out.stdout and "[rows-only]" not in out.stdout


def test_engine_cli_run_shows_rows_then_the_layer_record():
    out = subprocess.run(
        [sys.executable, "-m", "spark_streaming_practicum_spark", "run", "agg_pricing_summary",
         "--sf-dir", DEFAULT_SF_DIR, "--limit", "3"],
        capture_output=True,
        text=True,
        cwd=Path(__file__).resolve().parents[1],
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    table_rows = [line for line in lines if line.startswith("|")]
    assert "l_returnflag" in table_rows[0] and len(table_rows) == 1 + 3
    record = json.loads(lines[-1])
    assert record["query"] == "agg_pricing_summary"
    assert {"build_s", "plan_s", "exec_s", "build_jobs", "plan_jobs", "exec_jobs"} <= set(record)
