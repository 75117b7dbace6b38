"""The benchmark's own tests.

Fast ones check the correctness gates without Spark: the ingestion ground
truth against hand-built sink files, and the oracle comparison. The smoke
tests run ``perfbench/run.py`` end to end for one second per workload and
check that every metric BENCHMARK.json names is printed with its unit, and
that a wrong expectation makes the run report a failure.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import harness, ingest, queries  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _write_sinks(tmp_path: Path, files, drop_event: str | None = None):
    """Sink directories holding exactly what ``files`` should produce."""
    bronze, dead = tmp_path / "bronze", tmp_path / "dead"
    bronze.mkdir()
    dead.mkdir()
    ids = [e for f in files for e, n in f.bronze.items() for _ in range(n)]
    if drop_event is not None:
        ids.remove(drop_event)
    pq.write_table(pa.table({"event_id": ids}), bronze / "part-0.parquet")
    reasons, raws = [], []
    for f in files:
        for (reason, canon), n in f.dead.items():
            raw = f.payload if reason == "corrupted_batch" else canon
            reasons += [reason] * n
            raws += [raw] * n
    pq.write_table(
        pa.table({"_dead_letter_reason": reasons, "_raw_record": raws}), dead / "part-0.parquet"
    )
    return bronze, dead


def test_ground_truth_has_every_fault_class():
    files = ingest.make_files(3, 30, 200, "t")
    reasons = {reason for f in files for (reason, _) in f.dead}
    assert reasons == {"corrupted_batch", "invalid_schema"}
    assert any(n > 1 for f in files for n in f.bronze.values()), "no duplicated event"


def test_exact_sinks_pass_the_gate(tmp_path):
    files = ingest.make_files(3, 12, 200, "t")
    bronze, dead = _write_sinks(tmp_path, files)
    assert ingest.check_sinks(bronze, dead, files) == 0


def test_missing_record_fails_its_file(tmp_path):
    files = ingest.make_files(3, 12, 200, "t")
    victim = next(iter(files[5].bronze))
    bronze, dead = _write_sinks(tmp_path, files, drop_event=victim)
    assert ingest.check_sinks(bronze, dead, files) >= 1


def test_wrong_expectation_fails_the_gate(tmp_path):
    files = ingest.make_files(3, 12, 200, "t")
    bronze, dead = _write_sinks(tmp_path, files)
    files[0].bronze["not-an-event-id"] += 1
    assert ingest.check_sinks(bronze, dead, files) == 1


def test_oracle_comparison_is_type_strict():
    cols = ["a", "b"]
    assert queries.canon_rows(cols, [(1, 2.0)]) == queries.canon_rows(cols, [(1, 2.0)])
    assert queries.canon_rows(cols, [(1, 2.0)]) != queries.canon_rows(cols, [(1.0, 2.0)])
    assert queries.canon_rows(cols, [(1, 2.0)]) != queries.canon_rows(cols, [])


def test_quantile_interpolates():
    assert harness.quantile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert harness.quantile([5.0], 0.9) == 5.0
    assert harness.quantile([], 0.5) == 0.0


def _run(workload: str, trace: int, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_emits_every_metric(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    named = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in named}
    for m in named:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_wrong_expectation_trips_the_run(workload):
    result = _run(workload, 0, "--wrong-expectation")
    assert result["correct"] is False
    assert result["failed"] >= 1
