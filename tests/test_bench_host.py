"""The bench host signature (round-9 verdict task 3) feeds --compare
adjudication; its arithmetic must be pinned so a refactor can't silently
turn steal% into garbage."""

import os.path

import pytest

import bench


@pytest.mark.skipif(
    not os.path.exists("/proc/stat"),
    reason="_cpu_sample deliberately degrades to None without /proc/stat "
    "(non-Linux); this test pins the Linux arithmetic only",
)
def test_cpu_sample_shape():
    s = bench._cpu_sample()
    assert s is not None
    assert set(s) == {"total", "iowait", "steal"}
    assert s["total"] >= s["iowait"] + s["steal"]


def test_host_signature_percentages_from_deltas():
    start = {"total": 1000, "iowait": 10, "steal": 20}
    end = {"total": 2000, "iowait": 60, "steal": 120}
    orig = bench._cpu_sample
    bench._cpu_sample = lambda: end
    try:
        sig = bench._host_signature(start)
    finally:
        bench._cpu_sample = orig
    # deltas: total 1000, iowait 50, steal 100
    assert sig["iowait_pct"] == 5.0
    assert sig["steal_pct"] == 10.0


def test_host_signature_degrades_gracefully():
    # None start (non-Linux) or a zero-width window must not divide by
    # zero — loadavg-only signature.
    sig = bench._host_signature(None)
    assert "steal_pct" not in sig and "iowait_pct" not in sig
    same = {"total": 500, "iowait": 1, "steal": 1}
    orig = bench._cpu_sample
    bench._cpu_sample = lambda: dict(same)
    try:
        sig2 = bench._host_signature(same)
    finally:
        bench._cpu_sample = orig
    assert "steal_pct" not in sig2


def test_compare_prints_host_blocks(tmp_path, capsys):
    import json

    cur = tmp_path / "cur.json"
    prev = tmp_path / "prev.json"
    layers = {"a": {"build_jobs": 0, "plan_jobs": 0, "exec_jobs": 1}}
    cur.write_text(
        json.dumps(
            {
                "queries": {"a": 1.0},
                "layers": layers,
                "host": {"loadavg1": 0.5, "steal_pct": 0.0, "iowait_pct": 0.0},
            }
        )
    )
    prev.write_text(json.dumps({"queries": {"a": 1.0}, "layers": layers}))
    rc = bench.compare(str(cur), str(prev))
    out = capsys.readouterr().out
    assert rc == 0
    assert "host[current]" in out and "steal_pct" in out
    assert "host[previous]" not in out  # absent block stays silent
