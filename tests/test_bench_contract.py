"""Contract tests for bench.py.

Per-query detail goes to BENCH_DETAIL.json and an early stdout line,
and the FINAL stdout line is a compact object that a bounded tail
capture still parses. Warm-up failures are fatal and name the query;
``--compare`` gates on the per-layer job counts of two detail files.
"""

from __future__ import annotations

import ast
import importlib
import json
from pathlib import Path

import pytest

import bench
from spark_streaming_practicum_spark.registry import QueryDef, all_queries


def test_headline_queries_all_registered():
    """A headline name missing from the registry must be caught here,
    not silently skipped at bench time (round-2 bench dropped unknown
    names defensively; now they are warmup failures)."""
    defs = all_queries()
    missing = [n for n in bench.HEADLINE if n not in defs]
    assert missing == []


def _detail(path, jobs: dict, wall: float = 1.0, layers: bool = True) -> str:
    """A detail file whose queries ran ``jobs[name]`` = (build, plan, exec) jobs."""
    detail = {"queries": {name: wall for name in jobs}}
    if layers:
        detail["layers"] = {name: dict(zip(bench.LAYER_JOBS, n)) for name, n in jobs.items()}
    path.write_text(json.dumps(detail))
    return str(path)


def test_compare_flags_cross_band_regressions(tmp_path, capsys):
    """A regression is a shared query running more jobs in some layer:
    ``--compare`` names query and layer and exits 1; a fall or a query
    in only one file is not flagged, and a file without a layers record
    is not a pass."""
    prev = _detail(tmp_path / "prev.json", {"a": (2, 0, 3), "b": (1, 0, 1), "gone": (0, 0, 1)})
    rise = _detail(tmp_path / "rise.json", {"a": (2, 0, 4), "b": (0, 0, 1), "new": (9, 9, 9)})
    assert bench.compare(rise, prev) == 1
    flagged = [line for line in capsys.readouterr().out.splitlines() if line.startswith("RISE")]
    assert flagged == ["RISE a exec_jobs: 3 -> 4"]
    bare = _detail(tmp_path / "bare.json", {"a": (2, 0, 3)}, layers=False)
    assert bench.compare(bare, prev) == 2
    assert bench.compare(prev, bare) == 2


def test_compare_in_band_movement_not_flagged(tmp_path, capsys):
    """Wall time is not gated: a 50x slower run with equal or lower job
    counts in every layer exits 0 and flags nothing."""
    prev = _detail(tmp_path / "prev.json", {"a": (2, 0, 3), "b": (1, 0, 1)})
    slower = _detail(tmp_path / "slower.json", {"a": (2, 0, 3), "b": (0, 0, 1)}, wall=50.0)
    assert bench.compare(slower, prev) == 0
    out = capsys.readouterr().out
    assert "no layer runs more jobs" in out
    assert "RISE" not in out


def test_warmup_failure_exits_nonzero_and_names_query(spark, monkeypatch, capsys, tmp_path):
    """A deliberately broken headline query must abort the bench with a
    non-zero exit naming the query (round-2: silent ``except: pass``)."""

    def _boom(spark_, sf_dir):
        raise RuntimeError("deliberately broken for contract test")

    defs = dict(all_queries())
    defs["broken_contract_q"] = QueryDef(name="broken_contract_q", fn=_boom, oracle=None)
    monkeypatch.setattr(bench, "all_queries", lambda: defs)
    monkeypatch.setattr(bench, "HEADLINE", ["agg_pricing_summary", "broken_contract_q"])
    # reuse the test session; keep main() from stopping it
    monkeypatch.setattr(bench, "build_session", lambda app_name: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "WARMUP FAILED broken_contract_q" in err
    assert "deliberately broken" in err


@pytest.mark.parametrize(
    "sf_dir, sf",
    [
        ("/data/testdata/sf0.1", 0.1),
        ("/data/testdata/sf0.01/", 0.01),
        ("/tmp/lake", None),
    ],
)
def test_sf_label_from_data_dir(sf_dir, sf):
    """The scale label is read off the dir name before the session
    starts; a dir not named ``sf<number>`` (a replicated lake) reports
    null instead of raising after every query has run."""
    assert bench.sf_label(sf_dir) == sf


def test_perfbench_engine_imports_resolve():
    """Every engine name the frozen benchmark imports, at module level or
    inside a function, still exists, so a rename fails here and not when
    the benchmark runs."""
    package = "spark_streaming_practicum_spark"
    names = []
    for path in sorted((Path(bench.__file__).parent / "perfbench").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(package):
                names += [(path.name, node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                names += [(path.name, a.name, None) for a in node.names if a.name.startswith(package)]
    assert any(f == "census.py" and n == "JsonArrayBatchParser" for f, _, n in names)
    # import_module raises for a module that is gone; hasattr catches a name
    missing = [
        (f, m, n)
        for f, m, n in names
        if not hasattr(importlib.import_module(m), n or "__name__")
    ]
    assert missing == []
