"""Contract tests for bench.py (round-3 verdict items 1/2/5).

The round-2 bench printed one ~2.5 KB JSON line; the driver's bounded
stdout tail truncated its head and recorded ``"parsed": null``. The
contract now is: per-query detail goes to BENCH_DETAIL.json + an early
stdout line, and the FINAL stdout line is a compact object. Warmup
failures must be fatal and name the query; ``--compare`` diffs against
a previous round's detail map.
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


def test_compare_flags_cross_band_regressions(tmp_path, capsys):
    prev = tmp_path / "prev.json"
    cur = tmp_path / "cur.json"
    prev.write_text(
        json.dumps(
            {"queries": {"a": 1.0, "b": 0.05, "c": 2.0, "big": 10.0, "gone": 1.0}}
        )
    )
    # a: 2.1x and +1.1s -> cross-band, INVESTIGATE with the sub-7s
    # fixed-overhead annotation. b: 3x but only +0.1s (< abs floor) ->
    # host noise, not flagged. c: improved. big: 14s is 1.4x from a
    # >=7s base -> INVESTIGATE without the annotation. gone: absent in
    # current -> skipped.
    cur.write_text(
        json.dumps({"queries": {"a": 2.1, "b": 0.15, "c": 1.0, "big": 14.0, "new": 9.9}})
    )
    rc = bench.compare(str(cur), str(prev))
    out = capsys.readouterr().out
    assert rc == 1
    flagged = {
        line.split()[1].rstrip(":"): line
        for line in out.splitlines()
        if line.startswith("INVESTIGATE")
    }
    assert set(flagged) == {"a", "big"}
    assert "[fixed-overhead]" in flagged["a"]
    assert "[fixed-overhead]" not in flagged["big"]


def test_compare_in_band_movement_not_flagged(tmp_path, capsys):
    """Movement inside the pinned ±35 % session band (round-8 close)
    must be counted as ambient, not flagged — the whole point of
    encoding the band (round-8 verdict task 4)."""
    prev = tmp_path / "prev.json"
    cur = tmp_path / "cur.json"
    prev.write_text(json.dumps({"queries": {"a": 1.0, "d": 4.0}}))
    cur.write_text(json.dumps({"queries": {"a": 1.1, "d": 5.2}}))  # 1.1x, 1.3x
    assert bench.compare(str(cur), str(prev)) == 0
    out = capsys.readouterr().out
    assert "no cross-band regressions" in out
    assert "2 slower but in-band" in out


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
