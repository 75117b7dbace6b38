"""Session-conf hygiene (round-4 verdict task 5).

A long-lived session sweeps 400+ queries; any operator that mutates
session conf and does NOT restore it changes the plans of every query
that runs after it — the exact "session-conf drift" suspect in the
round-4 ambient bench regression. Two guards:

1. A SOURCE LINT: ``spark.conf.set`` may appear only at the whitelisted
   sites below, each of which is either (a) wrapped in try/finally
   restore-to-previous, or (b) an idempotent session invariant (always
   set to the same constant value, so re-running it cannot drift).
2. A RUNTIME CHECK: snapshot the drift-prone confs, run the one query
   family that genuinely swaps conf mid-flight (the transformWithState
   RocksDB pin) plus a catalog read (timeZone pin), and assert the
   snapshot is restored / unchanged.
"""

from __future__ import annotations

import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / "spark_streaming_practicum_spark"

# file -> why mutating session conf there is allowed
ALLOWED_CONF_SET_FILES = {
    # RocksDB provider pin for transformWithStateInPandas: wrapped in
    # try/finally that restores the previous value (or unsets).
    "operators/stateful_stream.py": "try/finally restore",
    # Session invariants, idempotent (same constant every call):
    # UTC timezone + nanosAsLong for oracle parity on every read path.
    "catalog.py": "idempotent constant",
}


def test_conf_set_only_at_whitelisted_sites():
    offenders = []
    for path in PKG.rglob("*.py"):
        rel = str(path.relative_to(PKG))
        hits = [
            (i + 1, line.strip())
            for i, line in enumerate(path.read_text().splitlines())
            if re.search(r"\bconf\.set\(", line)
        ]
        if hits and rel not in ALLOWED_CONF_SET_FILES:
            offenders.append((rel, hits))
    assert not offenders, (
        "conf.set outside the hygiene whitelist — wrap in try/finally "
        f"restore or justify in ALLOWED_CONF_SET_FILES: {offenders}"
    )


def test_whitelisted_restore_sites_still_restore():
    # The stateful_stream pin must keep its finally-restore: the lint
    # above only checks WHERE conf.set happens, this checks the restore
    # is still textually paired (cheap canary against a refactor that
    # drops the finally).
    src = (PKG / "operators" / "stateful_stream.py").read_text()
    assert "finally:" in src and "conf.unset" in src


# Confs whose drift would change OTHER queries' plans or results.
_DRIFT_PRONE = [
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.autoBroadcastJoinThreshold",
]


def _snapshot(spark):
    return {k: spark.conf.get(k, None) for k in _DRIFT_PRONE}


def test_conf_restored_after_conf_touching_queries(spark):
    from spark_streaming_practicum_spark.registry import all_queries

    defs = all_queries()
    before = _snapshot(spark)
    # the RocksDB-pinning family (cheapest member) + a catalog read
    defs["stream_tws_event_counts"].fn(spark, "/root/testdata/sf0.001").count()
    after_tws = _snapshot(spark)
    assert after_tws == before, f"TWS query drifted conf: {before} -> {after_tws}"
    defs["agg_pricing_summary"].fn(spark, "/root/testdata/sf0.001").count()
    after_read = _snapshot(spark)
    assert after_read == before, f"catalog read drifted conf: {before} -> {after_read}"


def test_stream_drain_partitions_env_override(spark, monkeypatch):
    """SSP_STREAM_DRAIN_PARTITIONS overrides the drain default and the
    session value is restored afterwards (the deploy lever for sizing
    state-store fan-out on a real cluster)."""
    from spark_streaming_practicum_spark.catalog import stream_drain_partitions

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv("SSP_STREAM_DRAIN_PARTITIONS", "3")
    with stream_drain_partitions(spark, 8):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    monkeypatch.delenv("SSP_STREAM_DRAIN_PARTITIONS")
    with stream_drain_partitions(spark, 5):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_session_defaults_fit_host(monkeypatch):
    """With no env override, build_session's master uses the CPUs this
    process may run on, and every driver-heap default (the package's 8g,
    bench.py's 24g) stays under half the host's MemAvailable, also on a
    host smaller than the defaults. The builder is faked, so no second
    session starts."""
    import os

    from spark_streaming_practicum_spark import session

    def gib(memory: str) -> int:
        assert memory.endswith("g"), memory
        return int(memory[:-1])

    class Built(Exception):
        pass

    class Builder:
        conf: dict[str, str] = {}

        def appName(self, _name):
            return self

        def master(self, master):
            return self.config("master", master)

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            raise Built

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    with pytest.raises(Built):
        session.build_session()
    host = len(os.sched_getaffinity(0))
    assert Builder.conf["master"] == f"local[{host}]"
    assert Builder.conf["spark.sql.shuffle.partitions"] == str(host)
    assert Builder.conf["spark.driver.memory"] == session.driver_memory()

    avail_gib = session._mem_available_kb() / (1024 * 1024)
    for want in (8, 24):
        assert 1 <= gib(session.driver_memory(want)) <= max(1, avail_gib / 2)

    monkeypatch.setattr(session, "_mem_available_kb", lambda: 3 * 1024 * 1024)
    assert session.driver_memory(8) == "1g"
    assert session.driver_memory(24) == "1g"
    monkeypatch.setattr(session, "_mem_available_kb", lambda: 64 * 1024 * 1024)
    assert session.driver_memory(8) == "8g"
    assert session.driver_memory(24) == "24g"
