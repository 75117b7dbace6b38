"""Stateful stream queries run from a driver that finds the package only
through ``sys.path``.

Their state functions are pickled by reference, so every Python worker
imports the package itself. A worker starts in the JVM's working
directory with the JVM's environment, so unless ``pbcompat.worker_env``
hands it the package root, a driver script run from elsewhere with
``sys.path.insert`` fails every micro-batch with
``ModuleNotFoundError``."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

from .conftest import SF_DIR

_REPO = pathlib.Path(__file__).resolve().parents[1]

_SCRIPT = f"""
import sys
sys.path.insert(0, {str(_REPO)!r})
from spark_streaming_practicum_spark.registry import all_queries
from spark_streaming_practicum_spark.session import build_session

spark = build_session(app_name="worker-env", shuffle_partitions=2)
df = all_queries()["stream_stateful_user_profile"].fn(spark, {SF_DIR!r})
print("ROWS", df.count())
spark.stop()
"""


def test_profile_query_runs_from_outside_the_repo(tmp_path, oracle_con):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    run = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    (users,) = oracle_con.execute("SELECT COUNT(DISTINCT user_id) FROM events").fetchone()
    assert f"ROWS {users}" in run.stdout.splitlines()
