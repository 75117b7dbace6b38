"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload {ingest,queries} --seed N \\
        --seconds S --trace {0,1}

Run it from the repository root. The engine is imported from the checkout
(``spark_streaming_practicum_spark``) and driven only through its public
functions. Inputs are generated from ``--seed`` under ``.perfbench_work/``
and removed at exit. The last line of standard output is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``:
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes the spans to ``.perfbench_out/``). BENCHMARK.json names
every metric with its unit.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=("ingest", "queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--wrong-expectation", action="store_true",
        help="perturb one expected result, to show the correctness gate trips",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    import spark_streaming_practicum_spark  # noqa: F401  (no engine, no result)

    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    from perfbench.workloads import WORKLOADS, Run

    run = Run(args, PROCESS_T0)
    host = harness.HostSampler()
    try:
        WORKLOADS[args.workload](run)
        run.layers["mem.peak_rss_mb"] = harness.peak_rss_mb()
        if run.trace:
            from perfbench import census

            census.complete(run)
        signature = host.signature()
        if run.trace:
            run.layers.update(signature)
            census.finish(run)
    finally:
        harness.shutdown(run.spark, run.work)
        harness.log("all processes stopped")
    metrics = run.layers if run.trace else run.e2e
    missing = set(units) ^ set(metrics)
    if missing:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(missing)}")
    print("host", json.dumps(signature))
    for why in run.failures:
        print("failure", why)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in sorted(units)},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
