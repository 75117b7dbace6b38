"""Round-13 optimization profiler (guide §1: measure first).

For each named query: warm once at sf0.001, then time min-of-N at
$SPARK_GRAFT_SF_DIR with the noop sink, counting Spark *jobs* launched
per run (the per-job scheduler overhead class dominates at sf0.1) and
dumping ``explain('formatted')`` to plans/r13/<name>_<tag>.txt with an
Exchange/BatchEvalPython census appended.

Usage:
    python scripts/opt_profile_r13.py [--tag before] [--runs 3] name...
    python scripts/opt_profile_r13.py --top 20          # slowest headline
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_streaming_practicum_spark.registry import all_queries
from spark_streaming_practicum_spark.session import build_session, driver_memory
from spark_streaming_practicum_spark.functions.ranks import release_persisted_frames

PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13")


def census(plan: str) -> dict:
    return {
        "Exchange": len(re.findall(r"\bExchange\b", plan)),
        "ReusedExchange": len(re.findall(r"\bReusedExchange\b", plan)),
        "BroadcastExchange": len(re.findall(r"\bBroadcastExchange\b", plan)),
        "SortMergeJoin": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "BroadcastHashJoin": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "ShuffledHashJoin": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "BatchEvalPython": len(re.findall(r"\bBatchEvalPython\b", plan)),
        "ArrowEvalPython": len(re.findall(r"\bArrowEvalPython\b", plan)),
        "MapInArrow/Pandas": len(re.findall(r"\bMapIn(Arrow|Pandas)\b", plan)),
        "Window": len(re.findall(r"\bWindow\b", plan)),
        "InMemoryTableScan": len(re.findall(r"\bInMemoryTableScan\b", plan)),
        # round-13 mega-plan audit (r12 verdict item 5): plan size proxies
        # Catalyst re-optimization cost, which grows with lineage depth.
        "plan_lines": plan.count("\n"),
    }


def main() -> None:
    args = sys.argv[1:]
    tag, runs, top = "before", 3, None
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--tag":
            tag = args[i + 1]; i += 2
        elif args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--top":
            top = int(args[i + 1]); i += 2
        else:
            names.append(args[i]); i += 1
    if top:
        with open(os.path.join(os.path.dirname(os.path.dirname(PLANS_DIR)), "BENCH_DETAIL.json")) as f:
            q = json.load(f)["queries"]
        names = [k for k, _ in sorted(q.items(), key=lambda kv: -kv[1])[:top]]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", driver_memory(24))
    spark = build_session(app_name="ssp-opt-profile")
    sc = spark.sparkContext
    defs = all_queries()
    os.makedirs(PLANS_DIR, exist_ok=True)

    results = {}
    for name in names:
        fn = defs[name].fn
        # warm (JIT/codegen) at the smallest SF
        df = fn(spark, "/root/testdata/sf0.001")
        if not df.isStreaming:
            df.write.mode("overwrite").format("noop").save()
        release_persisted_frames()

        best, best_jobs = float("inf"), None
        for r in range(runs):
            sc.setJobGroup(f"{name}-{r}", name)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if df.isStreaming:
                df.count()
            else:
                df.write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            jobs = len(sc.statusTracker().getJobIdsForGroup(f"{name}-{r}"))
            if dt < best:
                best, best_jobs = dt, jobs
            release_persisted_frames()
        # plan capture: build once more (unmaterialized) for explain
        df = fn(spark, sf_dir)
        import contextlib, io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        c = census(plan)
        with open(os.path.join(PLANS_DIR, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
            f.write("\n-- census: " + json.dumps(c) + "\n")
            f.write(f"-- min-of-{runs}: {best:.3f}s, jobs(best run): {best_jobs}\n")
        release_persisted_frames()
        results[name] = {"sec": round(best, 3), "jobs": best_jobs, **c}
        print(f"{best:7.3f}s  jobs={best_jobs:3d}  Ex={c['Exchange']:2d}  Reused={c['ReusedExchange']}  Py={c['BatchEvalPython'] + c['ArrowEvalPython'] + c['MapInArrow/Pandas']}  {name}", flush=True)

    print(json.dumps({"tag": tag, "sf_dir": sf_dir, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
