"""Round-13 scale witness (r12 verdict task 4): demonstrate at 10x the
bench SF that the three r12 changes accepted on plan-shape arguments
(nb_lang / curriculum de-hinted broadcasts; linkage via the reworked
rank helper) actually win — or at least stop losing — as data grows.

Method: build a 10x lake (documents with DISJOINT per-replica
vocabulary so vocab-keyed tables grow 10x rather than densify;
customers with shifted keys so the sorted-neighborhood input grows
10x), then time each query's CURRENT shape against its R11 shape,
interleaved min-of-N. The r11 shapes are loaded from the actual r11
git blobs (text.py / retrieval.py before the 41e85af de-hint commit;
ranks.py before the 442a3ec rank rework) with the registry decorator
no-op'd so nothing double-registers.

Usage: python scripts/scale_witness_r13.py [REPL] [ROUNDS]
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

import spark_streaming_practicum_spark.functions.ranks as ranks  # noqa: E402
import spark_streaming_practicum_spark.registry as registry  # noqa: E402
from spark_streaming_practicum_spark.catalog import table  # noqa: E402
from spark_streaming_practicum_spark.runner import run_query  # noqa: E402
from spark_streaming_practicum_spark.session import build_session  # noqa: E402

SF = "/root/testdata/sf0.1"
DEHINT_COMMIT = "41e85af"  # r12 broadcast audit; parent = r11 shapes
RANK_COMMIT = "442a3ec"  # r12 rank rework; parent = r11 helper

_PKG_OPS = os.path.join(REPO, "spark_streaming_practicum_spark", "operators")
_PKG_FNS = os.path.join(REPO, "spark_streaming_practicum_spark", "functions")


def _load_blob(ref_path: str, dest_dir: str, mod_name: str):
    """Materialize a git blob as a temp package submodule and import it
    with the @query decorator replaced by a no-op (the r11 modules
    register the same query names the live registry already holds)."""
    src = subprocess.run(
        ["git", "-C", REPO, "show", ref_path],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    path = os.path.join(dest_dir, f"{mod_name}.py")
    with open(path, "w") as f:
        f.write(src)
    orig_query = registry.query
    registry.query = lambda name, oracle=None: (lambda fn: fn)
    try:
        import importlib

        pkg = (
            "spark_streaming_practicum_spark.operators"
            if dest_dir == _PKG_OPS
            else "spark_streaming_practicum_spark.functions"
        )
        mod = importlib.import_module(f"{pkg}.{mod_name}")
    finally:
        registry.query = orig_query
    return mod, path


def build_lake(spark, out: str, repl: int) -> None:
    big = 10_000_000
    r = F.explode(F.sequence(F.lit(0), F.lit(repl - 1))).alias("rep")
    d = (
        table(spark, SF, "documents")
        .select("*", r)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * big)
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split("text", " "),
                    lambda w: F.concat(F.col("rep").cast("string"), F.lit("_"), w),
                ),
                " ",
            ),
        )
        .drop("rep")
    )
    d.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    c = (
        table(spark, SF, "customer")
        .select("*", r)
        .withColumn("c_custkey", F.col("c_custkey") + F.col("rep") * big)
        .drop("rep")
    )
    c.write.mode("overwrite").parquet(f"{out}/customer.parquet")


def main() -> None:
    repl = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = build_session(app_name="scale-witness-r13")

    r11_text, p1 = _load_blob(
        f"{DEHINT_COMMIT}^:spark_streaming_practicum_spark/operators/text.py",
        _PKG_OPS,
        "_r11w_text",
    )
    r11_retr, p2 = _load_blob(
        f"{DEHINT_COMMIT}^:spark_streaming_practicum_spark/operators/retrieval.py",
        _PKG_OPS,
        "_r11w_retrieval",
    )
    r11_ranks, p3 = _load_blob(
        f"{RANK_COMMIT}^:spark_streaming_practicum_spark/functions/ranks.py",
        _PKG_FNS,
        "_r11w_ranks",
    )

    from spark_streaming_practicum_spark.registry import all_queries

    defs = all_queries()
    cur_rank_helper = ranks.global_row_number

    def linkage_r11(spark_, sf_dir):
        ranks.global_row_number = r11_ranks.global_row_number
        try:
            return defs["linkage_sorted_neighborhood"].fn(spark_, sf_dir)
        finally:
            ranks.global_row_number = cur_rank_helper

    pairs = [
        ("nb_lang_classifier_eval", defs["nb_lang_classifier_eval"].fn,
         r11_text.nb_lang_classifier_eval),
        ("curriculum_perplexity_stages", defs["curriculum_perplexity_stages"].fn,
         r11_retr.curriculum_perplexity_stages),
        ("linkage_sorted_neighborhood", defs["linkage_sorted_neighborhood"].fn,
         linkage_r11),
    ]

    out = tempfile.mkdtemp(prefix="ssp_witness_")
    try:
        build_lake(spark, out, repl)
        print(f"lake built at {out} (x{repl})", flush=True)
        results = {}
        for name, cur_fn, old_fn in pairs:
            # warm both shapes once at 1x; the runner releases the
            # package's pins, the r11 ranks module keeps its own
            for fn in (cur_fn, old_fn):
                run_query(spark, fn, SF)
                r11_ranks.release_persisted_frames()
            t = {"cur": [], "r11": []}
            for _ in range(rounds):
                for tag, fn in (("cur", cur_fn), ("r11", old_fn)):
                    run, _ = run_query(spark, fn, out)
                    t[tag].append(round(run.wall_s, 3))
                    r11_ranks.release_persisted_frames()
            results[name] = t
            print(
                f"{name:32s} x{repl}: cur(min)={min(t['cur']):7.2f}s "
                f"r11(min)={min(t['r11']):7.2f}s  cur/r11={min(t['cur'])/min(t['r11']):5.2f}",
                flush=True,
            )
        print(json.dumps({"repl": repl, "results": results}))
    finally:
        shutil.rmtree(out, ignore_errors=True)
        for p in (p1, p2, p3):
            try:
                os.remove(p)
            except OSError:
                pass
        spark.stop()


if __name__ == "__main__":
    main()
