"""Strict driver-contract sweep: raw sorted-row equality vs DuckDB.

The suite's parity mirror (tests/test_oracle_parity.py) reproduces the
driver's pandas pipeline, where DuckDB DECIMAL/HUGEINT surface as
float64 — faithful to the gate, but blind to a Spark-side DECIMAL
leaking into a result schema (round 6 caught exactly one such drift).
This sweep compares the RAW fetchall() rows from both engines instead:
ints must be ints, Decimals must match as Decimals, floats compare at
12 dp. Stricter than the gate; anything green here is green there.

Usage:
    python scripts/driver_contract_sweep.py [--sf 0.1] [N | name|prefix* ...]

With an integer N (default 50), sweeps the first N names of the
__spark_entry__.queries() enumeration — i.e. exactly the names the
driver's 50-sample will draw this round. With explicit names, sweeps
those; a trailing ``*`` prefix-matches a family (``dedup_* window_*``).
``--sf`` selects the testdata scale (default 0.01, the driver's gate
scale; 0.1 is the scale tier added in round 8 — the round-7 df-cap bug
was scale-dependent and invisible at sf0.01).

NaN canonicalization: Spark NULL and float NaN are DISTINCT tokens
here (round-7 advice). The driver's own pandas-path hash conflates
them (NULL floats surface as NaN in toPandas), so this is strictly
harder than the gate, as advertised. Likewise IEEE -0.0 and +0.0 are
DISTINCT tokens (round-8 advice: the grpo_group_advantage defect
class must stay detectable); only a -0.0 produced by rounding a tiny
negative inside the 1e-12 tolerance is identified with +0.0.
"""

from __future__ import annotations

import importlib.util
import math
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()
SF_DIR = "/root/testdata/sf0.01"


def canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        r = round(v, 12)
        if r == 0.0:
            # Everything inside the 1e-12 zero tolerance is identified
            # with +0.0 — EXCEPT an exact IEEE -0.0, which keeps its
            # sign as an explicit token element so a Spark-vs-oracle
            # sign-of-zero divergence (the grpo_group_advantage defect
            # class) still FAILS. The explicit element (rather than a
            # bare -0.0, which == 0.0 under tuple equality yet
            # repr-sorts apart) keeps sorting and equality consistent.
            neg_zero = v == 0.0 and math.copysign(1.0, v) < 0
            return ("f", 0.0, -1.0 if neg_zero else 1.0)
        return ("f", r)
    if isinstance(v, datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("t", datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (list, tuple)):
        return ("a", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, canon(x)) for k, x in v.items())))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    return ("s", str(v))


def main() -> int:
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs = mod.queries()
    osql = mod.oracle_sql()

    argv = sys.argv[1:]
    global SF_DIR
    if "--sf" in argv:
        i = argv.index("--sf")
        SF_DIR = f"/root/testdata/sf{argv[i + 1]}"
        argv = argv[:i] + argv[i + 2:]
    if argv and not argv[0].isdigit():
        names = []
        for a in argv:
            if a.endswith("*"):
                hits = [n for n in qs if n.startswith(a[:-1])]
                if not hits:
                    print(f"warning: no queries match {a!r}")
                names.extend(hits)
            else:
                names.append(a)
    else:
        n = int(argv[0]) if argv else 50
        names = list(qs)[:n]

    from pyspark.sql import SparkSession

    from spark_streaming_practicum_spark.session import driver_memory, host_cpus

    cpus = host_cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory(16))
        .getOrCreate()
    )
    con = duckdb.connect()
    # Fail fast instead of spilling: the round-8 sf0.1 tier's first run
    # filled the disk when an exponentially-inlined oracle CTE chain
    # (graph_kcore_peel pre-MATERIALIZED) spilled >80 GB of DuckDB temp.
    con.execute("SET memory_limit='24GB'")
    con.execute("SET temp_directory=''")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    failures, rows_only = [], []
    t_all = time.time()
    for i, name in enumerate(names, 1):
        t0 = time.time()
        sdf = qs[name](spark, SF_DIR)
        s_cols = sorted(sdf.columns)
        s_rows = sorted(
            (tuple(canon(v) for v in (r[c] for c in s_cols)) for r in sdf.collect()),
            key=repr,
        )
        if name not in osql:
            rows_only.append(name)
            print(f"[{i:3d}/{len(names)}] {name}: ROWS-ONLY ({len(s_rows)} rows, "
                  f"{time.time() - t0:.2f}s)")
            continue
        cur = con.execute(osql[name])
        o_cols = sorted(d[0] for d in cur.description)
        o_idx = [[d[0] for d in cur.description].index(c) for c in o_cols]
        o_rows = sorted(
            (tuple(canon(r[j]) for j in o_idx) for r in cur.fetchall()), key=repr
        )
        ok = s_cols == o_cols and s_rows == o_rows
        if not ok:
            detail = "cols" if s_cols != o_cols else (
                f"rows {len(s_rows)} vs {len(o_rows)}"
                if len(s_rows) != len(o_rows)
                else "values"
            )
            if detail == "values":
                diff = next(
                    (a, b) for a, b in zip(s_rows, o_rows) if a != b
                )
                detail = f"values; first diff: spark={diff[0]} oracle={diff[1]}"
            failures.append((name, detail))
        print(
            f"[{i:3d}/{len(names)}] {name}: {'OK' if ok else 'FAIL'} "
            f"({len(s_rows)} rows, {time.time() - t0:.2f}s)"
        )
    print(
        f"\n{len(names) - len(failures) - len(rows_only)} strict-OK, "
        f"{len(rows_only)} rows-only, {len(failures)} FAIL "
        f"in {time.time() - t_all:.1f}s"
    )
    for name, detail in failures:
        print(f"  FAIL {name}: {detail}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
