"""Engine CLI: list the registered query inventory or run one query.

    python -m spark_streaming_practicum_spark list
    python -m spark_streaming_practicum_spark run agg_pricing_summary \\
        [--sf-dir /root/testdata/sf0.01] [--limit 20]

``run`` shows the first rows, then prints the run's layer record
(``runner.QueryRun``) as one JSON line.
"""

from __future__ import annotations

import argparse
import json

from .catalog import DEFAULT_SF_DIR
from .registry import all_queries


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="spark_streaming_practicum_spark")
    sub = parser.add_subparsers(dest="command", required=True)
    sub.add_parser("list", help="list registered queries")
    run = sub.add_parser("run", help="run one query and show its result")
    run.add_argument("name")
    run.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    run.add_argument("--limit", type=int, default=20)
    args = parser.parse_args(argv)

    defs = all_queries()
    if args.command == "list":
        for name in sorted(defs):
            kind = "oracle" if defs[name].oracle else "rows-only"
            doc = (defs[name].doc or "").strip().splitlines()
            print(f"{name:40s} [{kind}] {doc[0] if doc else ''}")
        return 0

    if args.name not in defs:
        parser.error(f"unknown query {args.name!r}; see `list`")
    from .runner import run_query
    from .session import build_session

    spark = build_session(app_name=f"ssp-run-{args.name}")
    run, _ = run_query(
        spark, defs[args.name].fn, args.sf_dir, lambda df: df.show(args.limit, truncate=False)
    )
    print(json.dumps({"query": args.name, **run.record()}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
