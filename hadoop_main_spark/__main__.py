"""CLI driver — the ToolRunner/JobClient analog (SURVEY.md §3.3).

Usage:
  python -m hadoop_main_spark list
  python -m hadoop_main_spark run <query> [--sf-dir DIR] [--limit N] [--out PATH]
  python -m hadoop_main_spark bench
  python -m hadoop_main_spark validate-sort <parquet_path> --key KEY

The reference drives every example through `ToolRunner.run(new
Tool(), args)` (EX/terasort/TeraSort.java:49); here a query name
selects a registry entry and the DataFrame program replaces the
hand-assembled job DAG.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="hadoop_main_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registry queries")

    run_p = sub.add_parser("run", help="run one registry query")
    run_p.add_argument("query")
    run_p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    run_p.add_argument("--limit", type=int, default=20)
    run_p.add_argument("--out", help="write full result as parquet instead of showing")

    sub.add_parser("bench", help="run the bench harness")

    sql_p = sub.add_parser("sql", help="run Spark SQL over the registered tables")
    sql_p.add_argument("statement")
    sql_p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sql_p.add_argument("--limit", type=int, default=20)

    vs = sub.add_parser("validate-sort", help="order+checksum validation of a sorted table")
    vs.add_argument("path")
    vs.add_argument("--key", default="key")

    cp = sub.add_parser("compact", help="compact small parquet files to ~target size")
    cp.add_argument("path")
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument("--out")

    zo = sub.add_parser("zorder", help="rewrite a parquet table Z-ordered on two int columns")
    zo.add_argument("path")
    zo.add_argument("out")
    zo.add_argument("col_a")
    zo.add_argument("col_b")
    zo.add_argument("--files", type=int, default=16)

    args = ap.parse_args(argv)

    from hadoop_main_spark.plans.registry import REGISTRY

    if args.cmd == "list":
        for name, q in REGISTRY.items():
            tags = ("bench " if q.bench else "") + ("oracle" if q.oracle else "rows-only")
            print(f"{name:28s} [{tags}] {q.doc.splitlines()[0][:90]}")
        return 0

    from hadoop_main_spark.session import get_spark

    spark = get_spark("hadoop-main-spark-cli")
    try:
        if args.cmd == "run":
            if args.query not in REGISTRY:
                print(f"unknown query: {args.query}", file=sys.stderr)
                return 2
            from hadoop_main_spark.runner import run_query

            def action(df):
                if args.out:
                    df.write.mode("overwrite").parquet(args.out)
                    print(f"wrote {args.out}")
                else:
                    df.show(args.limit, truncate=False)

            run_query(spark, args.query, args.sf_dir, action=action)
            return 0
        if args.cmd == "sql":
            from hadoop_main_spark.tables import register_views

            register_views(spark, args.sf_dir)
            spark.sql(args.statement).show(args.limit, truncate=False)
            return 0
        if args.cmd == "bench":
            import os as _os

            sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
            import bench

            bench.main()
            return 0
        if args.cmd == "validate-sort":
            from hadoop_main_spark.sources.generators import validate_sorted

            report = validate_sorted(spark.read.parquet(args.path), args.key)
            print(json.dumps(report))
            return 0 if report["misordered"] == 0 else 1
        if args.cmd == "compact":
            from hadoop_main_spark.sources.sinks import compact_small_files

            report = compact_small_files(
                spark, args.path, args.target_mb * 1024 * 1024, args.out
            )
            print(json.dumps(report))
            return 0
        if args.cmd == "zorder":
            from hadoop_main_spark.sources.layouts import write_zordered

            write_zordered(
                spark.read.parquet(args.path), args.out, args.col_a, args.col_b,
                n_files=args.files,
            )
            print(f"wrote {args.out}")
            return 0
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
