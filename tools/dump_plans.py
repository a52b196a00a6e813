"""Dump query plans: PLANS.md, or per-query files for an optimization
ledger.

With no arguments, writes the `explain(formatted)` physical plans of
the bench headline queries to PLANS.md — the written record of the
plan-quality claims (pushdown, pruning, broadcast, partial agg,
TakeOrderedAndProject) that tests/test_plan_quality.py asserts
programmatically.

Given OUT_DIR and TAG, writes for each named query (default: the bench
headline set)
  OUT_DIR/<query>_<tag>.txt        explain("formatted") (static plan)
  OUT_DIR/<query>_<tag>_final.txt  AQE-final executed plan (only with
                                   --final): the query is collect()ed
                                   and the runtime-reoptimized plan is
                                   read back, FINAL section only — the
                                   evidence for runtime ReusedExchange
                                   claims (verdict-r11 #4: a noop write
                                   creates its own QueryExecution whose
                                   executedPlan is the PRE-AQE plan, and
                                   executedPlan().toString() prints both
                                   final and initial plans, doubling
                                   node counts; both traps are handled
                                   here).

Queries run through runner.run_query, so builds that write scratch
files leave nothing behind. The data is $SPARK_GRAFT_SF_DIR, by
default sf0.001 for PLANS.md and sf0.1 (the bench scale) for ledgers.

Usage: python tools/dump_plans.py
       python tools/dump_plans.py OUT_DIR TAG [--final] [query ...]
       e.g. python tools/dump_plans.py plans/r12 before --final word_count
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from hadoop_main_spark.plans.registry import REGISTRY
from hadoop_main_spark.runner import run_query
from hadoop_main_spark.session import get_spark


def explain_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().rstrip()


def final_plan_text(df) -> str:
    """Collect the frame and return the AQE-final executed plan text
    (the section before 'Initial Plan', i.e. the runtime-reoptimized
    tree with ReusedExchange / AQEShuffleRead nodes resolved)."""
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    # AdaptiveSparkPlan prints "<final plan>\n+- == Initial Plan ==\n..."
    marker = "== Initial Plan =="
    if marker in full:
        full = full.split(marker)[0].rstrip().rstrip("+-").rstrip()
    return full


def write_plans_md(spark, sf_dir: str) -> None:
    out = [
        "# PLANS — formatted physical plans of the bench headline queries",
        "",
        f"Generated by `python tools/dump_plans.py` at {sf_dir}.",
        "These are the plans the engine actually executes; the properties",
        "the docstrings claim (pushdown, pruning, broadcasts, partial",
        "aggregation, top-k as TakeOrderedAndProject) are each visible",
        "below and pinned by `tests/test_plan_quality.py`.",
        "",
    ]
    names = [n for n, q in REGISTRY.items() if q.bench]
    for name in names:
        plan = run_query(spark, name, sf_dir, action=explain_text).result
        out += [f"## {name}", "", (REGISTRY[name].doc or "").strip(), ""]
        out += ["```", plan, "```", ""]
    with open(os.path.join(_REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(names)} plans)")


def write_ledger(spark, sf_dir: str, args: argparse.Namespace) -> None:
    os.makedirs(args.out_dir, exist_ok=True)
    names = args.queries or [n for n, q in REGISTRY.items() if q.bench]
    for name in names:
        plan, final = run_query(
            spark,
            name,
            sf_dir,
            action=lambda df: (
                explain_text(df),
                final_plan_text(df) if args.final else None,
            ),
        ).result
        path = os.path.join(args.out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain(formatted) at {sf_dir} [{args.tag}]\n\n")
            f.write(plan + "\n")
        print("wrote", path)
        if final is not None:
            fp = os.path.join(args.out_dir, f"{name}_{args.tag}_final.txt")
            with open(fp, "w") as f:
                f.write(
                    f"# {name} — AQE-final executedPlan (post-collect, "
                    f"final section only) at {sf_dir} [{args.tag}]\n\n"
                )
                f.write(final.rstrip() + "\n")
            print("wrote", fp)


def main() -> None:
    ap = argparse.ArgumentParser(prog="dump_plans.py")
    ap.add_argument("out_dir", nargs="?", help="ledger directory (omit for PLANS.md)")
    ap.add_argument("tag", nargs="?", help="file-name tag, e.g. before/after")
    ap.add_argument("--final", action="store_true", help="also dump AQE-final plans")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_intermixed_args()
    if args.out_dir is not None and args.tag is None:
        ap.error("OUT_DIR needs a TAG")
    if args.out_dir is None and args.final:
        ap.error("--final needs OUT_DIR and TAG")
    unknown = [n for n in args.queries if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    default_sf = "/root/testdata/sf0.1" if args.out_dir else "/root/testdata/sf0.001"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", default_sf)
    spark = get_spark("dump-plans")
    if args.out_dir is None:
        write_plans_md(spark, sf_dir)
    else:
        write_ledger(spark, sf_dir, args)
    spark.stop()


if __name__ == "__main__":
    main()
