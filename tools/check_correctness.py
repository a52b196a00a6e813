"""Local replica of the driver's t2 correctness gate.

Runs every registry query on Spark at a given SF, runs its DuckDB
oracle on the same parquet, and compares: row count, sorted column
names, exact values (rows sorted by all columns), AND the DuckDB
result type line — any HUGEINT/UHUGEINT column is a hard failure,
because Spark has no int128 and the driver's value-hash is
type-sensitive (the round-5 funnel_3stage/twap_user_value lesson:
values matched, the un-cast SUM() typed as HUGEINT, hash failed).

Oracle results are cached under tools/.oracle_cache keyed on
(query, sf_dir, md5(oracle_sql)) so re-sweeps only pay DuckDB cost
for changed oracles; --parallel N fans the per-query work across
threads (one DuckDB cursor per thread; Spark schedules concurrent
jobs natively).

Usage:
  python tools/check_correctness.py [sf_dir] [query ...] \
      [--parallel N] [--no-cache] [--clear-cache]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from hadoop_main_spark.plans.registry import REGISTRY, resolve_oracle
from hadoop_main_spark.runner import run_query
from hadoop_main_spark.session import get_spark
from hadoop_main_spark.tables import TABLE_NAMES

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".oracle_cache")


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> dict:
    res = {
        "rows": len(spark_pdf),
        "oracle_rows": len(duck_pdf),
        "rows_match": len(spark_pdf) == len(duck_pdf),
        "cols_match": sorted(spark_pdf.columns) == sorted(duck_pdf.columns),
        "values_exact": False,
        "max_abs_diff": None,
    }
    if not (res["rows_match"] and res["cols_match"]):
        return res
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    exact = True
    max_diff = 0.0
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            af = av.astype(float)
            bf = bv.astype(float)
            both_nan = af.isna() & bf.isna()
            eq = (af == bf) | both_nan
            if not eq.all():
                exact = False
                d = (af - bf).abs().max()
                if not math.isnan(d):
                    max_diff = max(max_diff, float(d))
        else:
            if not (av.astype(str) == bv.astype(str)).all():
                exact = False
                max_diff = float("inf")
    res["values_exact"] = exact
    res["max_abs_diff"] = max_diff if not exact else 0.0
    return res


# regenerated data at the same path invalidates every cached oracle
# result (review-r6 — a stale cache would report phantom FAILs, or
# PASS a real regression that reproduces the old values); the digest
# itself is the shared tables.data_fingerprint
from hadoop_main_spark.tables import data_fingerprint as _data_fingerprint  # noqa: E402


def _cache_key(name: str, sf_dir: str, oracle: str, data_fp: str) -> str:
    """Filename layout <query>.<sf-path-key>.<content-key>: eviction
    globs on the first two components, so clearing a query's stale
    entries (changed oracle / regenerated data) never touches the
    same query's cache for OTHER sf dirs."""
    sfk = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    h = hashlib.md5(f"{data_fp}|{oracle}".encode()).hexdigest()[:16]
    return f"{name}.{sfk}.{h}"


def oracle_result(
    cur: duckdb.DuckDBPyConnection,
    name: str,
    sf_dir: str,
    oracle: str,
    use_cache: bool,
    data_fp: str = "",
) -> tuple[pd.DataFrame, list[str]]:
    """Oracle pandas result + DuckDB column-type strings, via the
    on-disk cache when (sf_dir, its parquet fingerprint, oracle text)
    are all unchanged."""
    key = _cache_key(name, sf_dir, oracle, data_fp)
    pq = os.path.join(CACHE_DIR, key + ".parquet")
    meta = os.path.join(CACHE_DIR, key + ".json")
    if use_cache and os.path.exists(pq) and os.path.exists(meta):
        with open(meta) as fh:
            types = json.load(fh)["duck_types"]
        return pd.read_parquet(pq), types
    rel = cur.sql(oracle)
    types = [str(t) for t in rel.types]
    ddf = rel.df()
    if use_cache:
        os.makedirs(CACHE_DIR, exist_ok=True)
        # evict this (query, sf_dir)'s entries under older content
        # keys (changed oracle text or regenerated data) — the cache
        # never accumulates unreachable results across iterations, and
        # other sf dirs' entries for the same query are untouched
        import glob as _glob

        sf_prefix = key.rsplit(".", 1)[0]
        for stale in _glob.glob(os.path.join(CACHE_DIR, f"{sf_prefix}.*")):
            if not os.path.basename(stale).startswith(key):
                try:
                    os.remove(stale)
                except OSError:
                    pass
        tmp = pq + ".tmp"
        try:
            ddf.to_parquet(tmp)
            os.replace(tmp, pq)
            with open(meta + ".tmp", "w") as fh:
                json.dump({"duck_types": types}, fh)
            os.replace(meta + ".tmp", meta)
        except Exception:
            # non-parquet-able oracle frames (shouldn't happen) just skip caching
            for p in (tmp, meta + ".tmp"):
                if os.path.exists(p):
                    os.remove(p)
    return ddf, types


def check_one(spark, con, name, q, sf_dir, use_cache, data_fp="") -> tuple[str, str]:
    """Returns (status_line, 'pass'|'fail'|'rows_only')."""
    t0 = time.time()
    try:
        sdf = run_query(spark, name, sf_dir, action=lambda df: df.toPandas()).result
    except Exception as e:
        return f"FAIL  {name}: spark error: {e}", "fail"
    try:
        oracle = resolve_oracle(q, sf_dir)
    except Exception as e:
        return f"FAIL  {name}: oracle resolve error: {e}", "fail"
    if oracle is None:
        return f"ok?   {name}: rows={len(sdf)} (no oracle — rows-only)", "rows_only"
    try:
        ddf, duck_types = oracle_result(con, name, sf_dir, oracle, use_cache, data_fp)
    except Exception as e:
        return f"FAIL  {name}: oracle error: {e}", "fail"
    huge = [t for t in duck_types if "HUGEINT" in t.upper()]
    r = compare(sdf, ddf)
    ok = r["rows_match"] and r["cols_match"] and r["values_exact"] and not huge
    if huge:
        r["hugeint_cols"] = huge
    status = "PASS " if ok else "FAIL "
    return f"{status} {name}: {json.dumps(r)} ({time.time()-t0:.1f}s)", (
        "pass" if ok else "fail"
    )


def main() -> int:
    args = sys.argv[1:]
    parallel = 1
    use_cache = True
    if "--clear-cache" in args:
        args.remove("--clear-cache")
        shutil.rmtree(CACHE_DIR, ignore_errors=True)
    if "--no-cache" in args:
        args.remove("--no-cache")
        use_cache = False
    if "--parallel" in args:
        i = args.index("--parallel")
        parallel = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # SPARK_GRAFT_SHUFFLE overrides shuffle parallelism — rerunning the
    # whole sweep at e.g. 5 partitions certifies results are
    # partitioning-independent
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE")
    spark = get_spark(
        "check-correctness", shuffle_partitions=int(shuffle) if shuffle else None
    )
    con = duck_connection(sf_dir)
    data_fp = _data_fingerprint(sf_dir)
    names = [n for n in REGISTRY if not only or n in only]
    failures = 0
    if parallel <= 1:
        for name in names:
            line, st = check_one(
                spark, con, name, REGISTRY[name], sf_dir, use_cache, data_fp
            )
            failures += st == "fail"
            print(line, flush=True)
    else:
        # one DuckDB cursor per worker thread (cursors share the views);
        # Spark accepts concurrent job submission from threads natively
        tls = threading.local()

        def worker(name: str) -> tuple[str, str]:
            cur = getattr(tls, "cur", None)
            if cur is None:
                cur = tls.cur = con.cursor()
            return check_one(
                spark, cur, name, REGISTRY[name], sf_dir, use_cache, data_fp
            )

        with ThreadPoolExecutor(max_workers=parallel) as ex:
            for line, st in ex.map(worker, names):
                failures += st == "fail"
                print(line, flush=True)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
