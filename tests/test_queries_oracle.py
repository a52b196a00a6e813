"""Registry-vs-DuckDB oracle conformance at sf0.001 — the pytest
analog of the reference's self-validating verification jobs
(SortValidator / TeraValidate / TestWordStats, SURVEY.md §5.3).

Exact-value comparison (stronger than the driver's value hash): if
these pass, the driver's t2 gate passes.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_correctness import compare, duck_connection

from hadoop_main_spark.plans.registry import REGISTRY, resolve_oracle
from hadoop_main_spark.runner import run_query


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    q = REGISTRY[name]
    sdf = run_query(spark, name, sf_dir, action=lambda df: df.toPandas()).result
    oracle = resolve_oracle(q, sf_dir)
    if oracle is None:
        assert len(sdf) >= 0  # rows-only check
        return
    ddf = duck.execute(oracle).df()
    r = compare(sdf, ddf)
    assert r["rows_match"], f"{name}: rows {r['rows']} vs oracle {r['oracle_rows']}"
    assert r["cols_match"], f"{name}: column mismatch"
    assert r["values_exact"], f"{name}: max_abs_diff={r['max_abs_diff']}"


def test_domain_mix_weights_non_srcn_source_fallback(spark, tmp_path):
    """Review-r4b: a source not matching 'src<digits>' must take the
    weight-1 fallback on BOTH engines, not crash the ANSI cast — and
    the Spark result must still match the oracle on such data."""
    import duckdb as _duckdb
    import pandas as _pd

    docs = _pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["a b", "c d", "e f", "g h"],
            "lang": ["en"] * 4,
            "source": ["web", "src3", None, "wiki-en"],
            "n_chars": [3, 3, 3, 3],
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        d + "/documents.parquet"
    )
    got = (
        REGISTRY["domain_mix_weights"]
        .build(spark, d)
        .toPandas()
        .sort_values("n_docs", ignore_index=True)
    )
    con = _duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = (
        con.execute(REGISTRY["domain_mix_weights"].oracle)
        .df()
        .sort_values("n_docs", ignore_index=True)
    )
    weights = dict(zip(got["source"], got["weight"]))
    assert weights["web"] == 1 and weights["wiki-en"] == 1 and weights["src3"] == 4
    got2 = got.sort_values(list(got.columns), ignore_index=True, key=lambda s: s.astype(str))
    want2 = want[got.columns].sort_values(list(got.columns), ignore_index=True, key=lambda s: s.astype(str))
    assert (got2.astype(str) == want2.astype(str)).all().all()
