"""Smoke test of the benchmark at sf0.001: every workload once untraced
and once traced.

    python3 -m pytest perfbench/test_smoke.py -q

It checks that each run prints every metric BENCHMARK.json names, with
its unit, and the report line every other end-to-end number; that every
answer matched its oracle; and that the traced run wrote build and
action spans for each query of the workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

#: end-to-end numbers the report line carries, BENCHMARK.json's and more
REPORTED = {
    "setup_s", "cold_pass_s", "warm_pass_s", "query_p50_s", "query_tail_s",
    "failed_frac", "peak_rss_mb", "tmp_leak_mb", "cached_rdds_left",
}


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=REPO, capture_output=True, text=True, timeout=180, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["report"], json.loads(out[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric(workload: str, trace: int) -> None:
    assert set(WORKLOADS) == {w["name"] for w in SPEC["workloads"]}
    report, result = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    section = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in section}
    for m in section:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    assert set(report["end_to_end"]) == REPORTED
    assert all(v["unit"] for v in report["end_to_end"].values())
    assert report["cpus"] >= 1 and report["seed"] == 7
    assert all(sorted(p["order"]) == sorted(WORKLOADS[workload]) for p in report["passes"])
    if trace:
        with open(os.path.join(REPO, report["trace_file"])) as fh:
            spans = json.load(fh)["spans"]
        for q in WORKLOADS[workload]:
            kinds = {s["kind"] for s in spans if s["name"] == q}
            assert {"query", "build", "action"} <= kinds, q
