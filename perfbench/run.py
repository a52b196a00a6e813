"""Benchmark of the hadoop_main_spark query engine, run from the
repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 9 --trace 0

A run generates the input tables once per checkout (``datagen.py``,
sf0.1 unless ``--sf`` says otherwise), times set-up in two fresh
processes, and measures the workload in the second one (``client.py``):
a cold pass, an untimed pass that checks every answer against its DuckDB
oracle, a warm-up pass, and warm passes for ``--seconds``. The client is a closed loop
with one caller: one SparkSession on ``local[cpus]``, queries run one
after another.

Each run gets a private directory under ``.perfbench/runs``, whose
``tmp`` is ``TMPDIR`` and the JVM's temp dir and whose ``local`` is
``SPARK_LOCAL_DIRS`` for every process the run starts. What the passes
leave there is measured, then the directory is deleted, so runs neither
fill the disk nor see one another's leftovers.

The last line of standard output is the result: ``correct``,
``attempted``, ``failed`` and ``metrics``, which holds the end-to-end
metrics BENCHMARK.json names with ``--trace 0`` and its per-layer ones
with ``--trace 1``. The line before it is a report: cpus, the seed,
each pass's query order and wall time, every end-to-end number
with its unit (also those BENCHMARK.json leaves out because they are
zero on some workload or unsteady), sample counts and which percentile
the tail is. A traced run also writes its spans and per-layer numbers
to ``.perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from procfs import session_pids  # noqa: E402
from workloads import DATA_SEED, WORKLOADS  # noqa: E402

WORK = os.path.join(REPO, ".perfbench")
#: set-up is timed in this many fresh processes, the measured one included
SETUP_SAMPLES = 2
#: a run must end within 180 s; leave room to clean up after a kill
DEADLINE_S = 170.0
NO_PERF_DATA = "-XX:-UsePerfData"


class RunError(RuntimeError):
    pass


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def ensure_data(sf: float) -> str:
    """The generated tables for ``sf``, written once per checkout and
    again whenever ``datagen.py`` changes."""
    import datagen

    with open(datagen.__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    path = os.path.join(WORK, "data", f"sf{sf}-seed{DATA_SEED}-{version}")
    if not os.path.isdir(path):
        part = f"{path}.{os.getpid()}.part"
        shutil.rmtree(part, ignore_errors=True)
        datagen.generate(part, DATA_SEED, sf)
        os.replace(part, path)
    return path


def wait_session(proc: subprocess.Popen, timeout: float) -> None:
    """Wait for ``proc`` and for every process of its session (the JVM
    and the Python workers outlive the driver by a moment); kill what
    is left at ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        if proc.poll() is None and time.monotonic() > deadline:
            proc.kill()
        left = [p for p in session_pids(proc.pid) if p != proc.pid or proc.poll() is None]
        if not left:
            break
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
    proc.wait()


def child(args: list[str], env: dict, deadline: float) -> tuple[dict, float]:
    """Start ``client.py`` in a session of its own, return its last
    stdout line as JSON and the wall time at which it was started."""
    started = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "client.py"), *args],
        env=env,
        cwd=REPO,
        stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        wait_session(proc, 0.0)
        raise RunError("client timed out")
    wait_session(proc, max(5.0, deadline - time.monotonic()))
    lines = out.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RunError(f"client exited with code {proc.returncode}")
    return json.loads(lines[-1]), started


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest whole percentile with at least ten samples above it,
    and its value; the maximum when there are ten samples or fewer."""
    n = len(values)
    if n <= 10:
        return 100.0, max(values)
    q = float(int(100 * (n - 10) / n))
    return q, percentile(values, q)


def end_to_end(result: dict, setup_s: float) -> dict[str, dict]:
    """Every end-to-end number with its unit. BENCHMARK.json keeps those
    that are never zero and steady from run to run; the report shows all."""
    totals = [s["total_s"] for s in result["samples"] if s["ok"]]
    warm = [s["total_s"] for s in result["samples"] if s["ok"] and s["kind"] == "warm"]
    q, tail_value = tail(totals)
    values = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (result["cold_pass_s"], "s"),
        "warm_pass_s": (result["warm_pass_s"], "s"),
        "query_p50_s": (statistics.median(warm), "s"),
        "query_tail_s": (tail_value, "s"),
        "failed_frac": (result["failed"] / result["attempted"], "ratio"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
        "tmp_leak_mb": (result["tmp_leak_mb"], "MB"),
        "cached_rdds_left": (result["cached_rdds_left"], "count"),
    }
    out = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    out["query_tail_s"].update(percentile=q, samples=len(totals))
    out["query_p50_s"]["samples"] = len(warm)
    return out


def run(opts) -> dict:
    if not os.path.isfile(os.path.join(REPO, "hadoop_main_spark", "__init__.py")):
        raise RunError("run from a checkout of the repository: hadoop_main_spark/ is missing")
    if not os.path.isfile(os.path.join(REPO, "tools", "check_correctness.py")):
        raise RunError("tools/check_correctness.py is missing")
    deadline = time.monotonic() + DEADLINE_S
    data = ensure_data(opts.sf)
    run_dir = os.path.join(WORK, "runs", f"{opts.workload}-{opts.seed}-{os.getpid()}")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    n = cpus()
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(n),
        # Python workers import the package from the repository root
        PYTHONPATH=os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p),
        # the driver JVM writes its temp files to the private dir too, and
        # neither it nor spark-submit's launcher JVM a perf-data file to /tmp
        SPARK_SUBMIT_OPTS=" ".join(
            filter(None, (env.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", NO_PERF_DATA))
        ),
        SPARK_LAUNCHER_OPTS=" ".join(filter(None, (env.get("SPARK_LAUNCHER_OPTS"), NO_PERF_DATA))),
    )
    common = ["--cpus", str(n)]
    try:
        setups = []
        for _ in range(SETUP_SAMPLES - 1):
            reply, started = child(["--setup-only", *common], env, deadline)
            setups.append(reply["ready_ts"] - started)
        result, started = child(
            [
                "--workload", opts.workload,
                "--seed", str(opts.seed),
                "--seconds", str(opts.seconds),
                "--trace", str(opts.trace),
                "--data", data,
                *common,
            ],
            env,
            deadline,
        )
        setups.append(result["setup"]["ready_ts"] - started)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result["setup_samples_s"] = setups
    result["metrics_e2e"] = end_to_end(result, statistics.median(setups))
    return result


def per_query(samples: list[dict]) -> dict[str, dict]:
    """Each query's (build, action) seconds, pass by pass, by kind of pass."""
    out: dict[str, dict] = {}
    for s in samples:
        out.setdefault(s["query"], {}).setdefault(s["kind"], []).append(
            [round(s["build_s"], 4), round(s["action_s"], 4)]
        )
    return out


def report(opts, result: dict) -> dict:
    passes = result["passes"]
    return {
        "workload": opts.workload,
        "seed": opts.seed,
        "sf": opts.sf,
        "cpus": result["cpus"],
        "queries": list(WORKLOADS[opts.workload]),
        "passes": [
            {k: p.get(k) for k in ("kind", "order", "wall_s", "traced", "persisted_rdds", "tmp_mb")}
            for p in passes
        ],
        "setup_samples_s": result["setup_samples_s"],
        "per_query_s": per_query(result["samples"]),
        "failures": result["failures"],
        "end_to_end": result["metrics_e2e"],
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, help="scale factor of the tables")
    opts = p.parse_args(argv)
    try:
        result = run(opts)
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    rep = report(opts, result)
    bench = spec()
    if opts.trace:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        rep["per_layer"] = {
            k: {"value": v, "unit": units[k]} for k, v in result["layers"].items()
        }
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{opts.workload}-seed{opts.seed}.json")
        with open(path, "w") as fh:
            json.dump(
                {"report": rep, "spans": result["spans"], "layer_passes": result["layer_passes"]},
                fh,
            )
        rep["trace_file"] = os.path.relpath(path, REPO)
    section = "per_layer" if opts.trace else "end_to_end"
    metrics = {m["name"]: rep[section][m["name"]] for m in bench[section]}
    print(json.dumps({"report": rep}))
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def spec() -> dict:
    """BENCHMARK.json: the metric names and units a run prints."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    raise SystemExit(main())
