"""The measured process: one SparkSession and one closed-loop client.

``run.py`` starts this file in a fresh process, either to time set-up
alone (``--setup-only``) or for a whole measured run. A run is:

1. set-up: imports, the registry included, and ``session.get_spark``
   on ``local[cpus]``;
2. the cold pass: every query of the workload once, in the order the
   workload lists them, ``build()`` plus the noop write action, in a
   fresh session;
3. the check pass, untimed: every query's result collected and compared
   with its DuckDB oracle by ``tools/check_correctness.py``;
4. one warm-up pass, like the cold one but left out of the warm
   metrics: the JIT compiler is still speeding queries up;
5. warm passes, timed like the cold one, until ``--seconds`` have gone
   by and at least three have run.

The seed permutes the query order of every pass after the cold one.
With ``--trace 1`` the cold pass and every second warm pass are traced:
spans are recorded, a streaming listener is registered, persisted RDDs
and temporary entries are sampled after each query, and the per-layer
numbers are read from Spark's status stores once the pass has ended.
The untraced warm passes around them give the tracing overhead.

The last line of standard output is one JSON object for ``run.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]

from hadoop_main_spark.plans.registry import REGISTRY  # noqa: E402
from hadoop_main_spark.session import get_spark  # noqa: E402
from layers import Span, StatusReader, StreamRecorder, pass_metrics  # noqa: E402
from procfs import vm_hwm_mb  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MB = 1024 * 1024
#: the median of three warm passes does not hinge on how many fit in
#: ``--seconds``; the JIT is still speeding up the first ones
MIN_WARM_PASSES = 3


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def start_session(cpus: int):
    return get_spark("perfbench", master=f"local[{cpus}]")


class Run:
    """One measured run: its passes, timed samples, failures and spans."""

    def __init__(self, spark, args, queries: tuple[str, ...]) -> None:
        self.spark = spark
        self.args = args
        self.queries = queries
        self.rng = random.Random(args.seed)
        self.tmp_dir = os.environ["TMPDIR"]
        self.spans = []
        self.samples: list[dict] = []  # timed (query, pass) samples
        self.passes: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0
        self.layers: list[dict] = []  # per traced pass
        self.reader = self.streams = self.root = None
        if args.trace:
            self.reader = StatusReader(spark)
            self.streams = StreamRecorder()
            self.root = self.span(None, "run", args.workload, time.time())

    def span(self, parent: Span | None, kind: str, name: str, start: float, end: float = 0.0) -> Span:
        s = Span(len(self.spans), parent.id if parent else None, kind, name, start, end)
        self.spans.append(s)
        return s

    def order(self, kind: str) -> list[str]:
        names = list(self.queries)
        if kind != "cold":
            self.rng.shuffle(names)
        return names

    def fail(self, name: str, kind: str, detail: str) -> None:
        self.failures.append({"query": name, "pass": len(self.passes), "kind": kind, "detail": detail})
        print(f"perfbench: {name} {kind}: {detail}", file=sys.stderr, flush=True)

    def timed_pass(self, kind: str, traced: bool) -> None:
        names = self.order(kind)
        jsc = self.spark.sparkContext._jsc
        top = self.span(self.root, "pass", kind, time.time()) if traced else None
        if traced:
            self.spark.streams.addListener(self.streams)
            batches_before = len(self.streams.batches)
        persisted_peak, tmp_new = 0, 0
        query_spans = []
        t_pass = time.perf_counter()
        for name in names:
            q = REGISTRY[name]
            self.attempted += 1
            before = set(os.listdir(self.tmp_dir)) if traced else None
            e0, t0 = time.time(), time.perf_counter()
            t1 = e1 = None
            try:
                df = q.build(self.spark, self.args.data)
                e1, t1 = time.time(), time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                ok = True
            except Exception:  # a failing query is counted, the run goes on
                ok = False
                self.fail(name, "error", traceback.format_exc(limit=3))
            t2, e2 = time.perf_counter(), time.time()
            if t1 is None:
                t1, e1 = t2, e2
            self.samples.append(
                {"query": name, "pass": len(self.passes), "kind": kind, "ok": ok,
                 "build_s": t1 - t0, "action_s": t2 - t1, "total_s": t2 - t0}
            )
            if traced:
                qs = self.span(top, "query", name, e0, e2)
                qs.attrs["ok"] = ok
                query_spans += [
                    self.span(qs, "build", name, e0, e1),
                    self.span(qs, "action", name, e1, e2),
                ]
                persisted_peak = max(persisted_peak, jsc.getPersistentRDDs().size())
                tmp_new += len(set(os.listdir(self.tmp_dir)) - before)
        record = {
            "kind": kind,
            "order": names,
            "wall_s": time.perf_counter() - t_pass,
            "traced": traced,
        }
        record.update(self.resources())
        self.passes.append(record)
        if traced:
            top.end = time.time()
            # progress events reach the listener through the listener
            # bus; the last ones may still be queued
            self.reader.drain()
            self.spark.streams.removeListener(self.streams)
            m = pass_metrics(
                self.reader,
                top,
                query_spans,
                self.streams.batches[batches_before:],
                {"persisted_peak": persisted_peak, "tmp_dirs_created": tmp_new},
                self.args.cpus,
            )
            m["kind"] = kind
            self.layers.append(m)

    def resources(self) -> dict:
        """Persisted RDDs and MB in the private temp dir right now."""
        return {
            "persisted_rdds": self.spark.sparkContext._jsc.getPersistentRDDs().size(),
            "tmp_mb": dir_bytes(self.tmp_dir) / MB,
        }

    def check_pass(self) -> None:
        """Every answer against its oracle, outside any timed region."""
        from check_correctness import check_one, duck_connection

        from hadoop_main_spark.tables import data_fingerprint

        con = duck_connection(self.args.data)
        fp = data_fingerprint(self.args.data)
        names = self.order("check")
        t0 = time.perf_counter()
        for name in names:
            self.attempted += 1
            line, status = check_one(
                self.spark, con, name, REGISTRY[name], self.args.data, True, fp
            )
            if status != "pass":
                self.fail(name, "oracle", line)
        con.close()
        self.passes.append(
            {"kind": "check", "order": names, "wall_s": time.perf_counter() - t0,
             "traced": False, **self.resources()}
        )


def leftovers(run: Run, setup: dict) -> dict[str, float]:
    """What the passes left behind, per pass: persisted RDDs and MB in
    the private temp dir after the last one."""
    last, n = run.passes[-1], len(run.passes)
    return {
        "cached_rdds_left": last["persisted_rdds"] / n,
        "tmp_leak_mb": (last["tmp_mb"] - setup["tmp_mb"]) / n,
    }


def layer_summary(run: Run, setup: dict, left: dict) -> dict[str, float]:
    """Per-layer numbers: the median over traced warm passes, plus the
    cold pass's Python-worker start and the run's leftovers."""
    warm = [m for m in run.layers if m["kind"] == "warm"]
    cold = [m for m in run.layers if m["kind"] == "cold"]
    out = {k: statistics.median(m[k] for m in warm) for k in warm[0] if k != "kind"}
    out["operators.python_start_cold_s"] = cold[0]["operators.python_start_s"]
    out["session.start_s"] = setup["session_s"]
    out["checkpoints.cached_rdds_left"] = left["cached_rdds_left"]
    out["checkpoints.tmp_leak_mb"] = left["tmp_leak_mb"]
    walls = {
        t: [p["wall_s"] for p in run.passes if p["kind"] == "warm" and p["traced"] == t]
        for t in (True, False)
    }
    out["trace.overhead_s"] = statistics.median(walls[True]) - statistics.median(walls[False])
    return out


def measure(args) -> dict:
    t0 = time.time()
    spark = start_session(args.cpus)
    ready = time.time()
    setup = {
        "ready_ts": ready,
        "session_s": ready - t0,
        "tmp_mb": dir_bytes(os.environ["TMPDIR"]) / MB,
    }
    run = Run(spark, args, WORKLOADS[args.workload])
    run.timed_pass("cold", traced=bool(args.trace))
    run.check_pass()
    run.timed_pass("warmup", traced=False)
    t_warm = time.perf_counter()
    n_warm = 0
    while n_warm < MIN_WARM_PASSES or time.perf_counter() - t_warm < args.seconds:
        run.timed_pass("warm", traced=bool(args.trace) and n_warm % 2 == 1)
        n_warm += 1
    rss = vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb(os.getpid())
    left = leftovers(run, setup)
    warm_walls = [p["wall_s"] for p in run.passes if p["kind"] == "warm" and not p["traced"]]
    result = {
        "setup": setup,
        "cpus": spark.sparkContext.defaultParallelism,
        "passes": run.passes,
        "samples": run.samples,
        "failures": run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "cold_pass_s": run.passes[0]["wall_s"],
        "warm_pass_s": statistics.median(warm_walls),
        "peak_rss_mb": rss,
        **left,
    }
    if args.trace:
        run.root.end = time.time()
        result["layers"] = layer_summary(run, setup, left)
        result["layer_passes"] = run.layers
        result["spans"] = [s.__dict__ for s in run.spans]
    spark.stop()
    return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--setup-only", action="store_true")
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", help="directory holding the generated tables")
    p.add_argument("--cpus", type=int, required=True)
    args = p.parse_args(argv)
    if args.setup_only:
        start_session(args.cpus)
        print(json.dumps({"ready_ts": time.time()}), flush=True)
        # the JVM exits when its stdin closes with this process
        os._exit(0)
    print(json.dumps(measure(args)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
