"""Per-layer numbers, read from Spark's status stores after a traced pass.

Nothing here runs inside a timed region. Jobs, stages and SQL
executions are attributed to a query's build or action span by their
submission time: queries run one after another on one thread, so every
job submitted between a span's start and end was launched by that call,
including the jobs of streaming queries that ``build()`` starts.

Layer names follow the package's modules: ``plans`` is ``build()`` on
the driver and the jobs it launches, ``engine`` the Spark jobs, stages
and tasks of the noop write action, ``sources`` the scan nodes,
``operators`` the other plan nodes and the Python-worker kernels,
``streaming`` the micro-batches, ``checkpoints`` persisted RDDs and
temporary directories. ``sources``, ``operators`` and ``streaming``
count SQL executions and stages of both spans: a checkpoint or a
micro-batch that ``build()`` runs still scans, runs kernels and writes.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024

#: Units in Spark's formatted SQL metric values (``Utils.bytesToString``
#: and ``Utils.msDurationToString``), scaled to bytes and seconds.
_UNITS = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "PiB": 1024.0**5,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_PY_RUN = "time to run Python workers"
#: Spark's "time to initialize Python workers" is left out: a reused
#: worker reports its age there, not work done for the task
_PY_START = "time to start Python workers"
_PY_IO = ("data sent to Python workers", "data returned from Python workers")


def metric_value(text: str | None) -> float:
    """Parse a formatted SQL metric: ``"27,662"``, ``"2.2 s"``, or the
    per-task form ``"total (min, med, max ...)\\n5.6 s (383 ms, ...)"``,
    whose total is the first figure of the second line."""
    if not text:
        return 0.0
    head = text.rsplit("\n", 1)[-1].split(" (", 1)[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


@dataclass
class Span:
    """One timed call: ``kind`` is run, pass, query, build or action."""

    id: int
    parent: int | None
    kind: str
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    def contains_ms(self, ms: int) -> bool:
        return int(self.start * 1000) <= ms <= int(self.end * 1000) + 1


class StreamRecorder(StreamingQueryListener):
    """Keeps every micro-batch progress report while registered."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        duration = dict(p.durationMs)
        self.batches.append(
            {
                "start_ms": int(start.timestamp() * 1000),
                "trigger_ms": duration.get("triggerExecution", 0),
                "add_batch_ms": duration.get("addBatch", 0),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class StatusReader:
    """Reads jobs, stages and SQL executions from the live status stores
    as JSON, one call per list, through Spark's own Jackson mapper."""

    #: executions fetched per read; one pass launches far fewer
    SQL_WINDOW = 400

    def __init__(self, spark: SparkSession) -> None:
        jvm = spark._jvm
        gateway = spark.sparkContext._gateway
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = gateway.new_array(jvm.double, 0)
        self._quantiles = gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._jvm = jvm
        self._acc_seen: dict[int, float] = {}

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has applied every posted event."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self, since_ms: int) -> list[dict]:
        return [
            j
            for j in self._json(self._store.jobsList(None))
            if j.get("submissionTime", 0) >= since_ms
        ]

    def stages(self, since_ms: int) -> list[dict]:
        raw = self._store.stageList(
            None, False, False, self._no_quantiles, self._jvm.java.util.ArrayList()
        )
        return [
            s
            for s in self._json(raw)
            if s.get("status") == "COMPLETE" and s.get("submissionTime", 0) >= since_ms
        ]

    def task_skew(self, stage: dict) -> float:
        """Max over median task run time of one stage."""
        summary = self._json(
            self._store.taskSummary(stage["stageId"], stage["attemptId"], self._quantiles)
        )
        if not summary:
            return 1.0
        median, top = summary["executorRunTime"]
        return top / median if median > 0 else 1.0

    def node_metrics(self, since_ms: int, spans: list[Span]) -> list[tuple[str, str, float]]:
        """``(node, metric, value)`` added by the SQL executions submitted
        within ``spans``. A plan that reads a checkpointed or cached
        subtree reports that subtree's accumulators again, with their
        running totals, so each accumulator counts once: its largest
        value, less what this reader counted for it before."""
        count = self._sql.executionsCount()
        listed = self._json(
            self._sql.executionsList(max(0, count - self.SQL_WINDOW), self.SQL_WINDOW)
        )
        out: dict[int, tuple[str, str, float]] = {}
        for e in sorted(listed, key=lambda e: e["executionId"]):
            if e.get("submissionTime", 0) < since_ms or not _in_spans(e["submissionTime"], spans):
                continue
            eid = e["executionId"]
            values = self._json(self._sql.executionMetrics(eid))
            nodes = self._json(self._sql.planGraph(eid).allNodes())
            for n in nodes:
                for m in n["metrics"]:
                    if m["metricType"] == "average":
                        continue
                    acc = m["accumulatorId"]
                    value = metric_value(values.get(str(acc)))
                    if acc not in out or value > out[acc][2]:
                        out[acc] = (n["name"], m["name"], value)
        added = []
        for acc, (node, name, value) in out.items():
            added.append((node, name, value - self._acc_seen.get(acc, 0.0)))
            self._acc_seen[acc] = value
        return added


def _in_spans(ms: int, spans: list[Span]) -> bool:
    return any(s.contains_ms(ms) for s in spans)


def pass_metrics(
    reader: StatusReader,
    pass_span: Span,
    spans: list[Span],
    batches: list[dict],
    checkpoints: dict,
    cpus: int,
) -> dict[str, float]:
    """Every per-layer number of one traced pass, read once the listener
    bus is drained. ``spans`` are the pass's build and action spans;
    ``batches`` the streaming progress reports seen while it ran;
    ``checkpoints`` the counts sampled at its query boundaries.
    ``engine.core_busy_frac`` is the executor run time of the actions
    over their wall time times ``cpus``."""
    since = int(pass_span.start * 1000)
    builds = [s for s in spans if s.kind == "build"]
    actions = [s for s in spans if s.kind == "action"]
    jobs = reader.jobs(since)
    all_stages = [s for s in reader.stages(since) if _in_spans(s["submissionTime"], spans)]
    stages = [s for s in all_stages if _in_spans(s["submissionTime"], actions)]
    nodes = reader.node_metrics(since, spans)
    build_s = sum(s.end - s.start for s in builds)
    action_s = sum(s.end - s.start for s in actions)
    run_s = sum(s["executorRunTime"] for s in stages) / 1000.0

    skews = []
    for a in actions:
        mine = [s for s in stages if a.contains_ms(s["submissionTime"])]
        if mine:
            skews.append(reader.task_skew(max(mine, key=lambda s: s["executorRunTime"])))

    scans = [n for n in nodes if n[0].startswith("Scan")]
    ops = [n for n in nodes if not n[0].startswith("Scan")]

    def total(group, *names):
        return sum(value for _node, name, value in group if name in names)

    windows = [(b["start_ms"], b["start_ms"] + b["trigger_ms"]) for b in batches]
    written = [
        s for s in all_stages if any(lo <= s["submissionTime"] <= hi for lo, hi in windows)
    ]
    input_rows = sum(b["input_rows"] for b in batches)
    written_rows = sum(s["outputRecords"] for s in written)
    return {
        "plans.build_s": build_s,
        "plans.build_jobs": sum(_in_spans(j["submissionTime"], builds) for j in jobs),
        "plans.build_share": build_s / (build_s + action_s) if build_s + action_s else 0.0,
        "engine.action_s": action_s,
        "engine.jobs": sum(_in_spans(j["submissionTime"], actions) for j in jobs),
        "engine.stages": len(stages),
        "engine.tasks": sum(s["numTasks"] for s in stages),
        "engine.executor_run_s": run_s,
        "engine.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "engine.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "engine.core_busy_frac": run_s / (action_s * cpus) if action_s > 0 else 0.0,
        "engine.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "engine.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "engine.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
        "engine.task_skew": statistics.median(skews) if skews else 1.0,
        "sources.files_read": total(scans, "number of files read"),
        "sources.read_mb": total(scans, "size of files read") / MB,
        "sources.scan_s": total(scans, "scan time"),
        "operators.rows_out": total(ops, "number of output rows"),
        "operators.peak_mem_mb": max(
            (value for _node, name, value in ops if name == "peak memory"), default=0.0
        )
        / MB,
        "operators.python_run_s": total(ops, _PY_RUN),
        "operators.python_start_s": total(ops, _PY_START),
        "operators.python_io_mb": total(ops, *_PY_IO) / MB,
        "streaming.batches": len(batches),
        "streaming.batch_ms_p50": (
            statistics.median(b["trigger_ms"] for b in batches) if batches else 0.0
        ),
        "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
        "streaming.input_rows": input_rows,
        "streaming.state_rows": max((b["state_rows"] for b in batches), default=0),
        "streaming.state_mem_mb": max((b["state_bytes"] for b in batches), default=0) / MB,
        "streaming.written_mb": sum(s["outputBytes"] for s in written) / MB,
        "streaming.write_amp": written_rows / input_rows if input_rows else 0.0,
        "checkpoints.persisted_peak": checkpoints["persisted_peak"],
        "checkpoints.tmp_dirs_created": checkpoints["tmp_dirs_created"],
    }
