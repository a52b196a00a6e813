"""One way to run a query — the ToolRunner.run analog (SURVEY.md §3.3).

``run_query`` builds a registry query, runs one action on its
DataFrame and times the two spans. It also owns the run's scratch
directories: everything ``build()`` obtains from ``scratch_dir`` is
deleted when the run ends, the way the reference's job commit deletes
the job's temporary directories (``FileOutputCommitter``, SURVEY §2).
bench.py, the sweep, the scale gate, the oracle checker, the plan
dumper and the CLI ``run`` all run queries through it.
"""

from __future__ import annotations

import atexit
import contextvars
import shutil
import tempfile
import time
from collections.abc import Callable
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession

#: scratch directories of the run in progress on this thread/context;
#: None outside any run
_RUN_DIRS: contextvars.ContextVar[list[str] | None] = contextvars.ContextVar(
    "run_scratch_dirs", default=None
)
#: scratch directories made outside any run, deleted at interpreter exit
_PROCESS_DIRS: list[str] = []


def _free(dirs: list[str]) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    dirs.clear()


atexit.register(_free, _PROCESS_DIRS)


def scratch_dir(prefix: str) -> str:
    """A fresh temp directory for a query's intermediate files.

    The scratch-directory contract, for every registry query that
    writes to disk inside ``build()`` (roundtrip writes, streaming
    sinks and checkpoints, snapshot tables):

    - The directory is ``tempfile.mkdtemp(prefix=prefix)``, so it
      lands under ``TMPDIR`` like any other temp file.
    - Inside ``run_query`` it belongs to that run and is deleted when
      the run ends, also when the build or the action raises. The
      run is tracked per context, so queries run on several threads
      at once each delete only their own directories.
    - Outside any run (the ``__spark_entry__`` driver contract, which
      executes the returned DataFrames itself, or a direct
      ``build()`` call) it belongs to the process and is deleted at
      interpreter exit. A DataFrame that reads from it stays valid
      until then.
    - Local mode: the driver creates the path and executors open it,
      so it needs a filesystem they share. On a real cluster, write
      to a shared-FS path (HDFS/S3) instead.
    """
    path = tempfile.mkdtemp(prefix=prefix)
    dirs = _RUN_DIRS.get()
    (_PROCESS_DIRS if dirs is None else dirs).append(path)
    return path


def _noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run(NamedTuple):
    build_s: float
    action_s: float
    result: Any

    @property
    def wall_s(self) -> float:
        return self.build_s + self.action_s


def run_query(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    action: Callable[[DataFrame], Any] = _noop_write,
) -> Run:
    """Build registry query ``name`` over ``sf_dir``, run ``action`` on
    the DataFrame and free the run's scratch directories.

    ``build_s`` covers ``build()``, which for iterative and streaming
    queries includes real compute (eager checkpoints, micro-batches);
    ``action_s`` covers the action, by default a noop write that runs
    the whole plan without collecting it. The result must not refer
    to the scratch directories lazily: they are gone on return."""
    from hadoop_main_spark.plans.registry import REGISTRY

    dirs: list[str] = []
    token = _RUN_DIRS.set(dirs)
    try:
        t0 = time.perf_counter()
        df = REGISTRY[name].build(spark, sf_dir)
        t1 = time.perf_counter()
        result = action(df)
        t2 = time.perf_counter()
    finally:
        _RUN_DIRS.reset(token)
        _free(dirs)
    return Run(t1 - t0, t2 - t1, result)
