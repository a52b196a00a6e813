"""runner.run_query: span timing and scratch-directory lifetime.

Every test points the temp root at its own ``tmp_path``, so "nothing
left behind" is an exact listing, not a guess about a shared /tmp."""

from __future__ import annotations

import os
import sys
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from hadoop_main_spark.plans.registry import REGISTRY, Query
from hadoop_main_spark.runner import run_query, scratch_dir


@pytest.fixture
def scratch_root(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def test_roundtrip_query_frees_its_scratch_dir(spark, sf_dir, scratch_root):
    r = run_query(
        spark,
        "nline_split_agg",
        sf_dir,
        action=lambda df: (df.collect(), os.listdir(scratch_root)),
    )
    rows, during = r.result
    assert rows and [d.startswith("nline_") for d in during] == [True]
    assert r.build_s >= 0 and r.action_s >= 0
    assert os.listdir(scratch_root) == []


def test_failed_run_frees_its_scratch_dir(scratch_root, monkeypatch):
    made: list[str] = []

    def build(spark, sf):
        made.append(scratch_dir("boom_"))
        raise RuntimeError("build failed")

    monkeypatch.setitem(REGISTRY, "_boom", Query("_boom", build, None))
    with pytest.raises(RuntimeError, match="build failed"):
        run_query(None, "_boom", "unused")
    assert len(made) == 1 and not os.path.exists(made[0])

    def action(df):
        raise RuntimeError("action failed")

    monkeypatch.setitem(
        REGISTRY, "_ok", Query("_ok", lambda spark, sf: scratch_dir("ok_"), None)
    )
    with pytest.raises(RuntimeError, match="action failed"):
        run_query(None, "_ok", "unused", action=action)
    assert os.listdir(scratch_root) == []


def test_concurrent_runs_free_only_their_own_dirs(spark, sf_dir, scratch_root):
    both_built = threading.Barrier(2, timeout=300)
    first_done = threading.Event()

    def first(df):
        df.collect()
        both_built.wait()

    def second(df):
        df.collect()
        both_built.wait()
        during = sorted(os.listdir(scratch_root))
        assert first_done.wait(300)
        return during, os.listdir(scratch_root)

    with ThreadPoolExecutor(max_workers=2) as ex:
        f1 = ex.submit(run_query, spark, "nline_split_agg", sf_dir, first)
        f2 = ex.submit(run_query, spark, "avro_roundtrip_agg", sf_dir, second)
        try:
            f1.result(timeout=600)
        finally:
            first_done.set()
        during, after_first = f2.result(timeout=600).result
    # while both ran, each had its own directory; the first run's end
    # freed only its own; the second run's end freed the rest
    assert [d.split("_")[0] for d in during] == ["avro", "nline"]
    assert [d.split("_")[0] for d in after_first] == ["avro"]
    assert os.listdir(scratch_root) == []


def test_many_threads_never_free_each_others_dirs(scratch_root, monkeypatch):
    """Spark-free stress: more threads than cores, a short switch
    interval, and each action checks that none of its run's
    directories was deleted by another run's end."""

    def build(spark, sf):
        return [scratch_dir(f"stress{i}_") for i in range(3)]

    def action(dirs):
        return all(os.path.isdir(d) for d in dirs)

    monkeypatch.setitem(REGISTRY, "_stress", Query("_stress", build, None))

    def runs(_):
        return [run_query(None, "_stress", "unused", action).result for _ in range(25)]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as ex:
            futures = [ex.submit(runs, i) for i in range(16)]
            results = [ok for f in futures for ok in f.result(timeout=120)]
    finally:
        sys.setswitchinterval(interval)
    assert len(results) == 16 * 25 and all(results)
    assert os.listdir(scratch_root) == []
