"""The benchmark's workloads: which registry queries each one runs.

Each workload loads different layers, so that a change to one layer has
a workload that exercises it and one that bypasses it (layer names are
the package's modules; see ``layers.py``):

- ``batch`` spends its time in executors: TPC-H Q1 and Q3 style scans,
  shuffles, aggregates and a join, the Hadoop word count, and a
  Python-worker kernel that decodes untrusted PNG bytes. ``build()``
  only plans. Loads ``engine``, ``sources`` and ``operators``; bypasses
  ``streaming`` and ``checkpoints``.
- ``driver`` spends most of its time inside ``build()`` on the driver:
  ``html_link_graph`` extracts outlinks in a ``mapInPandas`` kernel and
  runs PageRank rounds with eager checkpoints (it leaves persisted RDDs
  behind), and ``stream_cdc_roundtrip`` runs micro-batches whose
  ``foreachBatch`` sink rewrites its state directory (it leaves
  temporary directories behind). Loads ``plans``, ``streaming`` and
  ``checkpoints``; bypasses most of ``sources``.

Which per-layer metric should move which end-to-end metric:

- ``plans.build_s``, ``plans.build_jobs``, ``plans.build_share``:
  ``warm_pass_s`` on ``driver``; no change on ``batch``.
- ``engine.*`` (stage run, CPU and GC time, shuffle, spill, skew):
  ``warm_pass_s`` on ``batch``.
- ``sources.*``: ``warm_pass_s`` on ``batch``.
- ``operators.python_*``: ``warm_pass_s`` on both; the cold pass's
  ``python_start_cold_s``: ``cold_pass_s``.
- ``streaming.*``, including ``write_amp`` (rows written by sinks per
  input row): ``warm_pass_s`` on ``driver``; no change on ``batch``.
- ``checkpoints.*``: ``peak_rss_mb`` and the leftovers every run
  reports (``cached_rdds_left``, ``tmp_leak_mb``) on ``driver``.
- ``session.start_s``: ``setup_s`` on both.

The workloads are small on purpose: a run is meant to take about a
minute, and it pays about 13 s for two JVM start-ups and 12-18 s of
first-pass warm-up before it can time a warm pass.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    "batch": (
        "pricing_summary",
        "shipping_priority",
        "word_count",
        "png_decode_features",
    ),
    "driver": (
        "html_link_graph",
        "stream_cdc_roundtrip",
    ),
}

#: Seed of the generated tables. The table data is the same for every
#: run; ``--seed`` permutes the query order of each pass.
DATA_SEED = 42
