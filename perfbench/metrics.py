"""What the benchmark reports beyond ``BENCHMARK.json``.

``BENCHMARK.json`` holds every gated end-to-end metric and every per-layer
metric with its unit and better direction; ``run.py`` reads them from
there. This module holds what that file's fixed keys cannot:

``E2E_EXTRA`` is printed and written to the artifact on every run but not
gated: ``error_rate`` is 0 at a healthy commit (a failure already fails the
run); the ``load_*`` operation types exist on ``bar_etl`` only;
``query_p50_s`` and ``query_tail_s`` rest on the 12 or 5 op latencies of one
run. With six query entries of different cost, the median falls between
two of them and moved 0.12-0.20 (IQR over median) across runs of one commit
on ``eager_operators``, close to the largest bound allowed, while ``pass_s``
carries the same latencies summed over the mix. The tail rule
(``stats.tail``) finds no percentile above the median in so few samples.

``MOVES`` maps each per-layer metric to the end-to-end metric and the
workload it should move. A layer that a workload never calls reads 0 there.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# name: unit
E2E_EXTRA = {
    "query_p50_s": "s",
    "query_tail_s": "s",
    "load_full_s": "s",
    "load_incr_s": "s",
    "load_noop_s": "s",
    "error_rate": "ratio",
}

EAGER, BAR = "eager_operators", "bar_etl"

# per-layer name: (end-to-end metric it should move, workload)
MOVES = {
    "tables.load_s": ("query_p50_s", EAGER),
    "tables.load_jobs": ("query_p50_s", EAGER),
    "registry.build_s": ("pass_s", EAGER),
    "registry.build_jobs": ("query_p50_s", EAGER),
    "registry.build_stages": ("query_p50_s", EAGER),
    "registry.build_tasks": ("query_p50_s", EAGER),
    "operators.graph.build_s": ("pass_s", EAGER),
    "operators.graph.build_jobs": ("pass_s", EAGER),
    "spark.plan_s": ("query_p50_s", EAGER),
    "spark.exec_s": ("pass_s", EAGER),
    "spark.exec_jobs": ("pass_s", EAGER),
    "spark.exec_stages": ("pass_s", EAGER),
    "spark.exec_tasks": ("pass_s", EAGER),
    "spark.executor_run_s": ("pass_s", EAGER),
    "spark.executor_cpu_s": ("pass_s", EAGER),
    "spark.shuffle_write_bytes": ("pass_s", EAGER),
    "spark.shuffle_read_bytes": ("pass_s", EAGER),
    "spark.input_bytes": ("pass_s", EAGER),
    "spark.slot_util": ("pass_s", EAGER),
    "spark.gc_s": ("peak_rss_mb", EAGER),
    "spark.storage_mem_bytes": ("peak_rss_mb", EAGER),
    "spark.tasks_failed": ("error_rate", EAGER),
    "sources.csv_s": ("load_full_s", BAR),
    "sources.csv_jobs": ("load_full_s", BAR),
    "sources.sales_s": ("load_incr_s", BAR),
    "sources.sales_jobs": ("load_noop_s", BAR),
    "sources.watermark.read_s": ("load_noop_s", BAR),
    "sources.watermark.write_s": ("load_incr_s", BAR),
    "sources.http_source.fetch_s": ("load_full_s", BAR),
    "sources.http_source.keys": ("load_full_s", BAR),
    "operators.dedup.latest_wins_s": ("load_incr_s", BAR),
    "plans.bar_pipeline.build_s": ("load_incr_s", BAR),
    "plans.bar_pipeline.build_jobs": ("load_incr_s", BAR),
    "plans.bar_pipeline.sink_s": ("load_incr_s", BAR),
    "plans.bar_pipeline.sink_jobs": ("load_incr_s", BAR),
    "plans.bar_pipeline.poc_ctas_s": ("load_incr_s", BAR),
    "runlog.flush_s": ("load_noop_s", BAR),
    "storage.files": ("load_incr_s", BAR),
    "storage.bytes_per_input_byte": ("load_incr_s", BAR),
    "trace.overhead_s": ("pass_s", EAGER),
}
