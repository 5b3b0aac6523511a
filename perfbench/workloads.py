"""Workload definitions and the per-layer -> end-to-end metric map.

Every workload is a closed loop: one client in one process issues one
query at a time on ``local[nproc]``; a *pass* runs the workload's
queries once, in order. Each query's output goes through the same
sink, a parquet write, and is checked against the registry's DuckDB
oracle after the timed passes. Why each workload was chosen is in
``BENCHMARK.json``.

Sizes are chosen so that one untraced run (set-up, a first pass and
36 s of later passes) takes about a minute on a 4-core machine: passes
of 2-5 s, in which per-job and per-query overheads, not data volume,
set the time (a 5x larger mapreduce input made a later pass only
~10% longer). ``pass_s_nominal`` is about a later pass's time on that
machine; it sets how many later passes a run makes (16 and 8), the
same number on every commit: passes keep speeding up for about ten
rounds as the JIT warms, so the pass metrics are taken over the second
half of them, and pass times wander by 10-20% from one pass to the
next on a shared host, so the median of many of them moves less with
when a run's noisy moments land.
"""

from __future__ import annotations

SINK = "parquet"

WORKLOADS = {
    "mapreduce": {
        "queries": [
            "wordcount",
            "aggregate_wordcount",
            "grep",
            "sort_rank",
            "join_orders_customer",
        ],
        # 5 isomorphic replicas of a 0.04x-sf0.1 base: 120k lineitem,
        # 30k orders, 3k customers, 4k parts, 1k documents
        "scale": 0.04,
        "replicas": 5,
        "pass_s_nominal": 2.25,
    },
    "curation": {
        "queries": [
            "pandas_udf_normalize",
            "ann_ivf_recall",
            "skyline_3d_parts",
        ],
        # 1x corpus of 0.1x-sf0.1: 500 documents, 200 embeddings, 2k parts
        "scale": 0.1,
        "replicas": 1,
        "pass_s_nominal": 4.5,
    },
}

# per-layer metric -> (end-to-end metrics it should move, workloads where)
LAYER_MAP = {
    "registry.import_s": ("setup_s", "all, equally"),
    "session.start_s": ("setup_s", "all, equally"),
    "session.warmup_s": ("setup_s", "all, equally"),
    "operators.build_s": ("pass_s, first_pass_s", "curation; ~0 on mapreduce"),
    "operators.build_jobs": ("pass_s, first_pass_s", "curation"),
    "operators.build_stages": ("pass_s, first_pass_s", "curation"),
    "operators.build_tasks": ("pass_s, first_pass_s", "curation"),
    "operators.build_job_s": ("pass_s: job dispatch", "curation"),
    "operators.build_driver_s": ("pass_s: driver Python", "curation"),
    "exec.s": ("pass_s, pass_cpu_s", "mapreduce"),
    "exec.jobs": ("pass_s, pass_cpu_s", "mapreduce"),
    "exec.stages": ("pass_s, pass_cpu_s", "mapreduce"),
    "exec.tasks": ("pass_s, pass_cpu_s", "mapreduce"),
    "exec.task_run_s": ("pass_s, pass_cpu_s", "mapreduce"),
    "exec.task_cpu_s": ("pass_s, pass_cpu_s", "mapreduce"),
    "exec.shuffle_write_mb": ("pass_s", "mapreduce"),
    "exec.shuffle_read_mb": ("pass_s", "mapreduce"),
    "exec.spill_mb": ("pass_s", "mapreduce"),
    "exec.scan_mb": ("pass_s", "mapreduce"),
    "exec.sink_mb": ("pass_s", "mapreduce"),
    "exec.failed_tasks": ("failed (attempted/failed in the result)", "mapreduce"),
    "exec.gc_s": ("pass_s; peak_rss_mb", "all"),
    "peak_rss_mb": ("none: too unsteady run to run to bound, so kept per layer", "all"),
    "functions.to_python_mb": ("pass_s, pass_cpu_s", "curation; 0 on the others"),
    "functions.from_python_mb": ("pass_s, pass_cpu_s", "curation; 0 on the others"),
    "q.<query>.build_s": ("pass metrics of its workload", "its workload"),
    "q.<query>.exec_s": ("pass metrics of its workload", "its workload"),
    "q.<query>.jobs": ("pass metrics of its workload", "its workload"),
    "trace.pass_s": ("tracing overhead = trace.pass_s - untraced pass_s", "all"),
    "trace.overhead_s": ("tracing overhead", "all"),
}
