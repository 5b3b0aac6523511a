"""Per-layer numbers of a traced run, from its spans and Spark event log.

A span is one query's plan build or execution within one pass; the
client runs each span under the Spark job group ``<pass>/<query>/<phase>``.
Jobs and stages belong to the span named by their job group. Those
without one (jobs run by threads that do not inherit the caller's
group) belong to the span during which they were submitted: the client
is a closed loop with one query in flight. Tasks belong to their
stage's span.
"""

from __future__ import annotations

import json
import os
import statistics

MB = 1024 * 1024
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
TASK_SUMS = (  # span counter -> how to read it off a task-end event
    ("task_run_s", lambda m, a: m.get("Executor Run Time", 0) / 1e3),
    ("task_cpu_s", lambda m, a: m.get("Executor CPU Time", 0) / 1e9),
    ("gc_s", lambda m, a: m.get("JVM GC Time", 0) / 1e3),
    ("shuffle_write_mb", lambda m, a: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB),
    (
        "shuffle_read_mb",
        lambda m, a: sum(m.get("Shuffle Read Metrics", {}).get(k, 0) for k in ("Remote Bytes Read", "Local Bytes Read")) / MB,
    ),
    ("spill_mb", lambda m, a: m.get("Disk Bytes Spilled", 0) / MB),
    ("scan_mb", lambda m, a: m.get("Input Metrics", {}).get("Bytes Read", 0) / MB),
    ("sink_mb", lambda m, a: m.get("Output Metrics", {}).get("Bytes Written", 0) / MB),
    ("to_python_mb", lambda m, a: a.get(PY_SENT, 0) / MB),
    ("from_python_mb", lambda m, a: a.get(PY_RETURNED, 0) / MB),
)
COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "job_s") + tuple(k for k, _ in TASK_SUMS)


def _events(eventlog_dir: str):
    for name in sorted(os.listdir(eventlog_dir)):
        with open(os.path.join(eventlog_dir, name)) as f:
            for line in f:
                yield json.loads(line)


def _union_s(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def attribute(spans: list[dict], eventlog_dir: str) -> None:
    """Add the event log's counters to each span, in place."""
    by_group = {f"{s['pass']}/{s['query']}/{s['phase']}": s for s in spans}

    def owner(ev: dict, t_ms: int):
        s = by_group.get((ev.get("Properties") or {}).get("spark.jobGroup.id"))
        if s is not None:
            return s
        t = t_ms / 1e3
        return next((s for s in spans if s["t0"] - 0.002 <= t <= s["t1"] + 0.002), None)

    for s in spans:
        s.update({k: 0 for k in COUNTERS})
        s["_jobs"] = []
    job_span, job_submit, stage_span = {}, {}, {}
    for ev in _events(eventlog_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            s = owner(ev, ev["Submission Time"])
            if s is not None:
                s["jobs"] += 1
                job_span[ev["Job ID"]] = s
                job_submit[ev["Job ID"]] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]]["_jobs"].append((job_submit[ev["Job ID"]] / 1e3, ev["Completion Time"] / 1e3))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            s = owner(ev, info.get("Submission Time", 0))
            if s is not None:
                s["stages"] += 1
                stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = s
        elif kind == "SparkListenerTaskEnd":
            s = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if s is None:
                continue
            s["tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                s["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            acc: dict = {}  # SQL metric updates arrive as strings
            for a in ev["Task Info"].get("Accumulables", []):
                if a.get("Name") in (PY_SENT, PY_RETURNED):
                    acc[a["Name"]] = acc.get(a["Name"], 0) + float(a.get("Update", 0))
            for key, read in TASK_SUMS:
                s[key] += read(m, acc)
    for s in spans:
        s["job_s"] = _union_s(s.pop("_jobs"), s["t0"], s["t1"])


def layer_metrics(spans: list[dict], measured: list[dict], queries: list[str]) -> dict[str, float]:
    """Medians over the ``measured`` passes of per-pass layer totals, plus
    one entry per query."""
    later = [p["pass"] for p in measured]

    def per_pass(phase: str, key: str) -> float:
        return statistics.median(
            sum(s[key] for s in spans if s["pass"] == p and s["phase"] == phase) for p in later
        )

    for s in spans:
        s["s"] = s["t1"] - s["t0"]
    out = {
        "operators.build_s": per_pass("build", "s"),
        "operators.build_jobs": per_pass("build", "jobs"),
        "operators.build_stages": per_pass("build", "stages"),
        "operators.build_tasks": per_pass("build", "tasks"),
        "operators.build_job_s": per_pass("build", "job_s"),
    }
    out["operators.build_driver_s"] = out["operators.build_s"] - out["operators.build_job_s"]
    for key in ("s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "scan_mb", "sink_mb", "failed_tasks", "gc_s"):
        out[f"exec.{key}"] = per_pass("exec", key)
    for key in ("to_python_mb", "from_python_mb"):
        out[f"functions.{key}"] = statistics.median(
            sum(s[key] for s in spans if s["pass"] == p) for p in later
        )
    for q in queries:
        for phase, key, name in (("build", "s", "build_s"), ("exec", "s", "exec_s")):
            vals = [s[key] for s in spans if s["query"] == q and s["phase"] == phase and s["pass"] in later]
            out[f"q.{q}.{name}"] = statistics.median(vals) if vals else 0.0
        jobs = [
            sum(s["jobs"] for s in spans if s["query"] == q and s["pass"] == p) for p in later
        ]
        out[f"q.{q}.jobs"] = statistics.median(jobs) if jobs else 0
    return out
