#!/usr/bin/env python
"""Time registered queries with perfbench's span and event-log code.

    python bench.py [--conf k=v ...] [name ...]

Runs on local[$SPARK_GRAFT_CPUS] at $SPARK_GRAFT_SF_DIR (default: the
sf0.1 corpus, ``SF_DIR``). With no names, one pass over the whole registry,
on a fresh session every ``RECYCLE_EVERY`` queries. With names, three
passes over just those, and each query reports its fastest pass.
``--conf`` adds Spark confs to every session; each record keeps the
confs it ran with, so an A/B of a conf is two runs that differ in them.

Each query runs through ``perfbench/worker.run_pass``: its plan build
(the registered ``fn(spark, sf_dir)`` call) and its execution (a parquet
write) are separate spans, each under its own Spark job group. The Spark
event log is always on; ``perfbench/layers.attribute`` adds each span's
jobs, stages, tasks, shuffle, spill, GC and Python bytes. The event log
and the query outputs live in a temp dir removed when the run exits.

Every run appends one timestamped JSON record per query to
BENCH_HISTORY.jsonl and never rewrites earlier lines. stdout's final
line is a short summary:
{"metric": "total_query_wall_sec", "value": <sum of build_s + exec_s>,
 "unit": "sec", "sf": ..., "queries": {<10 slowest>}, "n_queries": N,
 "failed": [<names>]}.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import layers  # noqa: E402
from worker import run_pass  # noqa: E402

from velox_hadoop_spark.plans import registry
from velox_hadoop_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HISTORY = os.path.join(ROOT, "BENCH_HISTORY.jsonl")
# A session's age inflates its later queries' GC pauses (knn_top1_all
# read 0.8 s fresh, 9-13 s after ~145 prior queries), so a sweep starts
# a fresh session every this many queries.
RECYCLE_EVERY = 100
NAMED_PASSES = 3


def _iso(t: float) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(t)) + f".{int(t % 1 * 1000):03d}Z"


def _segment(names: list[str], passes: int, conf: dict, work: str, seg: int) -> tuple[list, dict]:
    """Run ``passes`` passes over ``names`` on one fresh session; return
    its spans, with the event log's counters, and each failed query's
    first error."""
    eventlog = os.path.join(work, f"eventlog-{seg}")
    os.makedirs(eventlog)
    spark = get_spark(
        app_name=f"velox_hadoop_spark-bench-{seg}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            **conf,
        },
    )
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()  # warm-up
    fns = registry.queries()
    spans: list = []
    failed: dict = {}
    for p in range(passes):
        for name in names:
            load1 = os.getloadavg()[0]
            n = len(spans)
            for f in run_pass(spark, [name], fns, SF_DIR, os.path.join(work, "out"), spans, p):
                failed.setdefault(name, f["error"])
            for s in spans[n:]:
                s["load1"] = load1
            shutil.rmtree(os.path.join(work, "out", name), ignore_errors=True)
            print(f"{name} pass {p}: " + " ".join(f"{s['phase']} {s['t1'] - s['t0']:.3f}s" for s in spans[n:]),
                  file=sys.stderr)
    spark.stop()  # flushes the event log
    layers.attribute(spans, eventlog)
    return spans, failed


def _records(names: list[str], spans: list, failed: dict, common: dict) -> list[dict]:
    """One record per query: its fastest pass that ran both spans."""
    out = []
    for name in names:
        by_pass: dict = {}
        for s in spans:
            if s["query"] == name:
                by_pass.setdefault(s["pass"], {})[s["phase"]] = s
        done = [ph for ph in by_pass.values() if len(ph) == 2]
        t0 = min((s["t0"] for ph in by_pass.values() for s in ph.values()), default=time.time())
        rec = {"ts": _iso(t0), **common, "query": name}
        if name in failed:
            rec["error"] = failed[name]
        if done:
            best = min(done, key=lambda ph: sum(s["t1"] - s["t0"] for s in ph.values()))
            rec.update(
                load1=round(best["build"]["load1"], 2),
                passes=len(by_pass),
                build_s=round(best["build"]["t1"] - best["build"]["t0"], 4),
                exec_s=round(best["exec"]["t1"] - best["exec"]["t0"], 4),
                **{ph: {k: round(s[k], 4) for k in layers.COUNTERS} for ph, s in best.items()},
            )
        out.append(rec)
    return out


def main() -> int:
    args = sys.argv[1:]
    conf: dict[str, str] = {}
    while args and args[0] == "--conf":
        if len(args) < 2 or "=" not in args[1]:
            sys.exit("usage: bench.py [--conf k=v ...] [name ...]")
        k, v = args[1].split("=", 1)
        conf[k] = v
        args = args[2:]
    qs = registry.queries()
    unknown = [n for n in args if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    names = args or sorted(qs)
    passes = NAMED_PASSES if args else 1
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Spark's Python workers import the registry's UDFs from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    common = {"run": _iso(time.time()), "nproc": len(os.sched_getaffinity(0)), "sf": sf, "conf": conf}

    # a terminated run still removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = tempfile.mkdtemp(prefix="bench-")
    records: list[dict] = []
    try:
        for seg, i in enumerate(range(0, len(names), RECYCLE_EVERY)):
            chunk = names[i : i + RECYCLE_EVERY]
            spans, failed = _segment(chunk, passes, conf, work, seg)
            recs = _records(chunk, spans, failed, common)
            with open(HISTORY, "a") as f:
                f.writelines(json.dumps(r) + "\n" for r in recs)
            records += recs
    finally:
        shutil.rmtree(work, ignore_errors=True)

    timed = {r["query"]: round(r["build_s"] + r["exec_s"], 3) for r in records if "error" not in r}
    print(
        json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": round(sum(timed.values()), 3),
                "unit": "sec",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "queries": dict(sorted(timed.items(), key=lambda kv: -kv[1])[:10]),
                "n_queries": len(timed),
                "failed": sorted(r["query"] for r in records if "error" in r),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
