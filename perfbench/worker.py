"""One Spark client process of a benchmark run.

Started by ``run.py`` with a JSON spec. It times set-up (registry
import, ``get_spark``, a warm-up scan), then runs passes over the
workload's queries: each query's plan build (the registered
``fn(spark, sf_dir)`` call) and its execution (a parquet write of the
returned DataFrame) are timed as separate spans, each under its own
Spark job group. Spans and /proc readings stay in memory and are
written to the spec's result file when the process ends.
"""

from __future__ import annotations

import json
import os
import sys
import time

import proctree


def pass_copy(corpus: str, dest: str) -> str:
    """A hard-linked copy of the corpus under a fresh path, so path-keyed
    driver caches can only hit on work shared inside one pass."""
    for table in sorted(os.listdir(corpus)):
        os.makedirs(os.path.join(dest, table))
        for f in os.listdir(os.path.join(corpus, table)):
            os.link(os.path.join(corpus, table, f), os.path.join(dest, table, f))
    return dest


def run_pass(spark, queries, fns, sf_dir: str, out_dir: str, spans: list, p: int) -> list:
    sc = spark.sparkContext
    failures = []
    for name in queries:
        spark.catalog.clearCache()
        try:
            sc.setJobGroup(f"{p}/{name}/build", name)
            t0 = time.time()
            df = fns[name](spark, sf_dir)
            t1 = time.time()
            spans.append({"pass": p, "query": name, "phase": "build", "t0": t0, "t1": t1})
            sc.setJobGroup(f"{p}/{name}/exec", name)
            df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
            t2 = time.time()
            spans.append({"pass": p, "query": name, "phase": "exec", "t0": t1, "t1": t2})
        except Exception as exc:  # noqa: BLE001 - a failed query is a result
            failures.append({"pass": p, "query": name, "error": f"{type(exc).__name__}: {str(exc)[:300]}"})
    return failures


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    res: dict = {}

    t = time.time()
    from velox_hadoop_spark.plans import registry
    from velox_hadoop_spark.session import get_spark

    fns = registry.queries()
    res["registry_import_s"] = time.time() - t

    t = time.time()
    spark = get_spark(app_name="perfbench", cpus=spec["cpus"], extra_conf=spec["spark_conf"])
    res["session_start_s"] = time.time() - t

    t = time.time()
    spark.read.parquet(os.path.join(spec["corpus"], "lineitem.parquet")).count()
    res["session_warmup_s"] = time.time() - t
    res["t_setup_end"] = time.time()
    res["spark_version"] = spark.version
    res["java_version"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")

    # a first pass, then ``later_passes`` more; none starts after the deadline
    spans: list = []
    passes: list = []
    failures: list = []
    for p in range(1 + spec["later_passes"]):
        if p and time.time() > spec["pass_deadline"]:
            break
        sf_dir = pass_copy(spec["corpus"], os.path.join(spec["work"], f"pass-{p}"))
        cpu0 = proctree.cpu_seconds(os.getpid())
        t0 = time.time()
        failures += run_pass(spark, spec["queries"], fns, sf_dir, os.path.join(spec["out"], f"pass-{p}"), spans, p)
        t1 = time.time()
        passes.append({"pass": p, "t0": t0, "t1": t1, "cpu_s": proctree.cpu_seconds(os.getpid()) - cpu0})
    res.update(spans=spans, passes=passes, failures=failures)
    res["peak_rss_mb"] = proctree.peak_rss_mb(os.getpid())

    spark.stop()
    proctree.stop_gateway()
    with open(spec["result"], "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
