"""Benchmark of the velox_hadoop_spark engine, driven from outside.

    python3 perfbench/run.py --workload mapreduce --seed 1 --seconds 36 --trace 0

Run from the repository root. One run:

1. writes the workload's seeded corpus (``corpus.py``);
2. with ``--trace 0``: starts one Spark client process (``worker.py``),
   which sets up (process start to a warmed session), runs a first pass,
   then as many later passes (at least four) as fill ``--seconds`` at the
   workload's nominal pass time; the pass metrics are medians over the
   second half of the later passes, as the first half still speeds up
   while the JIT warms;
   with ``--trace 1``: runs that client, with half as many later passes,
   once untraced and once with the Spark event log on, and reports
   per-layer numbers (``layers.py``) and the tracing overhead, traced
   minus untraced ``pass_s``;
3. checks every query output of every pass of every client against the
   registry's DuckDB oracle, with the multiset comparison of
   ``scripts/local_gate.py``; an output whose sorted rows equal those of
   an output of the same query already checked in this run counts as
   checked;
4. prints one JSON line of environment facts, then the result line.

Every file the run writes lives under ``perfbench/.work/``: the corpus,
per-pass corpus copies, query outputs, Spark local dirs, the event log
and the engine's temp files (``TMPDIR``). Processes started by the run are
tagged through their environment and reaped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import layers  # noqa: E402
import proctree  # noqa: E402
from workloads import LAYER_MAP, SINK, WORKLOADS  # noqa: E402

MIN_LATER_PASSES = 4
# seconds after the run starts by which a client starts no new pass and
# by which it must have exited; the run as a whole stays under 180 s
UNTRACED_LIMITS = (130, 155)
TRACED_LIMITS = ((75, 90), (150, 165))


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Run:
    def __init__(self, args, work: str, token: str):
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        self.cpus = len(os.sched_getaffinity(0))
        self.corpus = os.path.join(work, "corpus")
        self.t_start = time.time()
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        self.env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=tmp,
            PERFBENCH_RUN=token,
        )
        self.spark_conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        # a fixed number of later passes, which fills ``--seconds`` at the
        # workload's nominal pass time: passes keep speeding up as the JIT
        # warms, so a count set by the clock would let a slow run's median
        # land on a colder pass
        self.later_passes = max(MIN_LATER_PASSES, round(args.seconds / self.wl["pass_s_nominal"]))
        self.n = 0

    def worker(self, limits: tuple[float, float], later_passes: int, eventlog: str | None = None) -> dict:
        """Run one client to completion; its result with ``setup_s`` added."""
        self.n += 1
        d = os.path.join(self.work, f"w{self.n}")
        os.makedirs(d)
        conf = dict(self.spark_conf)
        if eventlog:
            os.makedirs(eventlog)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{eventlog}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spec = {
            "cpus": self.cpus,
            "spark_conf": conf,
            "corpus": self.corpus,
            "queries": self.wl["queries"],
            "work": d,
            "out": os.path.join(d, "out"),
            "result": os.path.join(d, "result.json"),
            "later_passes": later_passes,
            "pass_deadline": self.t_start + limits[0],
        }
        with open(os.path.join(d, "spec.json"), "w") as f:
            json.dump(spec, f)
        with open(os.path.join(d, "log.txt"), "w") as log:
            t_spawn = time.time()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), os.path.join(d, "spec.json")],
                cwd=d, env=self.env, stdout=log, stderr=subprocess.STDOUT,
            )
            try:
                code = proc.wait(max(1.0, self.t_start + limits[1] - time.time()))
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:  # also on SIGTERM
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0:
            with open(os.path.join(d, "log.txt")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise RuntimeError(f"benchmark client exited with {code}")
        with open(spec["result"]) as f:
            res = json.load(f)
        res["setup_s"] = res["t_setup_end"] - t_spawn
        res["out"] = spec["out"]
        return res


def naive_timestamps(tbl):
    """Timestamps as naive UTC microseconds, as ``collect()`` returns them
    under the engine's UTC session time zone and DuckDB reports them."""
    import pyarrow as pa

    for i, field in enumerate(tbl.schema):
        if pa.types.is_timestamp(field.type):
            col = tbl.column(i).cast(pa.timestamp("us", field.type.tz)).cast(pa.int64())
            tbl = tbl.set_column(i, field.name, col.cast(pa.timestamp("us")))
    return tbl


def sorted_rows(tbl):
    """The table with its columns and then its rows in sorted order."""
    tbl = tbl.select(sorted(tbl.column_names))
    return tbl.sort_by([(c, "ascending") for c in tbl.column_names])


def check_outputs(run: Run, clients: list[dict]) -> list[dict]:
    """Compare each pass's output of each query that did not raise with
    its oracle; each oracle runs once per run, outside the timed passes.

    The multiset comparison costs about a second a pass on the larger
    outputs, so an output is compared with the oracle only when its
    sorted rows differ from the query's first output that matched it."""
    import duckdb
    import pyarrow.parquet as pq
    from scripts.local_gate import _multiset

    from velox_hadoop_spark.catalog import TABLES
    from velox_hadoop_spark.plans import registry

    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.corpus}/{t}.parquet/*.parquet')")
    specs = registry.specs()
    expected: dict = {}
    matched: dict = {}  # query -> sorted rows of its first output that matched
    bad = []

    def oracle(name: str):
        if name not in expected:
            rel = duck.sql(specs[name].oracle)
            expected[name] = _multiset([d[0] for d in rel.description], rel.fetchall())
        return expected[name]

    for res in clients:
        raised = {(f["pass"], f["query"]) for f in res["failures"]}
        for p in res["passes"]:
            for name in run.wl["queries"]:
                if (p["pass"], name) in raised:
                    continue
                try:
                    tbl = naive_timestamps(pq.read_table(os.path.join(res["out"], f"pass-{p['pass']}", name)))
                    ordered = sorted_rows(tbl)
                    if name in matched and ordered.equals(matched[name]):
                        continue
                    rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
                    if _multiset(tbl.column_names, rows) == oracle(name):
                        matched.setdefault(name, ordered)
                        continue
                    why = "output differs from the oracle"
                except Exception as exc:  # noqa: BLE001 - any error fails the check
                    why = f"{type(exc).__name__}: {str(exc)[:200]}"
                bad.append({"pass": p["pass"], "query": name, "error": why})
    return bad


def wall(p: dict) -> float:
    return p["t1"] - p["t0"]


def measured(res: dict) -> list[dict]:
    """The second half of the passes after the first, which the pass
    metrics are taken over."""
    later = res["passes"][1:]
    if len(later) < MIN_LATER_PASSES:
        raise RuntimeError("the client ran out of time before its later passes")
    return later[len(later) // 2 :]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("velox_hadoop_spark/plans/registry.py", "scripts/local_gate.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    # a terminated run still reaps its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    token = uuid.uuid4().hex
    work = os.path.join(HERE, ".work", f"run-{token[:12]}")
    os.makedirs(work)
    run = Run(args, work, token)
    env = {"workload": args.workload, "seed": args.seed, "nproc": run.cpus, "load1_before": load1()}
    try:
        env["rows"] = corpus.write_corpus(run.corpus, args.seed, run.wl["scale"], run.wl["replicas"])
        if args.trace:
            half = max(MIN_LATER_PASSES, run.later_passes // 2)
            base = run.worker(TRACED_LIMITS[0], half)
            res = run.worker(TRACED_LIMITS[1], half, eventlog=os.path.join(work, "eventlog"))
            clients = [base, res]
        else:
            res = run.worker(UNTRACED_LIMITS, run.later_passes)
            clients = [res]
        failures = [f for c in clients for f in c["failures"]] + check_outputs(run, clients)
        if args.trace:
            spans = res["spans"]
            layers.attribute(spans, os.path.join(work, "eventlog"))
            values = layers.layer_metrics(spans, measured(res), run.wl["queries"])
            values["registry.import_s"] = res["registry_import_s"]
            values["session.start_s"] = res["session_start_s"]
            values["session.warmup_s"] = res["session_warmup_s"]
            values["trace.pass_s"] = statistics.median(map(wall, measured(res)))
            values["trace.overhead_s"] = values["trace.pass_s"] - statistics.median(map(wall, measured(base)))
            values["peak_rss_mb"] = res["peak_rss_mb"]
            env["tracing_overhead_s"] = values["trace.overhead_s"]
            env["layer_map"] = LAYER_MAP
            wanted = bench["per_layer"]
        else:
            values = {
                "setup_s": res["setup_s"],
                "first_pass_s": wall(res["passes"][0]),
                "pass_s": statistics.median(map(wall, measured(res))),
                "pass_cpu_s": statistics.median(p["cpu_s"] for p in measured(res)),
            }
            wanted = bench["end_to_end"]
        attempted = sum(len(c["passes"]) for c in clients) * len(run.wl["queries"])
        env.update(
            setup_parts_s={k: res[k] for k in ("registry_import_s", "session_start_s", "session_warmup_s")},
            queries=run.wl["queries"],
            sink=SINK,
            pass_s_samples=[wall(p) for p in res["passes"]],
            span_s={
                f"{q}.{ph}": [round(wall(s), 3) for s in res["spans"] if s["query"] == q and s["phase"] == ph]
                for q in run.wl["queries"] for ph in ("build", "exec")
            },
            spark=res["spark_version"],
            java=res["java_version"],
            failures=failures,
            failed_frac=len(failures) / attempted,
        )
    finally:
        proctree.reap(f"PERFBENCH_RUN={token}")
        shutil.rmtree(work, ignore_errors=True)
    env["load1_after"] = load1()
    # the q.<query>.* metrics of another workload's queries read 0: they did not run
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
