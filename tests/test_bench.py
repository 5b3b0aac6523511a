"""bench.py, the registry timer: one record per query, appended."""

import json
import os
import shutil
import subprocess
import sys

from tests.conftest import ROOT, SF_DIR


def test_bench_appends_one_record_per_query(tmp_path):
    """Runs bench.py from a copy whose packages link back to the checkout,
    so its history file and every file Spark writes stay under tmp_path."""
    shutil.copy(os.path.join(ROOT, "bench.py"), tmp_path)
    for pkg in ("velox_hadoop_spark", "perfbench"):
        os.symlink(os.path.join(ROOT, pkg), tmp_path / pkg)
    earlier = '{"legacy": "32-core", "query": "wordcount", "wall_s": 1.5}\n{"query": "grép"}\n'.encode()
    history = tmp_path / "BENCH_HISTORY.jsonl"
    history.write_bytes(earlier)

    res = subprocess.run(
        [sys.executable, str(tmp_path / "bench.py"), "wordcount", "grep"],
        cwd=tmp_path,
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, PYTHONDONTWRITEBYTECODE="1"),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["n_queries"] == 2 and summary["failed"] == []
    assert set(summary) >= {"metric", "value", "unit", "sf", "queries", "n_queries"}

    data = history.read_bytes()
    assert data.startswith(earlier)
    recs = [json.loads(line) for line in data[len(earlier):].decode().splitlines()]
    assert [r["query"] for r in recs] == ["wordcount", "grep"]
    for r in recs:
        assert r["build_s"] > 0 and r["exec_s"] > 0
        assert r["exec"]["jobs"] > 0
        assert r["passes"] == 3 and r["nproc"] > 0 and r["conf"] == {}
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["bench.py", "BENCH_HISTORY.jsonl", "velox_hadoop_spark", "perfbench"]
    )
