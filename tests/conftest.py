"""Shared fixtures: one SparkSession per test run, DuckDB oracle harness."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Registration-time oracle lint: under pytest every @register() call
# schema-probes its oracle against DuckDB, so an offending output shape
# (nested column, un-cast HUGEINT) fails at IMPORT time in the dev
# loop. Driver/bench runs leave this off (no probe cost there).
os.environ.setdefault("VHS_ORACLE_LINT", "1")

from velox_hadoop_spark.session import get_spark  # noqa: E402
from velox_hadoop_spark.catalog import TABLES  # noqa: E402
from scripts.local_gate import _multiset, _type_mismatches  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="velox_hadoop_spark-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


# read_table sets this for TIMESTAMP(NANOS) sources only, and it must
# stay set: the lazy scan reads the column as a long at every action.
_NS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def session_state(spark) -> set[str]:
    """Every temp view, user function and SQL conf the session holds."""
    views = {f"view {r.viewName}" for r in spark.sql("SHOW VIEWS").collect()}
    fns = {f"function {r.function}" for r in spark.sql("SHOW USER FUNCTIONS").collect()}
    confs = {f"conf {k}={v}" for k, v in spark.conf.getAll.items() if k != _NS_CONF}
    return views | fns | confs


def assert_parity(spark, duck, name: str, sf_dir: str = SF_DIR):
    """Run registry query `name` on Spark and its oracle on DuckDB and
    compare them as ``scripts/local_gate.py`` does: Arrow type classes,
    column names, then the row multiset with columns sorted by name.
    The query must leave the session as it found it: no view, user
    function or conf it adds, drops or changes outlives it."""
    from velox_hadoop_spark.plans import registry

    spec = registry.specs()[name]
    before = session_state(spark)
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    leaked = sorted(session_state(spark) ^ before)
    assert not leaked, f"{name} left session state behind: {leaked}"

    assert spec.oracle is not None, f"{name} has no oracle"
    type_bad = _type_mismatches(sdf.dtypes, duck.sql(spec.oracle).arrow().schema)
    assert not type_bad, f"{name}: type-class mismatch {type_bad}"
    ddf = duck.sql(spec.oracle)
    drows = ddf.fetchall()
    dcols = [d[0] for d in ddf.description]

    s_set, s_cols = _multiset(scols, srows)
    d_set, d_cols = _multiset(dcols, drows)
    assert s_cols == d_cols, f"{name}: column mismatch spark={s_cols} duck={d_cols}"
    assert len(s_set) == len(d_set), f"{name}: row count spark={len(s_set)} duck={len(d_set)}"
    mismatches = [(a, b) for a, b in zip(s_set, d_set) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} differing rows; first: {mismatches[:3]}"


def numpy_knn(vecs: dict, k: int, query_ids=None) -> set:
    """Brute-force reference for the kNN kernels over ``{vec_id: vector}``
    (no degenerate vectors): every (query, other vector) cosine of the
    L2-normalized vectors, rounded half away from zero at 6 dp, ranked
    by (cos desc, neighbor id asc), as {(query_id, neighbor_id, cos, rnk)}."""
    import numpy as np

    from velox_hadoop_spark.functions.vectors import round_half_away

    unit = {i: np.asarray(v, dtype=np.float64) / np.linalg.norm(v) for i, v in vecs.items()}
    out = set()
    for q in unit if query_ids is None else query_ids:
        scored = sorted(
            (-float(round_half_away(unit[q] @ unit[n], 6)), n) for n in unit if n != q
        )
        out |= {(q, n, -c, r) for r, (c, n) in enumerate(scored[:k], start=1)}
    return out


def numpy_near_dup(vecs: dict, threshold: float) -> set:
    """Brute-force reference for the near-dup kernels: {(a, b, cos)}
    with a < b and the rounded cosine at or above ``threshold``."""
    return {
        (a, n, c)
        for a, n, c, _ in numpy_knn(vecs, len(vecs))
        if a < n and c >= threshold
    }


def cosine_vectors(emb) -> dict:
    """{vec_id: embedding} of the rows the cosine kernels keep (non-null,
    non-empty, non-zero embeddings)."""
    return {
        r.vec_id: list(r.embedding)
        for r in emb.select("vec_id", "embedding").collect()
        if r.embedding and any(r.embedding)
    }
