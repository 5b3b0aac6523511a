"""Round-12 observability-audit queries: independent recomputes.

Oracle parity is blind to formula errors both engines share (playbook
rule 3), so each new audit is re-derived here in plain Python from raw
collected inputs — no Spark aggregate, no SQL — and compared exactly.
"""

from __future__ import annotations

import math

import pytest

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    from velox_hadoop_spark.plans.registry import queries

    return queries()[name](spark, SF)


def test_ivf_cell_balance_matches_python_recompute(spark):
    from velox_hadoop_spark.operators.similarity import (
        IVF_CENTROIDS,
        ivf_assign,
        ivf_codebook,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    book = ivf_codebook(emb, IVF_CENTROIDS)
    assign = {
        r.vec_id: r.centroid_id
        for r in ivf_assign(emb, book).select("vec_id", "centroid_id").collect()
    }
    total = len(assign)
    by_cell: dict = {}
    for cid in assign.values():
        by_cell[cid] = by_cell.get(cid, 0) + 1
    got = {
        r.centroid_id: (r.n_members, r.share)
        for r in _q(spark, "ivf_cell_balance_report").collect()
    }
    assert set(got) == set(by_cell)
    for cid, n in by_cell.items():
        assert got[cid][0] == n
        assert got[cid][1] == pytest.approx(round(n / total, 6), abs=1e-9)


def test_embedding_corpus_health_matches_python_recompute(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    n_rows = len(emb)
    n_null = sum(1 for r in emb if r.embedding is None)
    nonnull = [r.embedding for r in emb if r.embedding is not None]
    n_empty = sum(1 for v in nonnull if len(v) == 0)
    n_nonfinite = sum(
        1 for v in nonnull if any(not math.isfinite(float(x)) for x in v)
    )
    # Engine semantics, not IEEE: Spark AND DuckDB evaluate NaN > 0 as
    # TRUE (NaN sorts above every number in both), so a NaN-component
    # vector passes the sq > 0 usability predicate in the query and the
    # oracle alike — the recompute must pin THAT shared contract, not
    # Python's NaN > 0 == False (round-12 review).
    def _usable(v):
        s = sum(float(x) * float(x) for x in v)
        return math.isnan(s) or s > 0

    n_usable = sum(1 for v in nonnull if _usable(v))
    dims = {len(v) for v in nonnull}
    row = _q(spark, "embedding_corpus_health").collect()[0]
    assert row.n_rows == n_rows
    assert row.n_null == n_null
    assert row.n_empty == n_empty
    assert row.n_nonfinite == n_nonfinite
    assert row.n_usable == n_usable
    assert row.n_dims_distinct == len(dims)
    assert row.min_dim == (min(dims) if dims else None)
    assert row.max_dim == (max(dims) if dims else None)


def test_embedding_corpus_health_pathological_fixture(spark, tmp_path):
    """NaN / Inf / zero / empty / NULL vectors in one corpus: the Spark
    row, the DuckDB oracle on the SAME parquet, and the hand-computed
    expectation must all agree — this is the population the dormant
    recompute semantics (NaN > 0 is TRUE in both engines) actually
    bind on (round-12 review)."""
    import duckdb

    from velox_hadoop_spark.plans.registry import oracles, queries

    rows = [
        (0, [1.0, 2.0], 0),
        (1, None, 0),
        (2, [], 0),
        (3, [float("nan"), 1.0], 0),
        (4, [0.0, 0.0], 0),
        (5, [float("inf"), 1.0], 0),
        (6, [None, 1.0], 0),  # NULL ELEMENT inside the vector
    ]
    # maxRecordsPerFile=1 on a single partition pins ONE ROW PER PART
    # FILE deterministically — a column-less repartition(n) is
    # round-robin with a random per-partition start, so it does NOT
    # guarantee singleton files (round-12 review pass 3). The all-NULL
    # and all-EMPTY single-row chunks are exactly the DuckDB
    # kernel-rejection condition this test exists to exercise.
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    ).coalesce(1).write.option("maxRecordsPerFile", 1).parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    import glob

    n_files = len(glob.glob(f"{tmp_path}/embeddings.parquet/*.parquet"))
    assert n_files == len(rows), n_files
    got = queries()["embedding_corpus_health"](spark, str(tmp_path)).collect()[0]
    expect = {
        "n_rows": 7,
        "n_null": 1,
        "n_empty": 1,
        "n_nonfinite": 2,   # the NaN vector and the Inf vector
        "n_usable": 3,      # [1,2]; NaN-sq (NaN>0 is TRUE); Inf-sq
        "n_dims_distinct": 2,  # {0, 2}
        "min_dim": 0,
        "max_dim": 2,
    }
    assert {k: getattr(got, k) for k in expect} == expect
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * "
        f"FROM '{tmp_path}/embeddings.parquet/*.parquet'"
    )
    orc = con.sql(oracles()["embedding_corpus_health"]).fetchone()
    assert tuple(orc) == tuple(got)
    # norm profile on the SAME pathological corpus, Spark vs oracle:
    # norms = sqrt5, NaN, 0, Inf (NULL / empty / NULL-element drop)
    prof = queries()["embedding_norm_profile"](spark, str(tmp_path)).collect()[0]
    assert prof.n_vectors == 4
    assert prof.n_zero_norm == 1
    assert prof.n_nonfinite_norm == 2
    assert prof.n_unit_norm == 0
    orc_prof = con.sql(oracles()["embedding_norm_profile"]).fetchone()
    assert tuple(orc_prof) == tuple(prof)


def test_hot_key_guard_report_matches_python_recompute(spark):
    from velox_hadoop_spark.operators.dedup import (
        MAX_KEY_DOC_FREQ,
        _docs_par,
        shingle_set,
    )
    from velox_hadoop_spark.operators.graph import TRIANGLE_PART_CAP

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    ps = {
        (r.l_partkey, r.l_suppkey)
        for r in li.select("l_partkey", "l_suppkey").collect()
    }
    pc: dict = {}
    for part, _ in ps:
        pc[part] = pc.get(part, 0) + 1
    sh = [
        (r.doc_id, r.shingle)
        for r in shingle_set(_docs_par(spark, SF), "doc_id", "text").collect()
    ]
    scnt: dict = {}
    for _, s in sh:
        scnt[s] = scnt.get(s, 0) + 1
    got = {r.domain: r for r in _q(spark, "hot_key_guard_report").collect()}

    def check(row, counts, cap):
        assert row.cap == cap
        assert row.n_keys == len(counts)
        over = [c for c in counts.values() if c > cap]
        assert row.n_keys_over_cap == len(over)
        assert row.rows_over_cap == sum(over)

    check(got["co_supply_part"], pc, TRIANGLE_PART_CAP)
    check(got["shingle_doc_freq"], scnt, MAX_KEY_DOC_FREQ)


def test_doremi_mixture_shift_matches_python_recompute(spark):
    """Entropy/KL/L1 re-derived in pure Python from the (r11-recomputed)
    w0/w2 weights with the same integer-grid pins — the NEW logic here
    is everything after the weights."""
    from velox_hadoop_spark.catalog import read_table
    from velox_hadoop_spark.operators.llmops9 import doremi_weight_frames

    base, wh = doremi_weight_frames(read_table(spark, SF, "documents"))
    w0s = {r.source: r.w0 for r in base.select("source", "w0").collect()}
    w2s = {r.source: r.w2 for r in wh[-1].collect()}
    w = {s: (w0s[s], w2s[s]) for s in w0s}

    def ln6(x):
        return math.floor(math.log(x) * 1e6 + 0.5)

    sh0 = sum(
        math.floor(w0 * (ln6(w0) / 1e6) * 1e9 + 0.5)
        for w0, _ in w.values()
        if w0 > 0
    )
    sh2 = sum(
        math.floor(w2 * (ln6(w2) / 1e6) * 1e9 + 0.5)
        for _, w2 in w.values()
        if w2 > 0
    )
    skl = sum(
        math.floor(w2 * ((ln6(w2) - ln6(w0)) / 1e6) * 1e9 + 0.5)
        for w0, w2 in w.values()
        if w0 > 0 and w2 > 0
    )
    sl1 = sum(
        math.floor(abs(w2 - w0) * 1e9 + 0.5) for w0, w2 in w.values()
    )
    row = _q(spark, "doremi_mixture_shift_report").collect()[0]
    assert row.n_sources == len(w)
    assert row.entropy_w0 == pytest.approx(round(-sh0 / 1e9, 6), abs=1e-9)
    assert row.entropy_w2 == pytest.approx(round(-sh2 / 1e9, 6), abs=1e-9)
    assert row.kl_w2_w0 == pytest.approx(round(skl / 1e9, 6), abs=1e-9)
    assert row.l1_shift == pytest.approx(round(sl1 / 1e9, 6), abs=1e-9)
    # sanity: entropies positive for a multi-source mixture, KL >= 0
    assert row.entropy_w0 > 0 and row.entropy_w2 > 0
    assert row.kl_w2_w0 >= 0


def test_co_supply_degree_histogram_matches_python_recompute(spark):
    from velox_hadoop_spark.operators.graph import co_supply_capped_edges

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    from pyspark.sql import functions as F

    edges = [
        (r.s1, r.s2)
        for r in co_supply_capped_edges(
            li.select(
                F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("s")
            )
        ).collect()
    ]
    deg: dict = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    hist: dict = {}
    for d in deg.values():
        b = math.floor(math.log2(d))
        hist.setdefault(b, []).append(d)
    got = {r.bucket: r for r in _q(spark, "co_supply_degree_histogram").collect()}
    assert set(got) == set(hist)
    for b, ds in hist.items():
        assert got[b].lo == 2 ** b
        assert got[b].n_nodes == len(ds)
        assert got[b].max_degree == max(ds)


def test_embedding_norm_profile_matches_python_recompute(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    norms = []
    for r in emb:
        v = r.embedding
        if v is None or len(v) == 0:
            continue
        acc = 0.0
        for x in v:
            acc += float(x) * float(x)
        norms.append(math.sqrt(acc))
    # round through the repo's half-away helper, not Python round():
    # Spark F.round is HALF_UP on the shortest decimal repr while
    # round() is banker's on the exact binary value — the .5-tie flake
    # class functions/vectors.round_half_away exists for (round-12
    # review pass 3)
    from velox_hadoop_spark.functions.vectors import round_half_away

    finite = [n for n in norms if math.isfinite(n)]
    grid_ok = [n for n in finite if n <= 9e12]
    row = _q(spark, "embedding_norm_profile").collect()[0]
    assert row.n_vectors == len(norms)
    assert row.n_zero_norm == sum(1 for n in norms if n == 0)
    assert row.n_nonfinite_norm == len(norms) - len(finite)
    assert row.n_unit_norm == sum(1 for n in finite if abs(n - 1.0) <= 0.001)
    assert row.min_norm == pytest.approx(
        min(round_half_away(n, 6) for n in finite)
    )
    assert row.max_norm == pytest.approx(
        max(round_half_away(n, 6) for n in finite)
    )
    grid = sum(math.floor(n * 1e6 + 0.5) for n in grid_ok)
    assert row.avg_norm == pytest.approx(
        round_half_away(grid / len(grid_ok) / 1e6, 6), abs=1e-9
    )


def test_lsh_bucket_load_profile_matches_python_recompute(spark):
    from velox_hadoop_spark.operators.dedup import (
        MAX_KEY_DOC_FREQ,
        _docs_par,
        lsh_bands,
        minhash_signature_inline,
    )

    bands = [
        (r.band_id, r.band_key)
        for r in lsh_bands(
            minhash_signature_inline(_docs_par(spark, SF), "doc_id", "text"),
            "doc_id",
        ).collect()
    ]
    loads: dict = {}
    for bid, key in bands:
        loads[(bid, key)] = loads.get((bid, key), 0) + 1
    per_band: dict = {}
    for (bid, _), c in loads.items():
        b = per_band.setdefault(bid, [])
        b.append(c)
    got = {r.band_id: r for r in _q(spark, "lsh_bucket_load_profile").collect()}
    assert set(got) == set(per_band)
    for bid, cs in per_band.items():
        r = got[bid]
        assert r.n_buckets == len(cs)
        assert r.n_rows == sum(cs)
        assert r.max_load == max(cs)
        assert r.n_buckets_over_cap == sum(1 for c in cs if c > MAX_KEY_DOC_FREQ)
