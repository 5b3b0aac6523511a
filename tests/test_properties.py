"""Property-based tests (hypothesis): operator laws that must hold for
any input, not just the fixtures — SURVEY §5.4.

Spark-side properties use one shared session; data sizes are kept small
(≤60 rows) so each example is a sub-second job. Settings cap example
counts to keep the suite fast.
"""

from collections import Counter

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from velox_hadoop_spark.operators.sort import global_rank
from velox_hadoop_spark.operators.dedup import exact_dedup_groups

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=5)
vals = st.integers(min_value=-100, max_value=100)


@given(rows=st.lists(st.tuples(keys, vals), min_size=1, max_size=60))
@settings(**SETTINGS)
def test_global_rank_is_a_permutation_of_sorted_order(spark, rows):
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], ["k", "v", "uid"]
    )
    ranked = global_rank(df, ["v", "uid"], "rank").collect()
    assert sorted(r.rank for r in ranked) == list(range(1, len(rows) + 1))
    by_rank = sorted(ranked, key=lambda r: r.rank)
    assert [(r.v, r.uid) for r in by_rank] == sorted((r.v, r.uid) for r in ranked)


@given(
    left=st.lists(keys, min_size=0, max_size=30),
    right=st.lists(keys, min_size=0, max_size=30),
)
@settings(**SETTINGS)
def test_join_cardinality_is_product_of_key_multiplicities(spark, left, right):
    lc, rc = Counter(left), Counter(right)
    want = sum(lc[k] * rc[k] for k in lc)
    ldf = spark.createDataFrame([(k,) for k in left], "k int")
    rdf = spark.createDataFrame([(k,) for k in right], "k int")
    got = ldf.join(rdf, "k").count()
    assert got == want


@given(rows=st.lists(st.tuples(keys, vals), min_size=1, max_size=60))
@settings(**SETTINGS)
def test_grouped_sum_matches_duckdb_on_random_frames(spark, rows):
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {(r.k): (r.total, r.n) for r in df.groupBy("k").agg(
        F.sum("v").alias("total"), F.count("*").alias("n")
    ).collect()}
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(rows, columns=["k", "v"]))
    want = {
        k: (total, n)
        for k, total, n in con.sql(
            "SELECT k, CAST(sum(v) AS BIGINT), count(*) FROM t GROUP BY k"
        ).fetchall()
    }
    con.close()
    assert got == want


@given(texts=st.lists(st.text(alphabet="abc ", min_size=0, max_size=12), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_exact_dedup_partitions_ids(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    groups = exact_dedup_groups(df, "doc_id", "text").collect()
    assert sum(g.n_copies for g in groups) == len(texts)
    assert len(groups) == len(set(texts))
    keepers = {g.keeper_id for g in groups}
    firsts = {min(i for i, t2 in enumerate(texts) if t2 == t) for t in set(texts)}
    assert keepers == firsts


# Random documents over a tiny vocabulary maximize shingle collisions —
# the adversarial regime for prefix filtering (rare-first ordering
# degenerates when nothing is rare).
_doc_texts = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=5, max_size=9).map(
        " ".join
    ),
    min_size=2,
    max_size=8,
)


@given(texts=_doc_texts, t=st.sampled_from([0.3, 0.5, 0.8]))
@settings(**SETTINGS)
def test_prefix_filtered_jaccard_equals_bruteforce(spark, texts, t):
    """For ANY corpus and threshold, the prefix-filtered join must emit
    exactly the brute-force pairs with jaccard >= t."""
    from velox_hadoop_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filtered_jaccard,
        shingle_set,
    )

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    sh = shingle_set(df, "doc_id", "text")
    brute = {
        (r.id_a, r.id_b, r.n_shared, r.jaccard)
        for r in jaccard_pairs(sh, "doc_id").collect()
        if r.jaccard >= t
    }
    fast = {
        (r.id_a, r.id_b, r.n_shared, r.jaccard)
        for r in prefix_filtered_jaccard(sh, "doc_id", t).collect()
    }
    assert fast == brute


@given(
    tgt=st.lists(st.tuples(keys, vals), min_size=0, max_size=40),
    src=st.lists(st.tuples(keys, vals), min_size=0, max_size=40),
)
@settings(**SETTINGS)
def test_merge_upsert_equals_join_form_merge(spark, tgt, src):
    """union+max_by MERGE == FULL OUTER JOIN merge, for any frames with
    unique keys per side (the MERGE precondition)."""
    from velox_hadoop_spark.operators.setops import merge_upsert

    tgt = list({k: (k, v) for k, v in tgt}.values())  # unique keys per side
    src = list({k: (k, v) for k, v in src}.values())
    if not tgt and not src:
        return
    target = spark.createDataFrame(tgt or [(999, 0)], "k long, v long")
    source = spark.createDataFrame(src or [(998, 0)], "k long, v long")
    got = {r.k: r.v for r in merge_upsert(target, source, "k", ["v"]).collect()}
    want = dict(tgt or [(999, 0)])
    want.update(dict(src or [(998, 0)]))
    assert got == want


@given(rows=st.lists(st.tuples(keys, vals), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_bucket_checksum_is_partition_and_order_invariant(spark, rows):
    """XOR bucket digests must not depend on row order or partitioning —
    the property reconciliation relies on."""
    uid_rows = [(i, k, v) for i, (k, v) in enumerate(rows)]
    a = spark.createDataFrame(uid_rows, "uid long, k long, v long").repartition(7)
    b = spark.createDataFrame(list(reversed(uid_rows)), "uid long, k long, v long").coalesce(1)
    digest = (
        "CAST(conv(substr(md5(concat_ws('|', CAST(uid AS STRING), "
        "CAST(k AS STRING), CAST(v AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )

    def sums(df):
        return {
            r.bucket: (r.n, r.d)
            for r in df.selectExpr(
                "pmod(uid, 8) AS bucket", f"{digest} AS dg"
            )
            .groupBy("bucket")
            .agg(F.count("*").alias("n"), F.expr("bit_xor(dg)").alias("d"))
            .collect()
        }

    assert sums(a) == sums(b)


_vec4 = st.lists(st.integers(min_value=-3, max_value=3), min_size=4, max_size=4).filter(
    lambda v: any(v)
)


@given(
    vecs=st.lists(_vec4, min_size=4, max_size=20),
    nb=st.sampled_from([2, 3]),
    nq=st.sampled_from([1, 2]),
    k=st.sampled_from([1, 2]),
)
@settings(**SETTINGS)
def test_knn_blocked_query_frame_law(spark, vecs, nb, nq, k):
    """For ANY corpus and any block geometry, the distributed
    block-matrix kernel restricted to a query frame must equal a
    brute-force numpy top-k on the same queries — the law the recall
    gates' >500k exact baseline rests on (every (q, n) pair lands in
    exactly one tile, ties broken by neighbor id)."""
    from velox_hadoop_spark.operators.similarity import knn_blocked

    from tests.conftest import numpy_knn

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where(F.col("vec_id") % 2 == 0)
    fast = numpy_knn(dict(rows), k, range(0, len(rows), 2))
    blocked = {
        tuple(r)
        for r in knn_blocked(
            emb, k=k, n_blocks=nb, queries=queries, n_query_blocks=nq
        ).collect()
    }
    assert fast and blocked == fast


_round_doubles = st.one_of(
    st.floats(
        min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
    ),
    # dyadic .5 ties at the rounded digit (k/2^j scaled): the ONLY doubles
    # that sit EXACTLY on a rounding boundary — where banker's rounding
    # and half-away-from-zero genuinely disagree
    st.integers(min_value=-4000, max_value=4000).map(lambda k: k / 8.0),
    st.integers(min_value=-4000, max_value=4000).map(lambda k: k / 128.0),
)


@given(xs=st.lists(_round_doubles, min_size=1, max_size=50), dec=st.sampled_from([2, 4, 6]))
@settings(**SETTINGS)
def test_round_half_away_matches_duckdb_round(xs, dec):
    """round_half_away (the helper every numpy/pandas kernel must round
    through) is bit-identical to DuckDB ROUND for any double and any
    repo-used precision — the cross-engine contract all pandas-kernel
    oracles rest on. No Spark session involved: this is a pure
    numpy-vs-DuckDB law."""
    import numpy as np

    from velox_hadoop_spark.functions.vectors import round_half_away

    con = duckdb.connect()
    duck = con.sql(
        f"SELECT ROUND(x, {dec}) AS r FROM (SELECT unnest(?) AS x)", params=[xs]
    ).fetchnumpy()["r"]
    ours = np.asarray(round_half_away(np.array(xs, dtype="float64"), dec))
    assert ours.tolist() == duck.tolist()


def test_bankers_round_breaks_the_duckdb_contract():
    """Canary documenting WHY round_half_away exists: numpy's np.round
    (banker's) disagrees with DuckDB ROUND on exact dyadic .5 ties, so
    any kernel rounding through np.round would flake against its
    oracle. If this ever starts passing, the helper can be retired."""
    import numpy as np

    ties = np.array([0.125, -0.125, 0.375, 2.5, -2.5])
    con = duckdb.connect()
    duck = con.sql(
        "SELECT ROUND(x, 2) AS r FROM (SELECT unnest([0.125, -0.125, 0.375, 2.5, -2.5]::DOUBLE[]) AS x)"
    ).fetchnumpy()["r"]
    assert np.round(ties, 2).tolist() != duck.tolist()


_parts = st.lists(
    st.lists(st.integers(min_value=0, max_value=12), min_size=0, max_size=9),
    min_size=1,
    max_size=8,
)


@given(parts=_parts, cap=st.sampled_from([1, 2, 3]))
@settings(**SETTINGS)
def test_co_supply_slice_cap_equals_bruteforce_topk(spark, parts, cap):
    """The sliced-array edge build's per-part k-slice must yield
    exactly the brute-force capped edge set (distinct oriented pairs,
    each node keeping its k smallest higher-id neighbors) on ANY
    membership structure — small caps (1..3) drive the slice boundary
    far harder than the production corpora, whose parts never exceed
    the cap."""
    from velox_hadoop_spark.operators.graph import co_supply_capped_edges

    rows = [(p, s) for p, supps in enumerate(parts) for s in supps]
    # brute force: per part distinct members, all oriented pairs,
    # then per s1 keep the cap smallest s2
    nbrs = {}
    for p, supps in enumerate(parts):
        mem = sorted(set(supps))
        for i, a in enumerate(mem):
            for b in mem[i + 1 :]:
                nbrs.setdefault(a, set()).add(b)
    expected = {
        (a, b) for a, bs in nbrs.items() for b in sorted(bs)[:cap]
    }
    df = spark.createDataFrame(rows or [(0, 0)], "part long, s long")
    if not rows:
        df = df.where("false")
    got = {
        (r.s1, r.s2)
        for r in co_supply_capped_edges(df, adj_cap=cap, part_cap=10_000).collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(st.one_of(st.none(), keys), st.integers(0, 1000)),
        min_size=1,
        max_size=60,
    ),
    cap=st.integers(min_value=1, max_value=8),
)
@settings(**SETTINGS)
def test_drop_hot_keys_equals_bruteforce_filter(spark, rows, cap):
    """Guard law (round 11): drop_hot_keys keeps exactly the rows whose
    NON-NULL key has multiplicity <= cap — for any key multiset, any
    cap, NULLs dropped entirely (the oracles' equi-rejoin mirror)."""
    from velox_hadoop_spark.operators.dedup import drop_hot_keys

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)],
        "k int, v int, uid int",  # explicit: an all-NULL key column
        # cannot be type-inferred
    )
    # persist_input=False: the law is value-level, and the default's
    # session-scoped cache would pile up one entry per hypothesis
    # example (and make later plan-shape tests order-dependent)
    got = {
        r.uid
        for r in drop_hot_keys(df, ["k"], cap, persist_input=False).collect()
    }
    freq = Counter(k for k, _ in rows if k is not None)
    want = {
        i for i, (k, _) in enumerate(rows) if k is not None and freq[k] <= cap
    }
    assert got == want
