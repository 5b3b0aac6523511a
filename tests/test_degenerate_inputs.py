"""Empty / degenerate-input behavior of the custom kernels.

A 100 TB pipeline routinely produces empty frames mid-plan (a filter
that matches nothing, a partition with no rows, a day with no events).
Every public kernel must return a correctly-typed EMPTY result there —
never raise — so composed pipelines (filter → dedup → knn → sample)
degrade to empty output instead of crashing the job. The knn kernels'
empty-corpus edge was a real crash found by this probe (AxisError from
a 1-D empty matrix in a since-deleted broadcast kNN kernel).
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, source string, lang string")


@pytest.fixture(scope="module")
def empty_emb(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def empty_edges(spark):
    return spark.createDataFrame([], "src long, dst long")


def test_graph_kernels_on_empty_edges(spark, empty_edges):
    from velox_hadoop_spark.operators.graph import adjacency, bfs_levels, pagerank

    assert adjacency(empty_edges).count() == 0
    assert pagerank(empty_edges, max_iters=2).count() == 0
    # tol mode: the Σ|Δ| scalar comes back NULL on an empty frame; the
    # loop must not treat that as convergence-by-crash
    assert pagerank(empty_edges, max_iters=3, tol=0.01).count() == 0
    # BFS from an unknown start: the start node itself is level 0, the
    # frontier drains on the first pass
    out = bfs_levels(empty_edges, start=99, max_levels=3).collect()
    assert [(r.node, r.lvl) for r in out] == [(99, 0)]


def test_dedup_kernels_on_empty_docs(spark, empty_docs):
    from velox_hadoop_spark.operators.dedup import (
        exact_dedup_groups,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature_inline,
        shingle_set,
    )

    assert exact_dedup_groups(empty_docs, "doc_id", "text").count() == 0
    sig = minhash_signature_inline(empty_docs, "doc_id", "text")
    assert sig.count() == 0
    assert lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id").count() == 0
    assert shingle_set(empty_docs, "doc_id", "text").count() == 0


def test_knn_kernels_on_empty_corpus(spark, empty_emb):
    """The regression this file exists for: an empty corpus must yield a
    typed empty top-k frame from every kNN kernel (block-matrix, and
    knn_exact, which sizes its blocks by a count), not an AxisError."""
    from velox_hadoop_spark.operators.similarity import knn_blocked, knn_exact

    for df in (
        knn_blocked(empty_emb, k=2, n_blocks=2),
        knn_exact(empty_emb, 2),
    ):
        assert df.count() == 0
        assert df.columns == ["query_id", "neighbor_id", "cos", "rnk"]


def test_knn_kernels_on_single_row_corpus(spark):
    """One vector, k=2: the only candidate pair is the masked self-pair,
    so both kernels must emit zero rows (no phantom -inf rank)."""
    from velox_hadoop_spark.operators.similarity import knn_blocked, knn_exact

    one = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    assert knn_exact(one, k=2).count() == 0
    assert knn_blocked(one, k=2, n_blocks=2).count() == 0


def test_kmeans_on_empty_corpus(spark, empty_emb):
    from velox_hadoop_spark.operators.clustering import kmeans

    assert kmeans(empty_emb, k=2, iters=1).count() == 0


def test_sampling_kernels_on_empty_frame(spark, empty_docs):
    from velox_hadoop_spark.operators.sampling import (
        assign_split,
        capped_per_group,
        deterministic_sample,
    )

    assert deterministic_sample(empty_docs, "doc_id", 10).count() == 0
    assert capped_per_group(empty_docs, "source", "doc_id", 3).count() == 0
    assert assign_split(empty_docs, "doc_id").count() == 0


def test_joins_on_empty_sides(spark):
    from velox_hadoop_spark.operators.join import asof_join
    from velox_hadoop_spark.operators.skew import salted_join

    li = spark.createDataFrame([], "l_orderkey long, v double")
    od = spark.createDataFrame([], "o_orderkey long, p string")
    assert salted_join(li, od, "l_orderkey", "o_orderkey").count() == 0

    # as-of against an empty right side: left rows survive with NULL
    # carried values (the window finds no prior right row)
    left = spark.createDataFrame([(1,)], "user_id long").select(
        "user_id", F.current_timestamp().alias("lts")
    )
    empty_right = spark.createDataFrame([], "user_id long, rts timestamp, value double")
    out = asof_join(left, empty_right, "user_id", "lts", "rts", ["value"]).collect()
    assert len(out) == 1 and out[0]["asof_value"] is None


def test_stateful_batch_twins_on_empty_events(spark):
    from velox_hadoop_spark.streaming.stateful import (
        batch_user_session_summary,
        batch_user_totals,
    )

    ev = spark.createDataFrame([], "user_id long, event_id long, ts timestamp, value double")
    assert batch_user_totals(ev).count() == 0
    assert batch_user_session_summary(ev).count() == 0


def test_text_kernels_on_empty_docs(spark, empty_docs):
    from velox_hadoop_spark.operators.sort import global_rank
    from velox_hadoop_spark.operators.textstats import token_stats

    assert token_stats(empty_docs).count() == 0
    assert global_rank(empty_docs, ["doc_id"]).count() == 0


def test_vector_kernels_drop_null_embeddings(spark):
    """A corpus row with a NULL embedding participates in no similarity
    (SQL null semantics) — the matrix kernels must drop it at entry, not
    crash mid-BLAS on the inhomogeneous batch, and kmeans must not hand
    it an arbitrary centroid (a NULL L2 sorts first under asc)."""
    from velox_hadoop_spark.operators.clustering import kmeans
    from velox_hadoop_spark.operators.similarity import (
        embedding_norms_arrow,
        hyperplane_buckets,
        knn_blocked,
        knn_exact,
    )

    emb = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    for out in (knn_exact(emb, k=1), knn_blocked(emb, k=1, n_blocks=2)):
        rows = out.collect()
        ids = {r.query_id for r in rows} | {r.neighbor_id for r in rows}
        assert len(rows) == 3 and 1 not in ids
    assert {r.vec_id for r in hyperplane_buckets(emb).collect()} == {2, 3, 4}
    assert {r.vec_id for r in embedding_norms_arrow(emb).collect()} == {2, 3, 4}
    assert {r.vec_id for r in kmeans(emb, k=2, iters=1).collect()} == {2, 3, 4}


def test_asof_join_same_timestamp_right_rows_tie_deterministically(spark):
    """Two right rows on the same (key, ts): the greatest value tuple
    must win, regardless of partitioning — without a pinned tie order
    the winner is whichever row the shuffle delivers last."""
    import datetime

    from velox_hadoop_spark.operators.join import asof_join

    t = datetime.datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, t)], "user_id long, lts timestamp")
    right = spark.createDataFrame(
        [(1, t, 10.0), (1, t, 20.0)], "user_id long, rts timestamp, value double"
    )
    for r in (right.repartition(4), right.repartition(1), right.orderBy(F.desc("value"))):
        out = asof_join(left, r, "user_id", "lts", "rts", ["value"]).collect()
        assert len(out) == 1 and out[0]["asof_value"] == 20.0


def test_multimodal_null_payload_yields_null_features(spark):
    """A corrupt/missing blob (NULL payload) must flow through feature
    extraction as typed NULLs, not crash the Arrow batch."""
    from velox_hadoop_spark.operators.multimodal import extract_features

    media = spark.createDataFrame(
        [(1, None, "image"), (2, b"\x89PNG123", "image"), (3, b"abc", "audio")],
        "media_id long, payload binary, media_type string",
    )
    rows = {r.media_id: r for r in extract_features(media).collect()}
    assert rows[1].digest is None and rows[1].n_bytes is None and rows[1].width is None
    assert rows[2].digest is not None and rows[3].n_frames is not None


def test_near_dup_and_ivf_kernels_drop_null_embeddings(spark):
    """The near-dup pair kernel scores the corpus through the SAME
    matrix path as knn — both its sides must drop nulls (the query side
    was once missed).
    ivf_assign likewise feeds matrix kernels, so a null vector must get
    no cell assignment rather than a nondeterministic one."""
    from velox_hadoop_spark.operators.dedup import cosine_near_dup_pairs
    from velox_hadoop_spark.operators.similarity import ivf_assign, ivf_codebook

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [1.0, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = cosine_near_dup_pairs(emb, threshold=0.9).collect()
    ids = {r.a_id for r in pairs} | {r.b_id for r in pairs}
    assert pairs and 1 not in ids

    all_null = spark.createDataFrame([(1, None)], "vec_id long, embedding array<double>")
    assert cosine_near_dup_pairs(all_null, threshold=0.5).count() == 0

    assigned = ivf_assign(emb, ivf_codebook(emb, 2))
    assert {r.vec_id for r in assigned.collect()} == {0, 2, 3}


def test_token_stats_empty_text_yields_null_avg(spark):
    """Empty / whitespace-only text: avg_token_len must be NULL in both
    engines (DuckDB's list_aggregate sums an empty list to NULL; the
    Spark side previously folded to the 0.0 initializer — a silent
    cross-engine mismatch on any token-free document)."""
    import duckdb

    from velox_hadoop_spark.operators.textstats import token_stats

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "ab cd")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in token_stats(docs).collect()}
    assert rows[1].avg_token_len is None and rows[2].avg_token_len is None
    assert rows[3].avg_token_len == 2.0
    duck = duckdb.sql(
        "SELECT CASE WHEN len(w) > 0 THEN 1 END FROM (SELECT "
        "list_filter(string_split_regex('', '\\s+'), t -> t <> '') AS w)"
    ).fetchone()[0]
    assert duck is None


def test_cosine_kernels_drop_zero_norm_vectors(spark):
    """An all-zero embedding has no cosine: normalizing it yields NaN,
    which the numpy kernels silently drop while DuckDB sorts NaN ABOVE
    every number — an unguarded oracle would crown the zero vector as
    everyone's top neighbor. The cosine kernels exclude zero (and
    empty) vectors at entry; norms keep them (a zero L2 is defined)."""
    from velox_hadoop_spark.operators.dedup import cosine_near_dup_pairs
    from velox_hadoop_spark.operators.similarity import (
        embedding_norms_arrow,
        hyperplane_buckets,
        ivf_assign,
        ivf_codebook,
        knn_exact,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, []), (3, [1.0, 0.01]), (4, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    top = knn_exact(emb, k=2).collect()
    ids = {r.query_id for r in top} | {r.neighbor_id for r in top}
    assert top and ids == {0, 3, 4}
    pairs = cosine_near_dup_pairs(emb, threshold=0.9).collect()
    assert pairs and {r.a_id for r in pairs} | {r.b_id for r in pairs} == {0, 3}
    assigned = ivf_assign(emb, ivf_codebook(emb, 2)).collect()
    assert {r.vec_id for r in assigned} == {0, 3, 4}
    # buckets: zero vectors keep their (identical-in-both-engines)
    # all-ones bucket; only NULL and empty arrays drop
    assert {r.vec_id for r in hyperplane_buckets(emb).collect()} == {0, 1, 3, 4}
    # norms keep the zero vector (its L2 is a well-defined 0.0) but
    # drop the empty array (np says 0.0, DuckDB's list_sum says NULL)
    norms = {r.vec_id: r.l2_norm for r in embedding_norms_arrow(emb).collect()}
    assert norms[1] == 0.0 and set(norms) == {0, 1, 3, 4}


def test_ivf_assign_centroids_on_non_dense_ids(spark):
    """ivf_assign must pick the TRUE k lowest ids, not `vec_id < k`
    (which under-fills the codebook on any non-zero-based id space —
    the same bug fixed in kmeans)."""
    from velox_hadoop_spark.operators.similarity import ivf_assign, ivf_codebook

    emb = spark.createDataFrame(
        [(1000, [1.0, 0.0]), (1001, [0.0, 1.0]), (1002, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = ivf_assign(emb, ivf_codebook(emb, 2)).collect()
    assert {r.vec_id for r in rows} == {1000, 1001, 1002}
    assert {r.centroid_id for r in rows} <= {1000, 1001}


def test_contained_doc_pairs_catches_sub_block_docs(spark):
    """A 30-char doc contained in a 200-char container sits BELOW the
    40-char blocking width — the main equi-join structurally cannot
    pair them; the short-doc branch must, and the DuckDB oracle must
    agree on the same synthetic frame."""
    from velox_hadoop_spark.plans.registry import oracles, queries

    import pandas as pd

    short = "tiny prefix doc under forty"          # 27 chars
    container = short + " and two hundred more characters of body text " * 4
    rows = [
        (1, short, "web", "en", len(short)),
        (2, container, "web", "en", len(container)),
        (3, "completely unrelated document text that is long enough", "web", "en", 55),
        (4, container, "web", "en", len(container)),  # exact dup of 2
    ]
    cols = "doc_id long, text string, source string, lang string, n_chars long"
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="vhs_contain_")
    spark.createDataFrame(rows, cols).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    got = {
        (r.id_a, r.id_b, r.is_exact)
        for r in queries()["contained_doc_pairs"](spark, d).collect()
    }
    assert (1, 2, False) in got and (1, 4, False) in got and (2, 4, True) in got
    # own connection — repointing the SHARED fixture's documents view
    # would corrupt every later parity test in the session
    import duckdb as _duckdb

    con = _duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    want = set(map(tuple, con.sql(oracles()["contained_doc_pairs"]).fetchall()))
    con.close()
    assert got == want


def test_extract_features_empty_payload(spark):
    """A zero-byte blob must decode to NULL dimensions, not IndexError
    inside the Arrow task."""
    from velox_hadoop_spark.operators.multimodal import extract_features

    media = spark.createDataFrame(
        [(1, b"", "image"), (2, b"xyz", "image")],
        "media_id long, payload binary, media_type string",
    )
    rows = {r.media_id: r for r in extract_features(media).collect()}
    assert rows[1].width is None and rows[1].n_bytes == 0
    assert rows[2].width is not None


def test_skyline_single_shuffle_and_correctness(spark):
    """The skyline's local prefix max must come from the stateful
    mapInPandas pass, not a Window.partitionBy(__pid) (which re-shuffles
    the whole coords table); results must match the brute-force
    dominance scan."""
    from velox_hadoop_spark.operators.skyline import skyline_min_max

    rows = [(i % 17 + (i % 5) * 3, (i * 7) % 23 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "price int, size int").repartition(7)
    got = {(r.price, r.size) for r in skyline_min_max(df, "price", "size").collect()}
    pts = set(rows)
    want = {
        (p, s)
        for (p, s) in pts
        if not any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s)) for (p2, s2) in pts
        )
    }
    assert got == want
    plan = skyline_min_max(df, "price", "size")._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__pid" not in plan or "row_number" not in plan


def test_regexp_extract_all_zero_match_doc(spark, tmp_path):
    """A document with NO 'a'-bearing token must yield first_hit=NULL,
    not an ANSI INVALID_ARRAY_INDEX_IN_ELEMENT_AT abort (the round-6
    review fix: element_at -> try_element_at; the session runs with
    Spark 4's default ANSI mode ON)."""
    from velox_hadoop_spark.plans import registry

    df = spark.createDataFrame(
        [
            (1, "json http 500", "en", "web", 13),
            (2, "alpha data bank", "en", "web", 15),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/documents.parquet")
    rows = {
        r.doc_id: (r.n_hits, r.first_hit)
        for r in registry.queries()["regexp_extract_all_tokens"](spark, d).collect()
    }
    assert rows[1] == (0, None)
    assert rows[2][0] == 3 and rows[2][1] == "alpha"


def test_quality_gate_funnel_empty_and_all_filtered(spark, tmp_path):
    """An empty corpus (and one where a gate filters everything) must
    produce the full 5-row funnel with NULL retention ratios — not an
    ANSI DIVIDE_BY_ZERO abort (round-6 review fix: try_divide)."""
    from velox_hadoop_spark.plans import registry

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    d_empty = str(tmp_path / "empty")
    spark.createDataFrame([], schema).write.parquet(f"{d_empty}/documents.parquet")
    rows = registry.queries()["quality_gate_funnel"](spark, d_empty).collect()
    assert len(rows) == 5
    assert all(r.n_docs == 0 for r in rows)
    assert all(r.retained_vs_prev is None for r in rows)

    # every doc shorter than the 60-char gate: stage 1 onward is 0
    d_short = str(tmp_path / "short")
    spark.createDataFrame(
        [(1, "tiny", "en", "web", 4)], schema
    ).write.parquet(f"{d_short}/documents.parquet")
    rows = {r.stage: r for r in registry.queries()["quality_gate_funnel"](spark, d_short).collect()}
    assert rows["0_total"].n_docs == 1
    assert rows["1_min_length"].n_docs == 0
    assert rows["2_lang_allowlist"].retained_vs_prev is None


def test_ntile_decile_single_customer(spark, tmp_path):
    """A single-customer order set: pct_rank is DEFINED as 0 for a
    1-row partition (what percent_rank() returns in both engines), not
    an ANSI DIVIDE_BY_ZERO abort (round-6 review fix)."""
    import datetime

    from velox_hadoop_spark.plans import registry

    t0 = datetime.datetime(1995, 1, 1)
    orders = spark.createDataFrame(
        [(1, 7, "O", 100.0, t0, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "sf")
    orders.write.parquet(f"{d}/orders.parquet")
    rows = registry.queries()["ntile_decile_customer_spend"](spark, d).collect()
    assert len(rows) == 1
    assert rows[0].pct_rank == 0.0 and rows[0].cume == 1.0
