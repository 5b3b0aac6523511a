"""Dedup / similarity / textstats / multimodal: unit + oracle parity."""

import pytest

from pyspark.sql import functions as F

from velox_hadoop_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature,
    shingle_set,
    simhash64,
)
from velox_hadoop_spark.operators.multimodal import extract_features, MEDIA_SCHEMA
from tests.conftest import assert_parity, cosine_vectors, numpy_knn, numpy_near_dup

PARITY_QUERIES = [
    "dedup_exact",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "dedup_clusters",
    "ngram_jaccard_pairs",
    "simhash_docs",
    "ann_bruteforce_topk",
    "knn_top1_all",
    "embedding_lsh_buckets",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_near_dup",
    "token_stats",
    "quality_score",
    "lang_id_ngram",
    "doc_fingerprint",
    "multimodal_meta",
]


@pytest.mark.parametrize("name", PARITY_QUERIES)
def test_oracle_parity(spark, duck, name):
    assert_parity(spark, duck, name)


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


def test_exact_dedup_finds_copies(spark):
    df = _docs(spark, ["a b c", "a b c", "x y z"])
    got = {r.keeper_id: r.n_copies for r in exact_dedup_groups(df, "doc_id", "text").collect()}
    assert got == {0: 2, 2: 1}


def test_identical_docs_share_full_signature_and_all_bands(spark):
    df = _docs(spark, ["w1 w2 w3 w4 w5 w6", "w1 w2 w3 w4 w5 w6", "q1 q2 q3 q4 q5 q6"])
    sig = minhash_signature(shingle_set(df, "doc_id", "text"), "doc_id")
    rows = {r.doc_id: tuple(r)[1:] for r in sig.collect()}
    assert rows[0] == rows[1] and rows[0] != rows[2]
    pairs = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id").collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


def test_jaccard_of_identical_is_one(spark):
    df = _docs(spark, ["a b c d e f g", "a b c d e f g"])
    rows = jaccard_pairs(shingle_set(df, "doc_id", "text"), "doc_id").collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0


def test_prefix_join_matches_bruteforce_threshold(spark):
    """Prefix-filtered output == brute-force jaccard_pairs filtered at t."""
    from velox_hadoop_spark.operators.dedup import prefix_filtered_jaccard

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    df = _docs(spark, [base, base + " w11", "q1 q2 q3 q4 q5 q6 q7", base])
    sh = shingle_set(df, "doc_id", "text")
    t = 0.5
    brute = {
        (r.id_a, r.id_b, r.n_shared, r.jaccard)
        for r in jaccard_pairs(sh, "doc_id").collect()
        if r.jaccard >= t
    }
    fast = {
        (r.id_a, r.id_b, r.n_shared, r.jaccard)
        for r in prefix_filtered_jaccard(sh, "doc_id", t).collect()
    }
    assert fast == brute and len(fast) >= 3  # (0,1) (0,3) (1,3)


def test_prefix_join_is_lossless_under_hot_shingles(spark):
    """A stop-shingle shared by every doc breaks the df-capped path
    (cap=1 drops it) but not the prefix path — rare-first ordering
    pushes the hot shingle out of the prefix without dropping it."""
    from velox_hadoop_spark.operators.dedup import prefix_filtered_jaccard

    stop = "the same stop phrase here"  # one shared 5-gram across all docs
    df = _docs(
        spark,
        [
            f"a1 a2 a3 a4 a5 {stop}",
            f"a1 a2 a3 a4 a5 {stop}",
            f"z1 z2 z3 z4 z5 {stop}",
        ],
    )
    sh = shingle_set(df, "doc_id", "text")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filtered_jaccard(sh, "doc_id", 0.9).collect()
    }
    assert got == {(0, 1): 1.0}


def test_simhash_close_for_similar_docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    df = _docs(spark, [base, base + " extra", "completely different words here now"])
    got = {r.doc_id: r.simhash for r in simhash64(df, "doc_id", "text").collect()}
    ham01 = bin(got[0] ^ got[1]).count("1")
    ham02 = bin(got[0] ^ got[2]).count("1")
    assert ham01 < ham02


def test_multimodal_feature_extraction(spark):
    rows = [
        (1, "image", bytearray(b"\x10imagebytes\x20"), {}),
        (2, "video", bytearray(b"vid" * 50), {}),
        (3, "audio", bytearray(b"pcm" * 7), {}),
        (4, "image", None, {}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in extract_features(media).collect()}
    assert got[1].width == 16 + 0x10 % 64 and got[1].n_frames == 1
    assert got[2].n_frames == 1 + 150 % 120
    assert got[3].n_frames == 1 + 21 % 48000
    assert got[4].n_bytes is None and got[4].digest is None
    assert got[2].digest is not None and len(got[2].digest) == 64


def test_resize_stub_raises(spark):
    from velox_hadoop_spark.operators.multimodal import resize_images

    media = spark.createDataFrame([(1, "image", bytearray(b"x"), {})], MEDIA_SCHEMA)
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        resize_images(media, 8, 8).collect()


def test_sample_frames_shape(spark):
    from velox_hadoop_spark.operators.multimodal import sample_frames, _decode_stub

    rows = [
        (1, "video", bytearray(b"x" * 95), None),   # 96 frames -> idx 0,30,60,90
        (2, "image", bytearray(b"img"), None),      # skipped
        (3, "video", None, None),                   # null payload skipped
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = sample_frames(media, every_k=30).collect()
    n_frames = _decode_stub(b"x" * 95, "video")["n_frames"]
    assert {r.media_id for r in got} == {1}
    assert [r.frame_idx for r in sorted(got, key=lambda r: r.frame_idx)] == list(
        range(0, n_frames, 30)
    )
    assert all(len(r.frame_digest) == 64 for r in got)


def test_inline_minhash_matches_exploded_and_is_shuffle_free(spark):
    """The in-row signature (array_min over transform) must produce the
    exact rows of the exploded groupBy form, with no Exchange in the
    physical plan (the whole point of the rewrite)."""
    from velox_hadoop_spark.operators.dedup import minhash_signature_inline

    df = _docs(
        spark,
        [
            "w1 w2 w3 w4 w5 w6 w7",
            "w1 w2 w3 w4 w5 w6 w7",
            "a b c d e f g h i j",
            "too short",  # < k words: dropped by both forms
        ],
    )
    exploded = {
        tuple(r) for r in minhash_signature(shingle_set(df, "doc_id", "text"), "doc_id").collect()
    }
    inline_df = minhash_signature_inline(df, "doc_id", "text")
    inline = {tuple(r) for r in inline_df.collect()}
    assert inline == exploded and len(inline) == 3
    plan = inline_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_chunking_parity(spark, duck):
    assert_parity(spark, duck, "chunk_documents_overlap")


def test_redact_pii_parity(spark, duck):
    assert_parity(spark, duck, "redact_pii_docs")


def test_chunk_boundaries_and_overlap(spark):
    from velox_hadoop_spark.operators.textstats import chunk_documents

    text = " ".join(f"t{i}" for i in range(100))  # 100 tokens
    df = spark.createDataFrame([(1, text), (2, "short doc")], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, chunk_tokens=60, overlap=15).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    d1 = [r for r in rows if r.doc_id == 1]
    # starts at 0, 45, 90 → 3 chunks of 60, 55, 10 tokens
    assert [(r.chunk_id, r.n_tokens) for r in d1] == [(0, 60), (1, 55), (2, 10)]
    # overlap: chunk 1 begins 15 tokens before chunk 0 ends
    assert d1[1].chunk_text.split()[0] == "t45"
    d2 = [r for r in rows if r.doc_id == 2]
    assert [(r.chunk_id, r.n_tokens) for r in d2] == [(0, 2)]


def test_redaction_masks_emails_and_numbers(spark):
    from velox_hadoop_spark.operators.textstats import redact_pii

    df = spark.createDataFrame(
        [(1, "mail me at a.b@x.org or call 123456789 now"), (2, "clean text")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: (r.redacted_text, r.was_redacted) for r in redact_pii(df).collect()}
    assert got[1] == ("mail me at <EMAIL> or call <NUM> now", True)
    assert got[2] == ("clean text", False)


def test_embedding_norms_arrow_parity(spark, duck):
    assert_parity(spark, duck, "embedding_norms_arrow")


def test_curation_pipeline_parity(spark, duck):
    assert_parity(spark, duck, "curation_pipeline_stats")


def test_curation_pipeline_monotone(spark):
    """The pipeline only ever drops documents: sampled docs <= deduped
    <= quality-gated <= corpus."""
    from velox_hadoop_spark.plans import registry

    from tests.conftest import SF_DIR
    from velox_hadoop_spark.catalog import read_table

    stats = registry.queries()["curation_pipeline_stats"](spark, SF_DIR).collect()
    n_docs = sum(r.n_docs for r in stats)
    corpus = read_table(spark, SF_DIR, "documents").count()
    assert 0 < n_docs < corpus


def test_double_array_literal_is_bit_equal(spark):
    """double_array's one-parse literal carries each Python float bit
    for bit, including the values a decimal literal cannot spell
    (-0.0, NaN, ±inf), and finite values type as F.array of F.lit
    does."""
    import math
    import random
    import struct

    from velox_hadoop_spark.functions.vectors import double_array

    rnd = random.Random(7)
    xs = [rnd.uniform(-1, 1) for _ in range(64)]
    xs += [struct.unpack("f", struct.pack("f", rnd.gauss(0, 1)))[0] for _ in range(64)]
    xs += [1e-300, 5e-324, 1.7976931348623157e308, 1e20, 0.1, -0.0, 0.0]
    xs += [math.nan, math.inf, -math.inf]
    df = spark.range(1).select(double_array(xs).alias("a"))
    got = df.first().a
    bits = [struct.pack(">d", x) for x in xs]
    assert [struct.pack(">d", g) for g in got] == bits
    finite = xs[-5:-3]  # -0.0 and 0.0
    assert (
        spark.range(1).select(double_array(finite).alias("a")).schema
        == spark.range(1).select(F.array(*[F.lit(x) for x in finite]).alias("a")).schema
    )


def test_knn_exact_matches_numpy_reference(spark, monkeypatch):
    """BLOCK_ROWS = 16 splits the corpus into many blocks; the merged
    tile top-k must equal the brute-force reference."""
    from velox_hadoop_spark.operators import similarity
    from velox_hadoop_spark.operators.similarity import knn_exact

    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    monkeypatch.setattr(similarity, "BLOCK_ROWS", 16)
    blocked = {tuple(r) for r in knn_exact(emb, k=3).collect()}
    assert blocked == numpy_knn(cosine_vectors(emb), 3)


def test_knn_blocked_query_frame_matches_numpy_reference(spark):
    """The recall gates' >500k exact baseline: knn_blocked with a small
    query frame and n_query_blocks=1 must equal the brute-force
    reference restricted to the same queries, and its plan must not
    broadcast anything (the corpus streams through the cogroup
    un-replicated; the old fallback F.broadcast-ed an SF-proportional
    sample)."""
    from velox_hadoop_spark.operators.similarity import knn_blocked, recall_query_sample

    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sample = recall_query_sample(emb).limit(40)
    ref = numpy_knn(cosine_vectors(emb), 3, [r.vec_id for r in sample.select("vec_id").collect()])
    blocked_df = knn_blocked(emb, k=3, n_blocks=8, queries=sample, n_query_blocks=1)
    blocked = {tuple(r) for r in blocked_df.collect()}
    assert len(ref) > 0
    assert blocked == ref
    plan = blocked_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_score_pairs_exact_arrow_matches_join_path(spark):
    """The recall gates' candidate re-rank: the broadcast-Arrow scorer
    (binary-search id lookup + row-wise dot) must agree pair-for-pair
    with the over-budget join fallback, and both must DROP pairs whose
    either side is degenerate (NULL / empty / zero vector) — the
    oracle's finite-vector CTE semantics. Unguarded, a zero vector
    cosines as NaN, which Spark ranks above every number."""
    from velox_hadoop_spark.operators.similarity import score_pairs_exact

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.6, 0.8]),
            (3, [0.0, 1.0]),
            (4, None),
            (5, []),
            (6, [0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (1, 5), (1, 6), (1, 99)],
        "query_id long, neighbor_id long",
    )
    arrow = {tuple(r) for r in score_pairs_exact(emb, cand).collect()}
    joined = {
        tuple(r)
        for r in score_pairs_exact(
            emb, cand, driver_broadcast_rows=0
        ).collect()
    }
    assert arrow == joined
    assert {(q, n) for q, n, _ in arrow} == {(1, 2), (1, 3), (2, 3)}
    cos = {(q, n): c for q, n, c in arrow}
    assert cos[(1, 2)] == 0.6 and cos[(1, 3)] == 0.0 and cos[(2, 3)] == 0.8


def test_near_dup_blocked_matches_numpy_reference(spark, monkeypatch):
    """BLOCK_ROWS = 16 splits the corpus into many blocks; the union of
    the tiles' upper triangles must equal the brute-force pairs."""
    from velox_hadoop_spark.operators import similarity
    from velox_hadoop_spark.operators.dedup import cosine_near_dup_pairs

    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ref = numpy_near_dup(cosine_vectors(emb), 0.45)
    monkeypatch.setattr(similarity, "BLOCK_ROWS", 16)
    blocked = {tuple(r) for r in cosine_near_dup_pairs(emb, 0.45).collect()}
    assert len(ref) > 0
    assert blocked == ref


@pytest.mark.parametrize(
    "name", ["knn_top1_all", "embedding_near_dup", "ann_ivf_topk", "ann_ivf_recall"]
)
def test_cosine_tile_callers_match_oracle_in_small_chunks(spark, duck, monkeypatch, name):
    """TILE_ENTRIES = 64 leaves each cosine chunk one or two query rows,
    so every caller of the tile kernel (the blocked top-k and pair
    kernels, the IVF cell scorer, the driver recall scorer) runs many
    chunks per tile; the results must still match the oracle."""
    from velox_hadoop_spark.operators import similarity

    monkeypatch.setattr(similarity, "TILE_ENTRIES", 64)
    assert_parity(spark, duck, name)


def test_cosine_tile_kernel_on_numpy_inputs():
    """The tile kernel and its two reducers against a brute-force
    reference: cosine ties whose rows fall in different chunks keep id
    order, k at or above n returns every other vector, empty and 1-row
    inputs give typed empty frames, and no chunk holds more than the
    budget's entries (or one row, when a row alone is wider)."""
    import numpy as np

    from velox_hadoop_spark.operators.similarity import (
        cosine_pairs_above,
        cosine_tiles,
        cosine_topk,
        unit_rows,
    )

    rng = np.random.default_rng(5)
    # 24 vectors, ids shuffled; 12 are copies of three directions, so
    # each of those has tied neighbors in rows of every chunk
    base = rng.integers(-3, 4, size=(12, 4)).astype(np.float64)
    base[0] = 0.5
    assert (np.abs(base).sum(axis=1) > 0).all()
    dirs = np.array([[1.0, 0, 0, 0], [0, 2.0, 1.0, 0], [1.0, 1.0, 1.0, 1.0]])
    vecs = np.vstack([base, np.repeat(dirs, 4, axis=0) * rng.integers(1, 4, size=(12, 1))])
    ids = rng.permutation(np.arange(100, 124))
    sids, mat = unit_rows(ids, list(vecs))
    assert list(sids) == sorted(ids)
    raw = dict(zip(ids.tolist(), vecs.tolist()))
    for entries in (1, 30, 48, 1 << 22):
        chunks = list(cosine_tiles(sids, mat, sids, mat, entries))
        assert [lo for lo, _ in chunks] == list(np.cumsum([0] + [len(c) for _, c in chunks[:-1]]))
        assert sum(len(c) for _, c in chunks) == len(sids)
        assert all(c.size <= entries or len(c) == 1 for _, c in chunks)
        for k in (1, 3, 23, 40):
            got = cosine_topk(sids, mat, sids, mat, k, entries)
            assert {tuple(r) for r in got.itertuples(index=False)} == numpy_knn(raw, k)
        got = cosine_pairs_above(sids, mat, sids, mat, 0.5, entries)
        assert {tuple(r) for r in got.itertuples(index=False)} == numpy_near_dup(raw, 0.5)
    assert len(cosine_topk(sids, mat, sids, mat, 40, 30)) == 24 * 23

    empty_ids, empty = unit_rows(np.empty(0, np.int64), [])
    one_ids, one = unit_rows(np.array([7]), [np.array([1.0, 2.0])])
    for (qi, q), (ni, n) in [
        ((empty_ids, empty), (empty_ids, empty)),
        ((empty_ids, empty), (sids, mat)),
        ((sids, mat), (empty_ids, empty)),
        ((one_ids, one), (one_ids, one)),
    ]:
        top = cosine_topk(qi, q, ni, n, 3, 64)
        assert top.empty and list(top.columns) == ["query_id", "neighbor_id", "cos", "rnk"]
        assert [str(t) for t in top.dtypes] == ["int64", "int64", "float64", "int64"]
        pairs = cosine_pairs_above(qi, q, ni, n, -1.0, 64)
        assert pairs.empty and list(pairs.columns) == ["a_id", "b_id", "cos"]


def test_hot_key_cap_bounds_pair_fanout(spark):
    """Adversarial fixture: a stop-phrase shingle shared by every doc.
    Without the df-cap the self-join would emit O(n²) pairs for it; with
    the cap those docs pair only through their genuinely-shared rare
    shingles."""
    from velox_hadoop_spark.operators.dedup import jaccard_pairs, shingle_set

    boiler = "the quick brown fox jumps"  # one 5-gram shared by ALL docs
    texts = [f"{boiler} unique{i} a{i} b{i} c{i} d{i}" for i in range(20)]
    # docs 0 and 1 additionally share a rare 5-word tail -> one genuine pair
    texts[0] = f"{boiler} unique0 s1 s2 s3 s4 s5"
    texts[1] = f"{boiler} unique1 s1 s2 s3 s4 s5"
    docs = _docs(spark, texts)
    sh = shingle_set(docs, "doc_id", "text")
    capped = jaccard_pairs(sh, "doc_id", max_doc_freq=5).collect()
    uncapped = jaccard_pairs(sh, "doc_id", max_doc_freq=10**6).collect()
    # every doc shares the boilerplate shingle -> full clique uncapped
    assert len(uncapped) == 20 * 19 // 2
    # capped: only the genuinely near-dup pair survives
    assert [(r.id_a, r.id_b) for r in capped] == [(0, 1)]


def test_lsh_band_cap_drops_hot_bucket(spark):
    from velox_hadoop_spark.operators.dedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature_inline,
    )

    # 12 identical docs: every band bucket has 12 members
    docs = _docs(spark, ["a b c d e f g h" for _ in range(12)])
    bands = lsh_bands(minhash_signature_inline(docs, "doc_id", "text"), "doc_id")
    assert lsh_candidate_pairs(bands, "doc_id", max_bucket=11).count() == 0
    assert lsh_candidate_pairs(bands, "doc_id", max_bucket=12).count() == 12 * 11 // 2


def test_connected_components_distributed_matches_unionfind(spark, monkeypatch):
    """CC_DRIVER_PAIRS = 0 forces the distributed branch; both regimes
    must produce identical (node, lbl) labelings, including on a
    60-node chain (deeper than any fixed pass budget of per-pass label
    propagation) and a self-pair, which both regimes ignore."""
    from velox_hadoop_spark.operators import graph
    from velox_hadoop_spark.operators.graph import connected_components

    # two components {1,2,3,4} and {10,11}, a chain 20-21-22, a
    # 60-node chain 100..159, and a self-pair on a node no other pair
    # touches
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (30, 30)]
    edges += [(i, i + 1) for i in range(100, 159)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    uf = {tuple(r) for r in connected_components(pairs).collect()}
    monkeypatch.setattr(graph, "CC_DRIVER_PAIRS", 0)
    dist = {tuple(r) for r in connected_components(pairs).collect()}
    assert dist == uf
    assert {(1, 1), (4, 1), (11, 10), (22, 20), (159, 100)} <= dist
    assert not any(n == 30 for n, _ in dist)
    assert len(dist) == 4 + 2 + 3 + 60


def test_connected_components_raises_without_fixed_point(spark, monkeypatch):
    import pytest as _pytest

    from velox_hadoop_spark.operators import graph
    from velox_hadoop_spark.operators.graph import connected_components

    # the distributed loop stops only after a pass pair leaves the edge
    # set unchanged, so one pass pair can never prove a fixed point
    chain = [(i, i + 1) for i in range(6)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    monkeypatch.setattr(graph, "CC_DRIVER_PAIRS", 0)
    monkeypatch.setattr(graph, "CC_MAX_PASSES", 1)
    with _pytest.raises(RuntimeError, match="no fixed point"):
        connected_components(pairs)


@pytest.mark.parametrize(
    "name",
    [
        "near_dup_verified_pairs",
        "normalization_dedup_stats",
        "charclass_stats_by_lang",
    ],
)
def test_round3_additions_parity(spark, duck, name):
    assert_parity(spark, duck, name)


def test_verify_stage_scores_only_candidates(spark):
    """verify_candidate_jaccard scores exactly the candidate pairs (and
    agrees with the brute-force jaccard_pairs on them)."""
    from velox_hadoop_spark.operators.dedup import verify_candidate_jaccard

    df = _docs(
        spark,
        [
            "a b c d e f g h",       # 0: near-dup of 1
            "a b c d e f g x",       # 1
            "p q r s t u v w",       # 2: unrelated
        ],
    )
    sh = shingle_set(df, "doc_id", "text")
    cand = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    got = verify_candidate_jaccard(cand, sh, "doc_id").collect()
    assert len(got) == 1 and got[0].id_a == 0 and got[0].id_b == 1
    brute = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(sh, "doc_id").collect()
    }
    assert got[0].jaccard == brute[(0, 1)]


def test_normalization_collapses_cosmetic_variants(spark):
    from velox_hadoop_spark.plans.registry import specs as _specs
    import tempfile, os as _os

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [
                (1, "Hello,   World!", "en", "web", 15),
                (2, "hello world", "en", "web", 11),
                (3, "different doc", "en", "web", 13),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(_os.path.join(d, "documents.parquet"))
        out = _specs()["normalization_dedup_stats"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_docs, r.n_norm_distinct, r.n_norm_dups) == (3, 2, 1)


def test_charclass_fracs_sum_to_one(spark):
    from velox_hadoop_spark.plans.registry import specs as _specs

    rows = _specs()["charclass_stats_by_lang"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        total = r.letter_frac + r.digit_frac + r.space_frac + r.other_frac
        assert abs(total - 1.0) < 5e-6


@pytest.mark.parametrize("name", ["ann_lsh_recall_at_k", "ann_multiprobe_recall"])
def test_recall_gate_parity(spark, duck, name):
    assert_parity(spark, duck, name)


def test_amplified_recall_dominates_single_table(spark):
    """OR-amplification can only ADD candidates, so amplified recall
    must be >= the single-table gate's recall on the same sample."""
    from velox_hadoop_spark.plans.registry import specs as _specs

    sf = "/root/testdata/sf0.001"
    single = _specs()["ann_lsh_recall_at_k"].fn(spark, sf).collect()[0]
    amp = _specs()["ann_multiprobe_recall"].fn(spark, sf).collect()[0]
    assert amp.n_exact == single.n_exact
    assert amp.recall >= single.recall


def test_ivf_recall_parity(spark, duck):
    assert_parity(spark, duck, "ann_ivf_recall")


RECALL_GATES = [
    "ann_lsh_recall_at_k",
    "ann_multiprobe_recall",
    "ann_ivf_recall",
    "ann_recall_budget_curve",
]


@pytest.mark.parametrize("name", RECALL_GATES)
def test_recall_gate_distributed_parity(spark, duck, monkeypatch, name):
    """DRIVER_BROADCAST_ROWS = 0 sends every recall gate down its
    distributed path (blocked exact top-k, join re-rank), which must
    still match the oracle the driver path matches."""
    from velox_hadoop_spark.operators import similarity

    monkeypatch.setattr(similarity, "DRIVER_BROADCAST_ROWS", 0)
    assert_parity(spark, duck, name)


@pytest.mark.parametrize("cap", [None, -1], ids=["driver", "distributed"])
@pytest.mark.parametrize("corpus", ["empty", "all_zero"])
@pytest.mark.parametrize("name", RECALL_GATES)
def test_recall_gate_on_degenerate_corpus(spark, monkeypatch, tmp_path, name, corpus, cap):
    """No vector survives the degenerate filter: every gate reports an
    empty exact baseline with NULL recall, in both regimes. A cap of -1
    is needed to force the distributed path here, as an empty collect
    fits under a cap of 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from velox_hadoop_spark.operators import similarity
    from velox_hadoop_spark.plans.registry import specs as _specs

    n = 0 if corpus == "empty" else 5
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array([[0.0] * 64] * n, pa.list_(pa.float32())),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    if cap is not None:
        monkeypatch.setattr(similarity, "DRIVER_BROADCAST_ROWS", cap)
    rows = _specs()[name].fn(spark, str(tmp_path)).collect()
    assert len(rows) == (3 if name == "ann_recall_budget_curve" else 1)
    for r in rows:
        assert (r.n_queries, r.n_exact, r.n_hits, r.recall) == (0, 0, 0, None)


def test_ivf_recall_jobs_below_cap(spark, tmp_path):
    """Below the driver cap, ann_ivf_recall builds with at most 3 Spark
    jobs (codebook collect, the one frame collect) and writes its
    one-row local relation with 1."""
    from tests.conftest import SF_DIR
    from velox_hadoop_spark.plans.registry import specs as _specs

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("ivf-recall-build", "build")
        df = _specs()["ann_ivf_recall"].fn(spark, SF_DIR)
        sc.setJobGroup("ivf-recall-write", "write")
        df.write.parquet(str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(tracker.getJobIdsForGroup("ivf-recall-build")) <= 3
    assert len(tracker.getJobIdsForGroup("ivf-recall-write")) == 1


def test_entity_resolution_parity(spark, duck):
    assert_parity(spark, duck, "entity_resolution_parts")


def test_entity_resolution_survivorship(spark):
    """Canonical record is the longest name (ties by name then id)."""
    from velox_hadoop_spark.plans.registry import specs as _specs

    rows = _specs()["entity_resolution_parts"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    assert all(r.n_members >= 2 for r in rows)


def test_containment_found_regardless_of_id_order(spark):
    """A truncated copy must be reported whether the shorter doc has the
    lower OR the higher doc_id (regression: the length check was tied
    to id order)."""
    from velox_hadoop_spark.plans.registry import specs as _specs
    import tempfile, os as _os

    long_text = "word" + " tokens" * 30  # > block chars
    short_text = long_text[:80]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [
                (1, long_text, "en", "web", len(long_text)),    # longer has LOWER id
                (2, short_text, "en", "web", len(short_text)),
                (10, short_text + "x", "en", "web", 81),        # not a prefix pair
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(_os.path.join(d, "documents.parquet"))
        got = {
            (r.id_a, r.id_b)
            for r in _specs()["contained_doc_pairs"].fn(spark, d).collect()
        }
    assert (1, 2) in got
