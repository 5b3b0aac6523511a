"""Retrieval evaluation + asymmetric dedup analytics, round 9. [extension]

nDCG@k over the embedding kNN ranking (label ground truth), MinHash-
candidate containment similarity (the asymmetric near-dup measure that
catches subset documents a symmetric Jaccard threshold misses), the
cross-source near-dup pair matrix, and a Zipf rank-frequency slope —
all assembled from existing kernels (``similarity.cosine_pairs``,
``dedup``'s LSH candidate + shingle machinery) without modifying them.

Numeric discipline: every DCG/IDCG reduction is an ORDERED fold over a
rank-sorted list in both engines (free-order sums of 1/log2 terms are
the r8 rounding-flip class); the Zipf OLS folds from integer
micro-unit quantized logs (the embedding-correlation precedent), so no
membership or hash decision ever rides a free-order double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.similarity import _DUCK_COS, cosine_pairs
from velox_hadoop_spark.plans.registry import register

NDCG_K = 10
NDCG_QUERIES = 10  # vec_id < 10, the ann_bruteforce_topk convention
CONTAIN_T = 0.5  # containment threshold for the report
ZIPF_TOP = 100


# ---------------------------------------------------------------------------
# nDCG@10 of the cosine kNN ranking against label ground truth
# ---------------------------------------------------------------------------


@register(
    "knn_label_ndcg_at_10",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                   FROM embeddings),
        pairs AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   q.label AS ql, n.label AS nl,
                   {_DUCK_COS} AS cos
            FROM e q JOIN e n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < {NDCG_QUERIES}
        ),
        ranked AS (
            SELECT query_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                   ) AS rnk,
                   CASE WHEN ql = nl THEN 1 ELSE 0 END AS rel
            FROM pairs
        ),
        rtot AS (
            SELECT query_id, sum(rel) AS n_rel_total FROM ranked
            GROUP BY query_id
        ),
        top AS (
            SELECT query_id,
                   CAST(sum(rel) AS BIGINT) AS n_rel_topk,
                   list({{'r': rnk, 'rel': rel}} ORDER BY rnk) AS rr
            FROM ranked WHERE rnk <= {NDCG_K}
            GROUP BY query_id
        ),
        folded AS (
            SELECT t.query_id, t.n_rel_topk,
                   CAST(r.n_rel_total AS BIGINT) AS n_rel_total,
                   list_sum(list_transform(
                       t.rr, s -> CAST(s.rel AS DOUBLE) / log2(s.r + 1))) AS dcg,
                   list_sum(list_transform(
                       generate_series(1, CAST(least(r.n_rel_total, {NDCG_K})
                                                AS INTEGER)),
                       i -> 1.0 / log2(i + 1))) AS idcg
            FROM top t JOIN rtot r USING (query_id)
            WHERE r.n_rel_total >= 1
        )
        SELECT query_id, n_rel_total, n_rel_topk,
               ROUND(dcg, 6) AS dcg,
               ROUND(dcg / idcg, 6) AS ndcg
        FROM folded
    """,
    tags=("retrieval", "evaluation", "ndcg", "extension"),
)
def q_knn_label_ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the brute-force cosine ranking for the first 10 query
    vectors, with binary relevance = same label — the retrieval-quality
    scorecard an embedding pipeline publishes next to its recall gates.
    DCG and the ideal DCG are ORDERED folds over rank-sorted lists in
    both engines (rel/log2(rank+1) terms are irrational; a free-order
    sum is the r8 rounding-flip class). Queries with no same-label
    document are skipped in both engines (ideal DCG is 0)."""
    emb = read_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    scored = cosine_pairs(emb.where(F.col("vec_id") < NDCG_QUERIES), emb)
    ranked = (
        scored.join(
            labels.select(F.col("vec_id").alias("query_id"), F.col("label").alias("ql")),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos"), F.asc("neighbor_id")
                )
            )
            .alias("rnk"),
            F.when(F.col("ql") == F.col("nl"), 1).otherwise(0).alias("rel"),
        )
    )
    rtot = ranked.groupBy("query_id").agg(F.sum("rel").alias("n_rel_total"))
    top = (
        ranked.where(F.col("rnk") <= NDCG_K)
        .groupBy("query_id")
        .agg(
            F.sum("rel").cast("long").alias("n_rel_topk"),
            F.sort_array(F.collect_list(F.struct(F.col("rnk").alias("r"), "rel"))).alias(
                "rr"
            ),
        )
    )
    dcg = F.aggregate(
        F.col("rr"),
        F.lit(0.0),
        lambda acc, s: acc + s["rel"].cast("double") / F.log2(s["r"] + 1),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel_total"), F.lit(NDCG_K)).cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i + 1),
    )
    return (
        top.join(rtot, "query_id")
        .where(F.col("n_rel_total") >= 1)
        .select(
            "query_id",
            F.col("n_rel_total").cast("long").alias("n_rel_total"),
            "n_rel_topk",
            F.round(dcg, 6).alias("dcg"),
            F.round(dcg / idcg, 6).alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# Containment similarity for LSH candidate pairs
# ---------------------------------------------------------------------------


def _cand_with_shingles(spark: SparkSession, sf_dir: str):
    """LSH candidates + capped shingle table + sizes — the shared front
    end of the two-stage near-dup pipeline, reused unmodified."""
    from velox_hadoop_spark.operators.dedup import (
        MAX_KEY_DOC_FREQ,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature_inline,
        shingle_set,
    )

    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    cand = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    sh_all = shingle_set(docs, "doc_id", "text")
    df_cap = (
        sh_all.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= MAX_KEY_DOC_FREQ)
        .select("shingle")
    )
    sh = sh_all.join(df_cap, "shingle", "left_semi").persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    return cand, sh, sizes


def _duck_containment_sql() -> str:
    from velox_hadoop_spark.operators.dedup import (
        MAX_KEY_DOC_FREQ,
        _BAND_KEYS,
        _duck_minhash_cte,
    )

    return (
        _duck_minhash_cte()
        + f""",
        bands AS ({_BAND_KEYS}),
        cool AS (
            SELECT band_id, band_key FROM bands
            GROUP BY band_id, band_key
            HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        capped AS (SELECT bands.* FROM bands JOIN cool USING (band_id, band_key)),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM capped a JOIN capped b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        cool_sh AS (
            SELECT shingle FROM sh GROUP BY shingle
            HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        shc AS (SELECT sh.* FROM sh JOIN cool_sh USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS n_shared
            FROM cand c
            JOIN shc a ON a.doc_id = c.id_a
            JOIN shc b ON b.doc_id = c.id_b AND b.shingle = a.shingle
            GROUP BY c.id_a, c.id_b
        )
        SELECT i.id_a, i.id_b,
               CAST(i.n_shared AS BIGINT) AS n_shared,
               CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
               ROUND(i.n_shared / CAST(sa.n AS DOUBLE), 6) AS contain_ab,
               ROUND(i.n_shared / CAST(sb.n AS DOUBLE), 6) AS contain_ba
        FROM inter i
        JOIN sizes sa ON i.id_a = sa.doc_id
        JOIN sizes sb ON i.id_b = sb.doc_id
        WHERE ROUND(i.n_shared / CAST(sa.n AS DOUBLE), 6) >= {CONTAIN_T}
           OR ROUND(i.n_shared / CAST(sb.n AS DOUBLE), 6) >= {CONTAIN_T}
    """
    )


@register(
    "minhash_containment_pairs",
    oracle=None,  # attached below (assembled from dedup CTE helpers)
    tags=("dedup", "minhash", "containment", "extension"),
)
def q_minhash_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment similarity C(A→B) = |A∩B| / |A| for LSH candidate
    pairs — the ASYMMETRIC near-dup measure: a short doc fully embedded
    in a long one scores contain ≈ 1 while its Jaccard stays far below
    any symmetric threshold, so this is the query that catches subset/
    quote duplication. Emits pairs where either direction clears τ =
    0.5, with both directions and the exact intersection reported.
    Same scale shape as the verified-pairs pipeline: candidate-bounded,
    one capped-shingle universe, membership on 6-dp ROUNDED ratios in
    both engines."""
    cand, sh, sizes = _cand_with_shingles(spark, sf_dir)
    a_sh = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        cand.join(a_sh, "id_a")
        .join(b_sh, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a"
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("n_shared") / F.col("n_a").cast("double"), 6).alias(
                "contain_ab"
            ),
            F.round(F.col("n_shared") / F.col("n_b").cast("double"), 6).alias(
                "contain_ba"
            ),
        )
    )
    return out.where(
        (F.col("contain_ab") >= CONTAIN_T) | (F.col("contain_ba") >= CONTAIN_T)
    )


# ---------------------------------------------------------------------------
# Cross-source near-dup pair matrix
# ---------------------------------------------------------------------------


def _duck_cross_source_sql() -> str:
    from velox_hadoop_spark.operators.dedup import _VERIFY_JACC_T

    spec = __import__(
        "velox_hadoop_spark.plans.registry", fromlist=["specs"]
    ).specs()["near_dup_verified_pairs"]
    return f"""
        WITH vp AS ({spec.oracle}),
        lab AS (
            SELECT v.id_a, v.id_b, da.source AS src_a, db.source AS src_b
            FROM vp v
            JOIN documents da ON da.doc_id = v.id_a
            JOIN documents db ON db.doc_id = v.id_b
        )
        SELECT least(src_a, src_b) AS source_1,
               greatest(src_a, src_b) AS source_2,
               count(*) AS n_pairs
        FROM lab GROUP BY 1, 2
    """


@register(
    "cross_source_neardup_matrix",
    oracle=None,  # attached below (wraps the verified-pairs oracle)
    tags=("dedup", "provenance", "report", "extension"),
)
def q_cross_source_neardup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs (the two-stage MinHash→exact-Jaccard
    pipeline, τ = 0.5) rolled up by unordered source pair — the
    provenance matrix that tells a curation owner WHICH feeds duplicate
    each other (mirror sites show up as hot off-diagonal cells). Source
    labels re-attach by two id equi-joins; the matrix is
    source²-bounded."""
    from velox_hadoop_spark.operators.dedup import (
        _VERIFY_JACC_T,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature_inline,
        shingle_set,
        verify_candidate_jaccard,
    )

    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    cand = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    sh = shingle_set(docs, "doc_id", "text")
    verified = verify_candidate_jaccard(cand, sh, "doc_id").where(
        F.col("jaccard") >= _VERIFY_JACC_T
    )
    src = docs.select("doc_id", "source")
    lab = (
        verified.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")),
            "id_a",
        )
        .join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")),
            "id_b",
        )
    )
    return lab.groupBy(
        F.least("src_a", "src_b").alias("source_1"),
        F.greatest("src_a", "src_b").alias("source_2"),
    ).agg(F.count("*").alias("n_pairs"))


# ---------------------------------------------------------------------------
# Zipf rank-frequency slope
# ---------------------------------------------------------------------------


@register(
    "zipf_slope_top_tokens",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split_regex(text, '\\s+')) AS t
            FROM documents
        ),
        cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        top AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS r
            FROM cnt QUALIFY r <= {ZIPF_TOP}
        ),
        q AS (
            SELECT CAST(round(log2(r) * 1000000) AS BIGINT) AS x,
                   CAST(round(log2(c) * 1000000) AS BIGINT) AS y
            FROM top
        ),
        s AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx
            FROM q
        )
        SELECT CAST(n AS BIGINT) AS n_tokens,
               ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx),
                     6) AS zipf_slope
        FROM s
        WHERE n >= 2 AND CAST(n AS HUGEINT) * sxx > CAST(sx AS HUGEINT) * sx
    """,
    tags=("textstats", "zipf", "regression", "extension"),
)
def q_zipf_slope_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope: OLS of log2(frequency) on log2(rank) over the
    top-100 corpus tokens (a healthy natural-language corpus sits near
    −1; boilerplate/code-heavy corpora flatten). The rank window runs
    over the vocabulary-bounded count table. Both log coordinates are
    quantized to integer MICRO-UNITS before the moment sums (the
    embedding-correlation precedent) so the slope folds from exact
    integers and no free-order double sum exists; the zero-variance
    guard compares exact wide integers."""
    tok = read_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", r"\s+")).alias("t")
    )
    cnt = tok.groupBy("t").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.desc("c"), F.asc("t"))
    top = (
        cnt.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= ZIPF_TOP)
        .select(
            F.round(F.log2("r") * 1000000).cast("long").alias("x"),
            F.round(F.log2("c") * 1000000).cast("long").alias("y"),
        )
    )
    s = top.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    return s.where(
        (F.col("n") >= 2)
        & (
            F.col("n").cast("decimal(38,0)") * F.col("sxx")
            > F.col("sx").cast("decimal(38,0)") * F.col("sx")
        )
    ).select(
        F.col("n").cast("long").alias("n_tokens"),
        F.round(
            (F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy"))
            / (
                F.col("n") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx")
            ),
            6,
        ).alias("zipf_slope"),
    )


# Late-bound oracles: both assemble from dedup's CTE helpers, which are
# import-time constants — attach_oracle runs the same lint gate as
# register().
from velox_hadoop_spark.plans.registry import attach_oracle  # noqa: E402

attach_oracle("minhash_containment_pairs", _duck_containment_sql())
attach_oracle("cross_source_neardup_matrix", _duck_cross_source_sql())
