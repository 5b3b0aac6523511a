"""LLM-curation composites, round 9. [extension]

Two end-to-end curation composites the round-8 verdict named as the
biggest remaining real-pipeline gaps, each assembled from kernels that
already exist in the repo:

  * DSIR-shape importance resampling (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): score every raw doc
    by the log-ratio of an add-1-smoothed bigram LM trained on the
    TARGET domain vs one trained on the RAW pool (the hashed-ngram LM
    of ``llmops5.q_bigram_logprob_score``), then draw a weight-
    proportional sample without replacement via the deterministic
    Efraimidis–Spirakis draw ``sampling.weighted_sample`` uses — in
    LOG space, so importance weights never overflow/underflow through
    an exp().

  * SemDeDup (Abbas et al.): k-means cells (``clustering.kmeans``,
    deterministic init + 6-dp rounding boundaries) → intra-cell cosine
    near-dup pruning keeping the member FARTHEST from its centroid
    (the paper's keeper), with a per-cluster prune report.

Scale shapes: both LM count tables are vocabulary²-bounded and flow
through distributed equi-joins (never broadcast-forced); the SemDeDup
pair stage is cell-bounded — production runs size k so cells stay
small (the paper uses ~100k clusters), so pairs are |cell|²-bounded,
never corpus².
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions.hashing import (
    duck_md5_int60,
    seeded,
    spark_md5_int60,
)
from velox_hadoop_spark.functions.vectors import cosine, to_double
from velox_hadoop_spark.operators.clustering import (
    ITERS as KM_ITERS,
    K as KM_K,
    _duck_kmeans_ctes,
    kmeans,
)
from velox_hadoop_spark.plans.registry import register

DSIR_TARGET = "src1"  # stand-in target domain (a high-quality source)
DSIR_SEED = "dsir29"
DSIR_MOD = 1000003  # prime modulus for the uniform-in-(0,1) hash draw
DSIR_K = 80  # resample size
LN2 = 0.6931471805599453  # repr(math.log(2)) — pinned so both engines
# multiply by the identical double (a bare `ln(2)` would trust each
# engine's libm; a bare textual literal would parse as DECIMAL in
# DuckDB — the textual-DECIMAL hazard the attribution fold documents)

assert LN2 == math.log(2)

# SemDeDup cosine threshold. Production SemDeDup prunes at ~0.95+ on
# real near-dup embeddings; the synthetic embeddings table has NO true
# near-dups (max pairwise cosine ≈ 0.51 at sf0.01), so the registered
# stand-in threshold sits inside the observed tail to keep the prune
# path exercised. The operator takes tau as a parameter.
SEMDEDUP_TAU = 0.35

# Dominator cap per cell: a member is only tested against the CAP
# highest-ranked (farthest-from-centroid, the keeper order) members of
# its cell. Bounds the intra-cell pair join at |cell|·CAP instead of
# |cell|² — with K fixed, cells grow ~n/K and the uncapped join grew
# ~n²/K (the round-9 10× probe measured 9.7 s → 436.6 s, a 45× blow-up
# on 10× data; capped it re-times linear). Exact for every member
# ranked ≤ CAP (all its dominators rank above it, hence inside the
# cap); below the cap it is the same deterministic-truncation contract
# as TRIANGLE_ADJ_CAP / MAX_KEY_DOC_FREQ, mirrored in the oracle.
# Production SemDeDup sizes K so cells stay ~CAP-sized anyway.
SEMDEDUP_DOM_CAP = 64


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------


def dsir_logratio(docs: DataFrame) -> DataFrame:
    """Per-raw-doc average bigram log2-likelihood ratio target vs raw:
    (doc_id, source, n_bigrams, lr) with lr UNROUNDED (callers that
    display it round; the resampler consumes it raw).

    Both LMs are add-1 smoothed over the SHARED whole-corpus vocabulary
    V: p(w₂|w₁) = (c(w₁,w₂)+1)/(c(w₁)+V). Target-unseen bigrams fall
    back to 1/(0+V) via the left joins; raw-side counts are inner joins
    because a raw doc's own bigrams are raw-corpus bigrams by
    construction."""
    w = docs.select("doc_id", "source", F.split("text", r"\s+").alias("w"))
    bg = (
        w.where(F.size("w") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(element_at(w, i) AS w1,"
                    " element_at(w, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    tc = (
        bg.where(F.col("source") == DSIR_TARGET)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("tc"))
    )
    tu = tc.groupBy("w1").agg(F.sum("tc").alias("tc1"))
    rc = (
        bg.where(F.col("source") != DSIR_TARGET)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("rc"))
    )
    ru = rc.groupBy("w1").agg(F.sum("rc").alias("rc1"))
    vocab = w.select(F.explode("w").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    lt = F.log2(
        (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
        / (F.coalesce(F.col("tc1"), F.lit(0)) + F.col("v"))
    )
    lr_ = F.log2((F.col("rc") + 1.0) / (F.col("rc1") + F.col("v")))
    return (
        bg.where(F.col("source") != DSIR_TARGET)
        .join(tc, ["w1", "w2"], "left")
        .join(tu, "w1", "left")
        .join(rc, ["w1", "w2"])
        .join(ru, "w1")
        .crossJoin(vocab)
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.avg(lt - lr_).alias("lr"),
        )
    )


def _duck_dsir_ctes() -> str:
    return f"""
        w AS (
            SELECT doc_id, source, string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        bg AS (
            SELECT doc_id, source, w[i] AS w1, w[i+1] AS w2
            FROM w CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2
        ),
        tc AS (SELECT w1, w2, count(*) AS tc FROM bg
               WHERE source = '{DSIR_TARGET}' GROUP BY w1, w2),
        tu AS (SELECT w1, sum(tc) AS tc1 FROM tc GROUP BY w1),
        rc AS (SELECT w1, w2, count(*) AS rc FROM bg
               WHERE source <> '{DSIR_TARGET}' GROUP BY w1, w2),
        ru AS (SELECT w1, sum(rc) AS rc1 FROM rc GROUP BY w1),
        vocab AS (
            SELECT count(DISTINCT tok) AS v FROM (
                SELECT unnest(w) AS tok FROM w
            )
        ),
        scored AS (
            SELECT b.doc_id, b.source,
                   count(*) AS n_bigrams,
                   avg(log2((coalesce(t.tc, 0) + 1.0)
                            / (coalesce(tt.tc1, 0) + vv.v))
                       - log2((r.rc + 1.0) / (rr.rc1 + vv.v))) AS lr
            FROM bg b
            LEFT JOIN tc t ON b.w1 = t.w1 AND b.w2 = t.w2
            LEFT JOIN tu tt ON b.w1 = tt.w1
            JOIN rc r ON b.w1 = r.w1 AND b.w2 = r.w2
            JOIN ru rr ON b.w1 = rr.w1
            CROSS JOIN vocab vv
            WHERE b.source <> '{DSIR_TARGET}'
            GROUP BY b.doc_id, b.source
        )
    """


@register(
    "dsir_logratio_scores",
    oracle=f"""
        WITH {_duck_dsir_ctes()}
        SELECT doc_id, source, CAST(n_bigrams AS BIGINT) AS n_bigrams,
               ROUND(lr, 6) AS avg_logratio
        FROM scored
    """,
    tags=("curation", "dsir", "language-model", "extension"),
)
def q_dsir_logratio_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR stage 1 — per-raw-doc importance score: average bigram
    log2-likelihood ratio of the target-domain LM ({src1} stands in)
    over the raw-pool LM, shared-vocabulary add-1 smoothing. Positive
    means target-like. Display-rounded; the resampler consumes the raw
    double."""
    return dsir_logratio(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "n_bigrams", F.round("lr", 6).alias("avg_logratio")
    )


@register(
    "dsir_importance_resample",
    oracle=f"""
        WITH {_duck_dsir_ctes()},
        keyed AS (
            SELECT doc_id, source, lr,
                   ln(-ln((({duck_md5_int60(seeded('doc_id', DSIR_SEED))})
                           % {DSIR_MOD} + 1) / {float(DSIR_MOD + 1)}))
                   - lr * CAST({LN2!r} AS DOUBLE) AS skey
            FROM scored
        )
        SELECT doc_id, source,
               ROUND(lr, 6) AS avg_logratio,
               ROUND(skey, 6) AS sample_key
        FROM keyed ORDER BY skey, doc_id LIMIT {DSIR_K}
    """,
    tags=("curation", "dsir", "sampling", "extension"),
)
def q_dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR stage 2 — importance resampling: draw the 80 raw docs with
    the smallest Efraimidis–Spirakis key −ln(u)/w, w = 2^avg_logratio,
    computed entirely in LOG space (ln(−ln u) − lr·ln2), so the
    importance weight never materializes through an exp() that would
    overflow at large |lr|. u is the seeded cross-engine MD5 draw every
    sampler in the repo uses; inclusion probability is ∝ the DSIR
    importance weight. Selection ties are broken by doc_id; a parity
    test pins the selection-boundary key gap orders of magnitude above
    cross-engine libm/accumulation noise."""
    scored = dsir_logratio(read_table(spark, sf_dir, "documents"))
    u = (
        (F.expr(spark_md5_int60(seeded("doc_id", DSIR_SEED))) % DSIR_MOD + 1)
        / F.lit(float(DSIR_MOD + 1))
    )
    keyed = scored.withColumn(
        "skey", F.log(-F.log(u)) - F.col("lr") * F.lit(LN2)
    )
    from velox_hadoop_spark.operators.sort import top_k

    picked = top_k(keyed, DSIR_K, F.asc("skey"), F.asc("doc_id"))
    return picked.select(
        "doc_id",
        "source",
        F.round("lr", 6).alias("avg_logratio"),
        F.round("skey", 6).alias("sample_key"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: k-means cells → intra-cell cosine pruning
# ---------------------------------------------------------------------------


def semdedup_members(emb: DataFrame) -> DataFrame:
    """k-means assignment joined back to its vector, restricted to
    cosine-valid members (‖e‖ > 0 — a zero vector has NaN cosine and
    can neither prune nor be pruned): (vec_id, cluster, dist, e)."""
    assigned = kmeans(emb)
    v = emb.where(F.col("embedding").isNotNull()).select(
        "vec_id", to_double(F.col("embedding")).alias("e")
    )
    from velox_hadoop_spark.functions.vectors import dot

    return (
        assigned.join(v, "vec_id")
        .where(dot(F.col("e"), F.col("e")) > 0)
        .select("vec_id", "cluster", "dist", "e")
    )


def semdedup_pruned(members: DataFrame, tau: float) -> DataFrame:
    """Members dominated by a same-cell near-duplicate: (vec_id,
    cluster, dist, pruned_by, cos). The keeper rule is the SemDeDup
    paper's: within a cell the member FARTHEST from the centroid wins
    (rank by kmeans dist DESC, vec_id ASC), and a member is pruned iff
    a same-cell member among the cell's SEMDEDUP_DOM_CAP highest-ranked
    sits above it within cosine ≥ tau (the cap bounds the pair join at
    |cell|·CAP; exact for members ranked ≤ CAP — see the constant).
    ``pruned_by`` is the closest such dominator (cos DESC, id ASC).
    dist is the kmeans-rounded 6-dp L2², so the rank is deterministic
    in both engines."""
    # Keeper-order rank within the cell: dominance "(d_dist, d_id)
    # lexicographically before (dist, id)" is EXACTLY "d_rk < rk", and
    # restricting the dominator side to rk <= SEMDEDUP_DOM_CAP bounds
    # the join at |cell|·CAP pairs (see the constant's rationale).
    wr = Window.partitionBy("cluster").orderBy(F.desc("dist"), F.asc("vec_id"))
    ranked = members.withColumn("rk", F.row_number().over(wr)).persist()
    d = ranked.where(F.col("rk") <= SEMDEDUP_DOM_CAP).select(
        F.col("vec_id").alias("d_id"),
        F.col("cluster").alias("cl"),
        F.col("e").alias("d_e"),
        F.col("rk").alias("d_rk"),
    )
    pairs = (
        d.join(ranked, (F.col("cl") == F.col("cluster")))
        .where(F.col("d_rk") < F.col("rk"))
        .select(
            "vec_id",
            "cluster",
            "dist",
            F.col("d_id").alias("pruned_by"),
            F.round(cosine(F.col("d_e"), F.col("e")), 6).alias("cos"),
        )
        .where(F.col("cos") >= tau)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("pruned_by"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cluster", "dist", "pruned_by", "cos")
    )


def _duck_semdedup_ctes(tau: float) -> str:
    cos = (
        "ROUND(list_dot_product(d.e, m.e) / "
        "(sqrt(list_dot_product(d.e, d.e)) * sqrt(list_dot_product(m.e, m.e))), 6)"
    )
    return f"""
        {_duck_kmeans_ctes(KM_K, KM_ITERS)},
        members AS (
            SELECT a.vec_id, a.cid AS cluster, a.dist, v.e
            FROM a{KM_ITERS} a JOIN v USING (vec_id)
            WHERE list_dot_product(v.e, v.e) > 0
        ),
        ranked AS (
            SELECT vec_id, cluster, dist, e,
                   row_number() OVER (
                       PARTITION BY cluster ORDER BY dist DESC, vec_id ASC
                   ) AS rk
            FROM members
        ),
        dompairs AS (
            SELECT m.vec_id, m.cluster, m.dist,
                   d.vec_id AS pruned_by, {cos} AS cos
            FROM ranked d JOIN ranked m ON d.cluster = m.cluster
            WHERE d.rk < m.rk
              AND d.rk <= {SEMDEDUP_DOM_CAP}
              AND {cos} >= {tau!r}
        )
    """


@register(
    "semdedup_pruned_docs",
    oracle=f"""
        WITH {_duck_semdedup_ctes(SEMDEDUP_TAU)}
        SELECT vec_id, cluster, dist, pruned_by, cos FROM (
            SELECT vec_id, cluster, dist, pruned_by, cos,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY cos DESC, pruned_by ASC
                   ) AS rn
            FROM dompairs
        ) WHERE rn = 1
    """,
    tags=("curation", "dedup", "semdedup", "extension"),
)
def q_semdedup_pruned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup prune list: members of a k-means cell dominated by a
    same-cell member within cosine ≥ τ, keeping the member farthest
    from its centroid (the paper's keeper). Each pruned row names its
    closest dominator. τ = 0.35 stands in for the production ~0.95
    (this corpus has no true embedding near-dups; see SEMDEDUP_TAU)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return semdedup_pruned(semdedup_members(emb), SEMDEDUP_TAU)


@register(
    "semdedup_prune_report",
    oracle=f"""
        WITH {_duck_semdedup_ctes(SEMDEDUP_TAU)},
        pruned AS (SELECT DISTINCT vec_id FROM dompairs)
        SELECT m.cluster,
               count(*) AS n_members,
               CAST(count(p.vec_id) AS BIGINT) AS n_pruned,
               CAST(count(*) - count(p.vec_id) AS BIGINT) AS n_kept,
               ROUND((count(*) - count(p.vec_id)) / CAST(count(*) AS DOUBLE), 6)
                   AS keep_frac
        FROM members m LEFT JOIN pruned p ON m.vec_id = p.vec_id
        GROUP BY m.cluster
    """,
    tags=("curation", "dedup", "semdedup", "report", "extension"),
)
def q_semdedup_prune_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup per-cluster budget report: members, pruned, kept and
    the keep fraction — what the composite would feed a curation
    sign-off. The prune rule and τ match semdedup_pruned_docs."""
    emb = read_table(spark, sf_dir, "embeddings")
    members = semdedup_members(emb)
    pruned = (
        semdedup_pruned(members, SEMDEDUP_TAU)
        .select("vec_id")
        .withColumn("__p", F.lit(1))
    )
    return (
        members.join(pruned, "vec_id", "left")
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.count("__p").cast("long").alias("n_pruned"),
            (F.count("*") - F.count("__p")).cast("long").alias("n_kept"),
            F.round(
                (F.count("*") - F.count("__p")) / F.count("*").cast("double"), 6
            ).alias("keep_frac"),
        )
    )
