"""Dedup & sampling operators, round 8. [extension]

Cross-snapshot dedup with a time-decayed keeper policy, field-wise
survivorship (golden records), an intra-cluster Jaccard QA audit for
the LSH→CC clusters, per-epoch without-replacement sample plans, and
reproducible-TABLESAMPLE parity — the dedup/sampling surface a
recurring-crawl training pipeline runs every refresh.

Reference parity: the reference's dedup surface is the grouped-count
shape (Wordcount.java aggregation semantics applied to content keys);
everything here extends it with the keeper/QA policies a 100 TB
curation run needs. All sampling keys off the cross-engine 60-bit MD5
hash (functions/hashing.py) — reproducible, partitioning-independent,
shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions import hashing as H
from velox_hadoop_spark.operators.dedup import (
    MAX_KEY_DOC_FREQ,
    SHINGLE_K,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature_inline,
    shingle_set,
)
from velox_hadoop_spark.operators.graph import connected_components
from velox_hadoop_spark.plans.registry import register

N_SNAPSHOTS = 4
SNAP_SEED = "snap"
# 0.85^age decay as exact integer per-mille multipliers so the keeper
# ordering is integer arithmetic in BOTH engines (a double weight would
# put a float in a membership predicate — the repo-banned class).
DECAY_MILLE = (1000, 850, 722, 614)

EPOCH_PCT = 30
EPOCH_SEEDS = ("ep0", "ep1", "ep2")
QUOTA_PER_SOURCE = 10
CLUSTER_AUDIT_CAP = 16  # members audited per cluster (smallest doc_ids)

def _decay_case_duck(age: str) -> str:
    arms = " ".join(
        f"WHEN {age} = {i} THEN {m}" for i, m in enumerate(DECAY_MILLE)
    )
    return f"CASE {arms} END"


def _decay_col(age: F.Column) -> F.Column:
    out = F.lit(None).cast("long")
    for i, m in enumerate(DECAY_MILLE):
        out = F.when(age == i, F.lit(m)).otherwise(out)
    return out


# ---------------------------------------------------------------------------
# Cross-snapshot dedup with time-decayed keeper policy
# ---------------------------------------------------------------------------


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) over ALL documents: the dedup_clusters
    LSH→CC assignment, singletons labeled by themselves."""
    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    labels = connected_components(pairs)
    return docs.select("doc_id").join(
        labels.select(F.col("node").alias("doc_id"), "lbl"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce(F.col("lbl"), F.col("doc_id")).alias("cluster_id")
    )


def _duck_cluster_cte() -> str:
    """The dedup_clusters LSH→CC chain (shared constants/caps), as a
    reusable CTE body ending in comp(node, cluster_id)."""
    from velox_hadoop_spark.operators.dedup import _BAND_KEYS, _duck_minhash_cte

    return (
        _duck_minhash_cte().replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
        + f""",
        bands AS ({_BAND_KEYS}),
        cool AS (
            SELECT band_id, band_key FROM bands
            GROUP BY band_id, band_key
            HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        capped AS (
            SELECT bands.* FROM bands JOIN cool USING (band_id, band_key)
        ),
        cpairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM capped a JOIN capped b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        cedges AS (
            SELECT id_a AS u, id_b AS v FROM cpairs
            UNION SELECT id_b, id_a FROM cpairs
        ),
        reach(node, lbl) AS (
            SELECT u, u FROM cedges
            UNION
            SELECT e.u, r.lbl FROM cedges e JOIN reach r ON e.v = r.node
        ),
        comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
    """
    )


# all-document cluster labels (singletons label themselves) on top of comp
_DUCK_ALL_LABELS = """,
        all_labels AS (
            SELECT d.doc_id, d.n_chars,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        )
    """


@register(
    "cross_snapshot_dedup_decay",
    oracle=_duck_cluster_cte()
    + _DUCK_ALL_LABELS
    + f""",
        weighted AS (
            SELECT doc_id, n_chars, cluster_id,
                   {H.duck_bucket("doc_id", SNAP_SEED, N_SNAPSHOTS)} AS snapshot
            FROM all_labels
        ),
        w2 AS (
            SELECT *, n_chars * {_decay_case_duck("snapshot")} AS weight
            FROM weighted
        ),
        keepers AS (
            SELECT cluster_id, doc_id AS keep_id FROM (
                SELECT cluster_id, doc_id, row_number() OVER (
                    PARTITION BY cluster_id ORDER BY weight DESC, doc_id
                ) AS rn FROM w2
            ) WHERE rn = 1
        )
        SELECT w.snapshot,
               count(*) AS n_docs,
               CAST(count(*) FILTER (WHERE w.doc_id = k.keep_id) AS BIGINT)
                   AS n_kept,
               CAST(count(*) FILTER (WHERE w.doc_id <> k.keep_id) AS BIGINT)
                   AS n_dropped,
               CAST(coalesce(sum(w.n_chars) FILTER (WHERE w.doc_id = k.keep_id), 0)
                    AS BIGINT) AS kept_chars
        FROM w2 w JOIN keepers k USING (cluster_id)
        GROUP BY w.snapshot
    """,
    tags=("dedup", "cross-snapshot", "keeper-policy", "extension"),
)
def q_cross_snapshot_dedup_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup with a time-decayed keeper: documents carry
    a crawl-snapshot age (hash-derived here, 0 = freshest), duplicate
    groups are the LSH→CC near-dup clusters (the groups a recurring
    crawl actually dedups across — exact-digest groups are the
    degenerate subset), and each group's keeper maximizes
    length × 0.85^age — prefer the longer copy, but discount stale
    crawls (tie → lowest doc_id). The decay is exact integer per-mille
    arithmetic in both engines, so keeper membership never rides a
    float. Output is the per-snapshot retention report. Keeper
    selection is a row_number over the cluster-keyed (weight DESC,
    doc_id ASC) window — rank 1 IS max_by(doc_id, (weight, -doc_id))
    because doc_id is unique, so the round-13 aggregate+join-back
    (which evaluated the weighted frame twice and shuffled it plus a
    keeper-table join) collapses to ONE |docs| exchange (guide §2.4,
    the snapshot_novelty_rate/LSS window trick)."""
    snap = F.expr(H.spark_bucket("doc_id", SNAP_SEED, N_SNAPSHOTS))
    weighted = (
        _cluster_labels(spark, sf_dir)
        .join(read_table(spark, sf_dir, "documents").select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", "n_chars", "cluster_id", snap.alias("snapshot"))
        .withColumn("weight", F.col("n_chars") * _decay_col(F.col("snapshot")))
    )
    wk = Window.partitionBy("cluster_id").orderBy(
        F.desc("weight"), F.asc("doc_id")
    )
    kept = F.col("__rk") == 1
    return (
        weighted.withColumn("__rk", F.row_number().over(wk))
        .groupBy("snapshot")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(kept, 1)).cast("long").alias("n_kept"),
            F.count(F.when(~kept, 1)).cast("long").alias("n_dropped"),
            F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), F.lit(0))
            .cast("long")
            .alias("kept_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Field-wise survivorship (golden records)
# ---------------------------------------------------------------------------


@register(
    "dedup_survivorship_golden",
    oracle=_duck_cluster_cte()
    + _DUCK_ALL_LABELS
    + """,
        norm AS (
            SELECT a.cluster_id, a.doc_id, d.n_chars, d.source, d.lang
            FROM all_labels a JOIN documents d ON a.doc_id = d.doc_id
        ),
        golden AS (
            SELECT cluster_id, doc_id AS golden_doc_id FROM (
                SELECT cluster_id, doc_id, row_number() OVER (
                    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
                ) AS rn FROM norm
            ) WHERE rn = 1
        ),
        grp AS (
            SELECT cluster_id,
                   count(*) AS n_merged,
                   CAST(min(doc_id) AS BIGINT) AS first_seen_id,
                   min(source) AS golden_source,
                   min(lang) AS golden_lang,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(max(n_chars) AS BIGINT) AS golden_chars
            FROM norm GROUP BY cluster_id HAVING count(*) >= 2
        )
        SELECT grp.cluster_id, n_merged, first_seen_id,
               CAST(golden_doc_id AS BIGINT) AS golden_doc_id,
               golden_source, golden_lang, total_chars, golden_chars
        FROM grp JOIN golden USING (cluster_id)
    """,
    tags=("dedup", "survivorship", "golden-record", "extension"),
)
def q_dedup_survivorship_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-wise survivorship over the LSH→CC near-dup clusters:
    instead of keeping ONE row, each multi-member cluster merges into
    a golden record — content from the longest copy (tie → lowest
    id), provenance fields by deterministic min, plus the
    merge-lineage counters (n_merged, first_seen_id, total payload).
    This is master-data-style entity consolidation applied to corpus
    dedup. One cluster-keyed shuffle after the shared LSH→CC
    assignment; every survivorship rule is a min/max/max_by inside a
    single aggregate — no window, no self-join, no per-group row
    fetch."""
    norm = _cluster_labels(spark, sf_dir).join(
        read_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "source", "lang"),
        "doc_id",
    )
    return (
        norm.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_merged"),
            F.min("doc_id").cast("long").alias("first_seen_id"),
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
            )
            .cast("long")
            .alias("golden_doc_id"),
            F.min("source").alias("golden_source"),
            F.min("lang").alias("golden_lang"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.max("n_chars").cast("long").alias("golden_chars"),
        )
        .where(F.col("n_merged") >= 2)
    )


# ---------------------------------------------------------------------------
# Intra-cluster Jaccard QA audit for the LSH→CC dedup clusters
# ---------------------------------------------------------------------------


@register(
    "intra_cluster_jaccard_audit",
    oracle=_duck_cluster_cte()
    + f""",
        members AS (
            SELECT cluster_id, node AS doc_id FROM (
                SELECT cluster_id, node, row_number() OVER (
                    PARTITION BY cluster_id ORDER BY node
                ) AS rn FROM comp
            ) WHERE rn <= {CLUSTER_AUDIT_CAP}
        ),
        msize AS (SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY 1),
        mpairs AS (
            SELECT a.cluster_id, a.doc_id AS id_a, b.doc_id AS id_b
            FROM members a JOIN members b
              ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id
        ),
        cools AS (
            SELECT shingle FROM sh
            GROUP BY shingle HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        shc AS (SELECT sh.* FROM sh JOIN cools USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
            FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pj AS (
            SELECT p.cluster_id,
                   coalesce(i.n_shared, 0)
                       / CAST(sa.n + sb.n - coalesce(i.n_shared, 0) AS DOUBLE)
                       AS jaccard
            FROM mpairs p
            LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
            JOIN sizes sa ON p.id_a = sa.doc_id
            JOIN sizes sb ON p.id_b = sb.doc_id
        )
        SELECT pj.cluster_id,
               CAST(any_value(m.n_members) AS BIGINT) AS n_members,
               count(*) AS n_pairs,
               ROUND(avg(jaccard), 6) AS avg_jaccard,
               ROUND(min(jaccard), 6) AS min_jaccard
        FROM pj JOIN msize m ON pj.cluster_id = m.cluster_id
        GROUP BY pj.cluster_id
    """,
    tags=("dedup", "cluster-qa", "jaccard", "extension"),
)
def q_intra_cluster_jaccard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA audit of the LSH→CC dedup clusters: exact 5-gram Jaccard
    over every within-cluster member pair — including pairs that share
    NO shingle, which is exactly how transitive over-merging (chaining)
    shows up: a healthy cluster's min_jaccard stays near the LSH
    threshold, a chained cluster's collapses toward 0. Members are
    capped at the {CLUSTER_AUDIT_CAP} lowest doc_ids per cluster
    (mirrored in the oracle) so the audit's pair count is
    cap²-bounded per cluster regardless of cluster size; the exact
    intersection join runs only over the clustered docs' shingles
    (semi-join pruned), with the same hot-shingle frequency cap the
    recall gate uses. A plain-Python set recompute pins the Jaccard
    values independently of the mirrored oracle.

    Shape (round 14, guide §2.4): the frequency cap applies as the
    shared ``drop_hot_keys`` broadcast anti-join (no corpus-shingle
    shuffle to meet the cool-shingle table — same survivors: shingles
    are non-null and each is in exactly one class), and the pairwise
    intersection groups the member shingles into per-shingle sorted id
    arrays with in-row pair generation (the ``jaccard_pairs`` shape:
    ONE exchange on shingle + the pair aggregate) instead of a
    row-level self-join that shuffled the member-shingle frame twice
    and joined. Group width is cap-bounded by the anti-join, so the
    collect buffer is safe at any skew."""
    from velox_hadoop_spark.functions.pairs import id_pairs
    from velox_hadoop_spark.operators.dedup import drop_hot_keys

    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
    msize = labels.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    rn = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy("doc_id")
    )
    members = (
        labels.withColumn("__rn", rn)
        .where(F.col("__rn") <= CLUSTER_AUDIT_CAP)
        .drop("__rn")
    )
    a = members.select(F.col("cluster_id"), F.col("doc_id").alias("id_a"))
    b = members.select(F.col("cluster_id"), F.col("doc_id").alias("id_b"))
    mpairs = a.join(b, "cluster_id").where(F.col("id_a") < F.col("id_b"))

    # persist: the corpus shingle explode feeds BOTH the frequency-cap
    # count pre-pass and the capped member-shingle frame — unpersisted
    # it would run the full-corpus explode twice
    sh0 = shingle_set(docs, "doc_id", "text", SHINGLE_K).persist()
    member_ids = members.select(F.col("doc_id")).distinct()
    # hot-shingle cap as the shared broadcast anti-join (sh0 already
    # persisted, so the guard's own persist is skipped), then prune to
    # audited members before anything is grouped or shuffled
    shc = drop_hot_keys(
        sh0, ["shingle"], MAX_KEY_DOC_FREQ, persist_input=False
    ).join(member_ids, "doc_id", "semi")
    sizes = shc.groupBy("doc_id").agg(F.count("*").alias("n"))
    grouped = (
        shc.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") >= 2)
        .select(F.sort_array("ids").alias("ids"))
    )
    inter = (
        grouped.select(F.explode(id_pairs(F.col("ids"), "id_a", "id_b")).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    pj = (
        mpairs.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "cluster_id",
            (
                F.coalesce(F.col("n_shared"), F.lit(0))
                / (
                    F.col("na") + F.col("nb") - F.coalesce(F.col("n_shared"), F.lit(0))
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return (
        pj.join(msize, "cluster_id")
        .groupBy("cluster_id")
        .agg(
            F.any_value("n_members").cast("long").alias("n_members"),
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Per-epoch without-replacement sample plans
# ---------------------------------------------------------------------------


@register(
    "epoch_sample_overlap",
    oracle=f"""
        WITH tagged AS (
            SELECT doc_id,
                   CASE WHEN {H.duck_bucket("doc_id", EPOCH_SEEDS[0])} < {EPOCH_PCT}
                        THEN 1 ELSE 0 END AS e0,
                   CASE WHEN {H.duck_bucket("doc_id", EPOCH_SEEDS[1])} < {EPOCH_PCT}
                        THEN 1 ELSE 0 END AS e1,
                   CASE WHEN {H.duck_bucket("doc_id", EPOCH_SEEDS[2])} < {EPOCH_PCT}
                        THEN 1 ELSE 0 END AS e2
            FROM documents
        )
        SELECT CAST(sum(e0) AS BIGINT) AS n_epoch0,
               CAST(sum(e1) AS BIGINT) AS n_epoch1,
               CAST(sum(e2) AS BIGINT) AS n_epoch2,
               CAST(sum(e0 * e1) AS BIGINT) AS n_overlap_01,
               CAST(sum(e1 * e2) AS BIGINT) AS n_overlap_12,
               CAST(sum(e0 * e2) AS BIGINT) AS n_overlap_02,
               CAST(sum(CASE WHEN e0 + e1 + e2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_never_sampled
        FROM tagged
    """,
    tags=("sampling", "epoch-plan", "extension"),
)
def q_epoch_sample_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch sample plan audit: three training epochs each draw a
    deterministic ~{EPOCH_PCT}% without-replacement sample (within an
    epoch a doc appears at most once by construction — membership is a
    pure hash predicate), each epoch re-seeded so draws are
    independent ACROSS epochs. The report is per-epoch sizes, pairwise
    overlaps, and the never-sampled count — what you check before
    believing a multi-epoch data schedule isn't starving part of the
    corpus. ONE scan, zero shuffles: all seven counters are
    conditional sums over three codegen'd hash predicates (the
    membership columns a planner cannot fuse across three separate
    sample() calls)."""
    e = [
        (F.expr(H.spark_bucket("doc_id", s)) < EPOCH_PCT).cast("int")
        for s in EPOCH_SEEDS
    ]
    tagged = read_table(spark, sf_dir, "documents").select(
        e[0].alias("e0"), e[1].alias("e1"), e[2].alias("e2")
    )
    return tagged.agg(
        F.sum("e0").cast("long").alias("n_epoch0"),
        F.sum("e1").cast("long").alias("n_epoch1"),
        F.sum("e2").cast("long").alias("n_epoch2"),
        F.sum(F.col("e0") * F.col("e1")).cast("long").alias("n_overlap_01"),
        F.sum(F.col("e1") * F.col("e2")).cast("long").alias("n_overlap_12"),
        F.sum(F.col("e0") * F.col("e2")).cast("long").alias("n_overlap_02"),
        F.sum(
            F.when(F.col("e0") + F.col("e1") + F.col("e2") == 0, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_never_sampled"),
    )


@register(
    "epoch_quota_exact_per_source",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, source, epoch, row_number() OVER (
                       PARTITION BY epoch, source ORDER BY h, doc_id
                   ) AS rn
            FROM (
                SELECT doc_id, source, 0 AS epoch,
                       {H.duck_md5_int60(H.seeded("doc_id", EPOCH_SEEDS[0]))} AS h
                FROM documents
                UNION ALL
                SELECT doc_id, source, 1 AS epoch,
                       {H.duck_md5_int60(H.seeded("doc_id", EPOCH_SEEDS[1]))} AS h
                FROM documents
            )
        )
        SELECT epoch, source,
               count(*) AS n_sampled,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM ranked WHERE rn <= {QUOTA_PER_SOURCE}
        GROUP BY epoch, source
    """,
    tags=("sampling", "epoch-plan", "quota", "extension"),
)
def q_epoch_quota_exact_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-source quotas per epoch (vs the Bernoulli plan above):
    each epoch takes exactly {QUOTA_PER_SOURCE} docs per source — the
    {QUOTA_PER_SOURCE} smallest re-seeded hashes, so the draw is a
    fresh uniform permutation every epoch and reproducible on any
    engine/partitioning. The id_checksum column pins MEMBERSHIP (which
    docs), not just the count. Scale shape: one shuffle per epoch on
    the source key with a rank window per (epoch, source) — the
    standard bounded-cap balancing pass; epochs are a unioned literal
    dimension, not separate jobs."""
    docs = read_table(spark, sf_dir, "documents")
    per_epoch = []
    for i, seed in enumerate(EPOCH_SEEDS[:2]):
        h = F.expr(H.spark_md5_int60(H.seeded("doc_id", seed)))
        rn = F.row_number().over(
            Window.partitionBy("source").orderBy(h, F.col("doc_id"))
        )
        per_epoch.append(
            docs.select("doc_id", "source")
            .withColumn("epoch", F.lit(i))
            .withColumn("__rn", rn)
            .where(F.col("__rn") <= QUOTA_PER_SOURCE)
        )
    sampled = per_epoch[0].unionByName(per_epoch[1])
    return sampled.groupBy("epoch", "source").agg(
        F.count("*").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


@register(
    "tablesample_parity_report",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, n_chars,
                   {H.duck_bucket("doc_id", "split42")} AS bkt
            FROM documents
        ),
        agg AS (
            SELECT count(*) AS total,
                   count(*) FILTER (WHERE bkt < 10) AS n10,
                   count(*) FILTER (WHERE bkt < 20) AS n20,
                   count(*) FILTER (WHERE bkt < 50) AS n50,
                   coalesce(sum(n_chars) FILTER (WHERE bkt < 10), 0) AS c10,
                   coalesce(sum(n_chars) FILTER (WHERE bkt < 20), 0) AS c20,
                   coalesce(sum(n_chars) FILTER (WHERE bkt < 50), 0) AS c50
            FROM b
        )
        SELECT 10 AS pct, CAST(n10 AS BIGINT) AS n_docs,
               CAST(c10 AS BIGINT) AS sum_chars,
               ROUND(n10 / CAST(total AS DOUBLE), 6) AS observed_frac
        FROM agg
        UNION ALL
        SELECT 20, CAST(n20 AS BIGINT), CAST(c20 AS BIGINT),
               ROUND(n20 / CAST(total AS DOUBLE), 6) FROM agg
        UNION ALL
        SELECT 50, CAST(n50 AS BIGINT), CAST(c50 AS BIGINT),
               ROUND(n50 / CAST(total AS DOUBLE), 6) FROM agg
    """,
    tags=("sampling", "tablesample", "parity", "extension"),
)
def q_tablesample_parity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible-TABLESAMPLE parity report: the hash-bucket sampler
    evaluated at 10/20/50%, with counts, payload and the observed
    fraction — the cross-engine replacement for TABLESAMPLE/df.sample
    (whose per-partition RNG is neither engine-portable nor
    partitioning-stable). Because membership is bucket < pct under ONE
    shared bucket column, the three samples are NESTED by construction
    (10% ⊆ 20% ⊆ 50%) — pinned by a conservation test — which gives
    consistent drill-down across sample sizes. One scan, one 1-row
    aggregate unpivoted to the 3-row report; no shuffle of the corpus."""
    b = read_table(spark, sf_dir, "documents").select(
        "n_chars", F.expr(H.spark_bucket("doc_id", "split42")).alias("bkt")
    )
    agg = b.agg(
        F.count("*").alias("total"),
        *[
            F.count(F.when(F.col("bkt") < p, 1)).alias(f"n{p}")
            for p in (10, 20, 50)
        ],
        *[
            F.coalesce(F.sum(F.when(F.col("bkt") < p, F.col("n_chars"))), F.lit(0)).alias(
                f"c{p}"
            )
            for p in (10, 20, 50)
        ],
    )
    rows = agg.select(
        F.expr(
            # try_divide: an EMPTY corpus has total = 0 — DuckDB's x/0
            # yields NULL where ANSI Spark raises (the empty-sweep bug
            # class); try_divide restores the NULL parity
            "stack(3, "
            "10, n10, c10, round(try_divide(n10, cast(total AS DOUBLE)), 6), "
            "20, n20, c20, round(try_divide(n20, cast(total AS DOUBLE)), 6), "
            "50, n50, c50, round(try_divide(n50, cast(total AS DOUBLE)), 6)"
            ") AS (pct, n_docs, sum_chars, observed_frac)"
        )
    )
    return rows.select(
        F.col("pct").cast("int").alias("pct"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("sum_chars").cast("long").alias("sum_chars"),
        "observed_frac",
    )


@register(
    "dedup_cluster_source_span",
    oracle=_duck_cluster_cte()
    + """,
        members AS (
            SELECT c.cluster_id, c.node AS doc_id, d.source, d.lang
            FROM comp c JOIN documents d ON c.node = d.doc_id
        ),
        sized AS (
            SELECT cluster_id,
                   count(*) AS n_members,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
            FROM members GROUP BY cluster_id HAVING count(*) >= 2
        )
        SELECT cluster_id, n_members, n_sources, n_langs,
               (n_sources > 1) AS is_cross_source
        FROM sized
    """,
    tags=("dedup", "cluster-qa", "provenance", "extension"),
)
def q_dedup_cluster_source_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance span of each near-dup cluster: how many distinct
    sources and languages its members straddle. Cross-SOURCE clusters
    are the policy-relevant ones — a within-source dup is a crawler
    artifact you just drop, a cross-source dup changes licensing /
    attribution / keeper decisions (and cross-source rates feed the
    mirror-site detection a crawl pipeline runs). One aggregate over
    the shared LSH→CC labels joined to the provenance columns."""
    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
    members = labels.join(docs.select("doc_id", "source", "lang"), "doc_id")
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .where(F.col("n_members") >= 2)
        .withColumn("is_cross_source", F.col("n_sources") > 1)
    )


SWEEP_THRESHOLDS = (0.3, 0.5, 0.7, 0.9)


@register(
    "dedup_threshold_sweep",
    oracle=None,  # attached below — built from dedup's shared CTE chain
    tags=("dedup", "threshold-tuning", "extension"),
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold tuning table: from ONE two-stage verified
    frame (LSH candidates → exact capped-shingle Jaccard), the pair
    count and distinct-doc count you would act on at each candidate
    threshold — the table an operator reads before picking the dedup
    cut, replacing four separate pipeline runs with one scan. All
    counts are threshold-nested by construction (higher cuts count
    subsets). Shape: the verified frame is PERSISTED and read exactly
    twice — one conditional aggregate for all four pair counters, one
    exploded-doc aggregate whose four countDistincts Spark expands
    over the (tiny, LSH-bounded) pair frame — never once per
    threshold (the same-frame-in-multiple-branches anti-pattern the
    round-7 triangle rewrite hunted: an unpersisted expensive frame
    referenced per branch re-executes the whole LSH+verify chain per
    threshold)."""
    from velox_hadoop_spark.operators.dedup import verify_candidate_jaccard

    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    cand = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    verified = verify_candidate_jaccard(
        cand, shingle_set(docs, "doc_id", "text", SHINGLE_K), "doc_id"
    ).persist()
    pairs_agg = verified.agg(
        *[
            F.count(F.when(F.col("jaccard") >= t, 1))
            .cast("long")
            .alias(f"p_{i}")
            for i, t in enumerate(SWEEP_THRESHOLDS)
        ]
    )
    docs_agg = (
        verified.select(
            F.explode(F.array("id_a", "id_b")).alias("doc"), "jaccard"
        )
        .agg(
            *[
                F.countDistinct(F.when(F.col("jaccard") >= t, F.col("doc")))
                .cast("long")
                .alias(f"d_{i}")
                for i, t in enumerate(SWEEP_THRESHOLDS)
            ]
        )
    )
    arms = ", ".join(
        f"CAST({t} AS DOUBLE), p_{i}, d_{i}" for i, t in enumerate(SWEEP_THRESHOLDS)
    )
    return (
        pairs_agg.crossJoin(docs_agg)
        .select(
            F.expr(
                f"stack({len(SWEEP_THRESHOLDS)}, {arms})"
                " AS (threshold, n_pairs, n_docs_affected)"
            )
        )
    )


def _threshold_sweep_oracle() -> str:
    from velox_hadoop_spark.operators.dedup import (
        MAX_KEY_DOC_FREQ as CAP,
    )
    from velox_hadoop_spark.operators.dedup import _BAND_KEYS, _duck_minhash_cte

    arms_pairs = " UNION ALL ".join(
        f"SELECT CAST({t} AS DOUBLE) AS threshold, "
        f"CAST(count(*) FILTER (WHERE jaccard >= {t}) AS BIGINT) AS n_pairs "
        "FROM scored"
        for t in SWEEP_THRESHOLDS
    )
    arms_docs = " UNION ALL ".join(
        f"SELECT CAST({t} AS DOUBLE) AS threshold, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs_affected "
        f"FROM (SELECT id_a AS doc FROM scored WHERE jaccard >= {t} "
        f"      UNION ALL SELECT id_b FROM scored WHERE jaccard >= {t})"
        for t in SWEEP_THRESHOLDS
    )
    return (
        _duck_minhash_cte()
        + f""",
        bands AS ({_BAND_KEYS}),
        cool AS (
            SELECT band_id, band_key FROM bands
            GROUP BY band_id, band_key HAVING count(*) <= {CAP}
        ),
        capped AS (
            SELECT bands.* FROM bands JOIN cool USING (band_id, band_key)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM capped a JOIN capped b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        cool_sh AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {CAP}
        ),
        shc AS (SELECT sh.* FROM sh JOIN cool_sh USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS n_shared
            FROM cand c
            JOIN shc a ON a.doc_id = c.id_a
            JOIN shc b ON b.doc_id = c.id_b AND b.shingle = a.shingle
            GROUP BY c.id_a, c.id_b
        ),
        scored AS (
            SELECT i.id_a, i.id_b,
                   ROUND(i.n_shared / (sa.n + sb.n - i.n_shared), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON i.id_a = sa.doc_id
            JOIN sizes sb ON i.id_b = sb.doc_id
        ),
        p AS ({arms_pairs}),
        dd AS ({arms_docs})
        SELECT p.threshold, p.n_pairs, dd.n_docs_affected
        FROM p JOIN dd USING (threshold)
    """
    )


from velox_hadoop_spark.plans.registry import attach_oracle  # noqa: E402

attach_oracle("dedup_threshold_sweep", _threshold_sweep_oracle())


@register(
    "snapshot_novelty_rate",
    oracle=_duck_cluster_cte()
    + _DUCK_ALL_LABELS
    + f""",
        snapped AS (
            SELECT doc_id, cluster_id,
                   {H.duck_bucket("doc_id", SNAP_SEED, N_SNAPSHOTS)} AS snapshot
            FROM all_labels
        ),
        first_seen AS (
            SELECT cluster_id, max(snapshot) AS first_snap
            FROM snapped GROUP BY cluster_id
        )
        SELECT s.snapshot,
               count(*) AS n_docs,
               CAST(count(*) FILTER (WHERE f.first_snap = s.snapshot) AS BIGINT)
                   AS n_in_new_clusters,
               ROUND(count(*) FILTER (WHERE f.first_snap = s.snapshot)
                     / CAST(count(*) AS DOUBLE), 6) AS novelty_rate
        FROM snapped s JOIN first_seen f USING (cluster_id)
        GROUP BY s.snapshot
    """,
    tags=("dedup", "cross-snapshot", "novelty", "extension"),
)
def q_snapshot_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl novelty: per crawl snapshot (hash-derived age,
    index {N_SNAPSHOTS - 1} = oldest), the fraction of its documents
    whose near-dup cluster FIRST appeared in that snapshot — i.e.
    content the crawl genuinely added vs re-crawls of something an
    older snapshot already had. The number that decides whether the
    next crawl of a source is worth its cost. "First seen" (= the
    oldest snapshot holding a member, index max) annotates each row as
    a cluster-keyed max-WINDOW over the shared LSH→CC labels — ONE
    |docs| exchange, where the round-13 shape aggregated first_snap
    into a cluster table and joined it back (a second evaluation of
    the labeled frame feeding the aggregate, plus the join). Same
    r13 window-min trick as the LSS star passes (guide §2.4); group
    width is cluster size, spill-bounded like every window here."""
    snap = F.expr(H.spark_bucket("doc_id", SNAP_SEED, N_SNAPSHOTS))
    snapped = _cluster_labels(spark, sf_dir).select(
        "doc_id", "cluster_id", snap.alias("snapshot")
    )
    first_seen = F.max("snapshot").over(Window.partitionBy("cluster_id"))
    new_c = F.col("first_snap") == F.col("snapshot")
    return (
        snapped.withColumn("first_snap", first_seen)
        .groupBy("snapshot")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(new_c, 1)).cast("long").alias("n_in_new_clusters"),
            F.round(
                F.count(F.when(new_c, 1)) / F.count("*").cast("double"), 6
            ).alias("novelty_rate"),
        )
    )
