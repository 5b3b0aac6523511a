"""LLM-pipeline operators, round 5. [extension]

Second tranche of the training-data-pipeline surface: cross-shard
dedup reconciliation, packing overflow audits, embedding drift between
snapshots, regex token mining, shard-skew monitoring, and the
quality-gate funnel — the operational reports a 100 TB curation
pipeline runs every ingest cycle.

Scale notes: everything below is groupBy/window arithmetic on keys
(digest, shard, label, stage); the only data-sized shuffles are the
digest and label groupings. Scalar denominators re-enter by broadcast;
no driver collects anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.contamination import PACK_BUDGET
from velox_hadoop_spark.plans.registry import register


def _fix4(c: Column) -> Column:
    return F.floor(c * 10000 + 0.5) / 10000


_DUCK_FIX4 = "floor(({}) * 10000 + 0.5) / 10000"

_N_SHARDS = 8

# Prefix fingerprint: first 5 whitespace tokens. Exact-duplicate
# families are absent from the synthetic corpus, so the reconcile
# demo keys on the document fingerprint a real pipeline would use for
# near-dup families (cf. doc_fingerprint).
_SPARK_FP = "md5(array_join(slice(split(text, '\\\\s+'), 1, 5), ' '))"
_DUCK_FP = "md5(array_to_string((string_split_regex(text, '\\s+'))[1:5], ' '))"


@register(
    "cross_shard_dedup_reconcile",
    oracle=f"""
        WITH tagged AS (
            SELECT doc_id, doc_id % {_N_SHARDS} AS shard,
                   {_DUCK_FP} AS fp
            FROM documents
        )
        SELECT fp, count(*) AS n_docs,
               CAST(count(DISTINCT shard) AS BIGINT) AS n_shards,
               min(doc_id) AS keeper_doc,
               count(DISTINCT shard) > 1 AS crosses_shards
        FROM tagged
        GROUP BY fp HAVING count(*) > 1
    """,
    tags=("dedup", "llm-pipeline", "cross-shard", "extension"),
)
def q_cross_shard_dedup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard dedup reconciliation: duplicate-fingerprint families
    that span ingestion shards, with the global keeper (lowest doc_id).
    This is the step a sharded pipeline runs AFTER per-shard dedup —
    per-shard passes cannot see a duplicate whose copies live in
    different shards, so the reconcile groups fingerprints globally
    and reports which families cross shard boundaries. One hash
    shuffle on the fingerprint; shard provenance rides along as a
    cheap distinct-count."""
    docs = read_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        (F.col("doc_id") % _N_SHARDS).alias("shard"),
        F.expr(_SPARK_FP).alias("fp"),
    )
    return (
        tagged.groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("shard").alias("n_shards"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .where(F.col("n_docs") > 1)
        .select(
            "fp",
            "n_docs",
            "n_shards",
            "keeper_doc",
            (F.col("n_shards") > 1).alias("crosses_shards"),
        )
    )


@register(
    "pack_overflow_stats",
    oracle=rf"""
        WITH toks AS (
            SELECT source, doc_id,
                   CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok
            FROM documents
        ),
        laid AS (
            SELECT source, n_tok,
                   sum(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM toks
        ),
        seqs AS (
            SELECT source,
                   CAST(floor((cum - n_tok) / {PACK_BUDGET}) AS BIGINT) AS seq_id,
                   CAST(sum(n_tok) AS BIGINT) AS seq_tokens
            FROM laid GROUP BY 1, 2
        )
        SELECT source,
               count(*) AS n_seqs,
               CAST(count(*) FILTER (WHERE seq_tokens > {PACK_BUDGET}) AS BIGINT)
                   AS n_overflow,
               max(seq_tokens) AS max_seq_tokens,
               {_DUCK_FIX4.format(f"CAST(sum(seq_tokens) AS DOUBLE) / (count(*) * {PACK_BUDGET})")}
                   AS utilization
        FROM seqs GROUP BY source
    """,
    tags=("curation", "packing", "llm-pipeline", "extension"),
)
def q_pack_overflow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing audit on top of ``pack_sequences``' layout:
    per source, how many packed sequences exist, how many OVERFLOW the
    budget (a doc straddling the boundary makes its sequence run
    long — the signal that upstream chunking is needed), the worst
    sequence, and budget utilization. Token counts stay integers end
    to end; utilization is one integer-ratio division fixed to 4dp."""
    from velox_hadoop_spark.operators.contamination import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    seqs = pack_sequences(docs)  # source, seq_id, n_docs, n_tokens, ...
    return seqs.groupBy("source").agg(
        F.count("*").alias("n_seqs"),
        F.sum((F.col("n_tokens") > PACK_BUDGET).cast("long")).alias("n_overflow"),
        F.max("n_tokens").alias("max_seq_tokens"),
        _fix4(
            F.sum("n_tokens").cast("double") / (F.count("*") * PACK_BUDGET)
        ).alias("utilization"),
    )


@register(
    "embedding_drift_monitor",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, vec_id % 2 AS snap, embedding
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        flat AS (
            SELECT label, snap,
                   unnest(embedding) AS val,
                   generate_subscripts(embedding, 1) AS pos
            FROM e
        ),
        dims AS (
            -- count(... THEN val ...): the mean divides by the number
            -- of NON-NULL components (a NULL element inside an array
            -- contributes to neither sum nor count), mirroring Spark's
            -- count(when(snap = 0, val)) exactly — a row count here
            -- would silently skew the centroid on dirty vectors
            SELECT label, pos,
                   sum(CASE WHEN snap = 0 THEN val END)
                       / count(CASE WHEN snap = 0 THEN val END) AS m_old,
                   sum(CASE WHEN snap = 1 THEN val END)
                       / count(CASE WHEN snap = 1 THEN val END) AS m_new
            FROM flat GROUP BY label, pos
        ),
        shift AS (
            SELECT label,
                   {_DUCK_FIX4.format("sqrt(sum((m_old - m_new) * (m_old - m_new)))")}
                       AS l2_shift
            FROM dims GROUP BY label
        ),
        counts AS (
            SELECT label,
                   CAST(count(CASE WHEN snap = 0 THEN 1 END) AS BIGINT) AS n_old,
                   CAST(count(CASE WHEN snap = 1 THEN 1 END) AS BIGINT) AS n_new
            FROM e GROUP BY label
        )
        SELECT label, n_old, n_new, l2_shift
        FROM counts JOIN shift USING (label)
    """,
    tags=("embedding", "drift", "llm-pipeline", "extension"),
)
def q_embedding_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift between corpus snapshots: per label cluster, the
    L2 distance between the old snapshot's centroid and the new one's
    (snapshots keyed by vec_id parity — stand-ins for ingest batches).
    Centroids are per-dimension means over posexplode'd components:
    the explode multiplies rows by dim count but keys the shuffle on
    (label, pos), so no component list ever concentrates; the final
    per-label reduce is |labels| x dims rows. Drift is display-only
    (fixed to 4dp) — monitoring output, not a membership predicate."""
    emb = read_table(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    e = emb.select(
        "label", (F.col("vec_id") % 2).alias("snap"), "embedding"
    )
    flat = e.select(
        "label", "snap", F.posexplode("embedding").alias("pos0", "val")
    ).select("label", "snap", (F.col("pos0") + 1).alias("pos"), "val")
    old_val = F.when(F.col("snap") == 0, F.col("val"))
    new_val = F.when(F.col("snap") == 1, F.col("val"))
    dims = flat.groupBy("label", "pos").agg(
        (F.sum(old_val) / F.count(old_val)).alias("m_old"),
        (F.sum(new_val) / F.count(new_val)).alias("m_new"),
    )
    shift = dims.groupBy("label").agg(
        _fix4(
            F.sqrt(F.sum((F.col("m_old") - F.col("m_new")) * (F.col("m_old") - F.col("m_new"))))
        ).alias("l2_shift")
    )
    counts = e.groupBy("label").agg(
        F.count(F.when(F.col("snap") == 0, 1)).alias("n_old"),
        F.count(F.when(F.col("snap") == 1, 1)).alias("n_new"),
    )
    return counts.join(shift, "label")


@register(
    "regexp_extract_all_tokens",
    oracle=r"""
        WITH m AS (
            SELECT doc_id,
                   regexp_extract_all(text, '\b[a-z]*a[a-z]*\b') AS hits
            FROM documents
        )
        SELECT doc_id,
               CAST(len(hits) AS BIGINT) AS n_hits,
               hits[1] AS first_hit,
               CAST(len(list_distinct(hits)) AS BIGINT) AS n_uniq,
               array_to_string(hits[1:3], ',') AS first3
        FROM m
    """,
    tags=("text", "regex", "extension"),
)
def q_regexp_extract_all_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all breadth: every 'a'-bearing token per
    document, with count, first match, distinct count, and a joined
    sample — the multi-match sibling of grep's single-capture
    extract. Pure per-row expressions (pattern uses only literal
    classes + \\b, identical in Java and RE2 dialects); no shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    hits = F.expr(r"regexp_extract_all(text, '\\b[a-z]*a[a-z]*\\b', 0)")
    m = docs.select("doc_id", hits.alias("hits"))
    return m.select(
        "doc_id",
        F.size("hits").cast("long").alias("n_hits"),
        # try_element_at: a zero-match doc has an empty array, and plain
        # element_at([], 1) RAISES under the session's default ANSI
        # mode where the DuckDB oracle's hits[1] defines NULL
        F.try_element_at("hits", F.lit(1)).alias("first_hit"),
        F.size(F.array_distinct("hits")).cast("long").alias("n_uniq"),
        F.array_join(F.slice("hits", 1, 3), ",").alias("first3"),
    )


@register(
    "shard_skew_report",
    oracle=f"""
        WITH per_shard AS (
            SELECT doc_id % 16 AS shard,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(sum_chars) AS BIGINT) AS total_chars FROM per_shard)
        SELECT shard, n_docs, sum_chars,
               {_DUCK_FIX4.format("sum_chars * 16.0 / total_chars")} AS load_ratio
        FROM per_shard, tot
    """,
    tags=("llm-pipeline", "skew", "monitoring", "extension"),
)
def q_shard_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard load-skew monitor: per-shard document and character
    totals with each shard's load relative to the uniform share
    (ratio > 1 = hot shard). The denominator is a broadcast 1-row
    scalar — the pattern every rebalance decision at 100 TB starts
    from. All integer sums; one fixed-4dp ratio."""
    docs = read_table(spark, sf_dir, "documents")
    per_shard = docs.groupBy((F.col("doc_id") % 16).alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    tot = per_shard.agg(F.sum("sum_chars").cast("long").alias("total_chars"))
    return per_shard.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "sum_chars",
        _fix4(F.col("sum_chars") * 16.0 / F.col("total_chars")).alias("load_ratio"),
    )


@register(
    "quality_gate_funnel",
    oracle=rf"""
        WITH s1 AS (SELECT * FROM documents WHERE n_chars >= 60),
        s2 AS (SELECT * FROM s1 WHERE lang IN ('en', 'es', 'de', 'fr')),
        s3 AS (SELECT * FROM s2
               WHERE len(string_split_regex(text, '\s+')) >= 12),
        s4 AS (
            SELECT * FROM s3
            WHERE doc_id IN (
                SELECT min(doc_id) FROM s3 GROUP BY {_DUCK_FP}
            )
        ),
        stages AS (
            SELECT 0 AS stage_no, '0_total' AS stage, count(*) AS n_docs FROM documents
            UNION ALL SELECT 1, '1_min_length', count(*) FROM s1
            UNION ALL SELECT 2, '2_lang_allowlist', count(*) FROM s2
            UNION ALL SELECT 3, '3_min_tokens', count(*) FROM s3
            UNION ALL SELECT 4, '4_fingerprint_keeper', count(*) FROM s4
        )
        SELECT stage, n_docs,
               {_DUCK_FIX4.format("CAST(n_docs AS DOUBLE) / lag(n_docs) OVER (ORDER BY stage_no)")}
                   AS retained_vs_prev
        FROM stages
    """,
    tags=("quality", "llm-pipeline", "funnel", "extension"),
)
def q_quality_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel: document survival through the standard gate
    chain (length → language allowlist → token floor → fingerprint
    keeper), with stage-over-stage retention. The whole funnel is ONE
    conditional aggregate over ONE scan: the gates nest (cᵢ ⊆ cᵢ₋₁),
    so every stage count is count(when(cᵢ)), and the keeper count
    equals countDistinct(fingerprint among c₃ survivors) — one keeper
    per family, so no separate group-by+semi-join pass is needed. The
    1-row aggregate unpivots to the 5-row funnel; retention uses
    try_divide (a stage count of 0 must yield NULL like the oracle,
    not an ANSI divide-by-zero abort)."""
    docs = read_table(spark, sf_dir, "documents")
    c1 = F.col("n_chars") >= 60
    c2 = c1 & F.col("lang").isin("en", "es", "de", "fr")
    c3 = c2 & (F.size(F.split(F.col("text"), r"\s+")) >= 12)
    agg = docs.agg(
        F.count("*").alias("n0"),
        F.count(F.when(c1, 1)).alias("n1"),
        F.count(F.when(c2, 1)).alias("n2"),
        F.count(F.when(c3, 1)).alias("n3"),
        F.countDistinct(F.when(c3, F.expr(_SPARK_FP))).alias("n4"),
    )
    stages = agg.selectExpr(
        "stack(5, 0, '0_total', n0, 1, '1_min_length', n1, "
        "2, '2_lang_allowlist', n2, 3, '3_min_tokens', n3, "
        "4, '4_fingerprint_keeper', n4) AS (stage_no, stage, n_docs)"
    )
    w = Window.orderBy("stage_no")  # 5 rows: bounded by stage count
    return stages.select(
        "stage",
        "n_docs",
        _fix4(
            F.try_divide(F.col("n_docs").cast("double"), F.lag("n_docs").over(w))
        ).alias("retained_vs_prev"),
    )
