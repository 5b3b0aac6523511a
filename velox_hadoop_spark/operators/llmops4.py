"""LLM training-data operations, round 7. [extension]

The evaluation/reporting ring around the existing curation kernels:
a classifier decile lift/gains table (the eval a quality-filter owner
reads next to AUC), tokenizer fertility by language, a context-window
token-budget report, the full dedup→quality→pack integration chain,
per-source language-mix entropy, and a vocabulary growth curve.

Parity rules: counts/token sums are BIGINT end to end; every ratio is
a single division of exact integer aggregates (never an average of
per-row doubles), display-rounded or fix4'd identically in both
engines; decile assignment reuses the repo's distributed global-rank +
ntile_from_rank (no single-partition NTILE window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.contamination import PACK_BUDGET
from velox_hadoop_spark.operators.llmops2 import _DUCK_FIX4, _fix4
from velox_hadoop_spark.plans.registry import attach_oracle, register

MIN_CHARS = 200  # quality gate, same constant as pipeline.py

# Context-window budget thresholds (whitespace tokens). Scaled to the
# synthetic corpus' 10–99-token documents the same way PACK_BUDGET
# (256) is — a production run would use (512, 1024, ..., 8192); the
# report logic is threshold-agnostic.
CTX_BUCKETS = (16, 32, 64, 128, 256)


# ---------------------------------------------------------------------------
# Classifier evaluation
# ---------------------------------------------------------------------------


@register(
    "decile_lift_table",
    oracle=None,  # attached below (reuses textstats.duck_quality_select)
    tags=("stats", "lift", "classifier", "extension"),
)
def q_decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table for 'quality score predicts lang = en' —
    the companion eval to auc_quality_en_classifier: per quality decile
    (10 = highest score), the positive rate, lift over the base rate,
    and cumulative gain reading from the top decile down. Deciles come
    from the repo's DISTRIBUTED global_rank + ntile_from_rank (exact
    NTILE distribution, total (quality, doc_id) order — no
    single-partition ntile window); every rate/lift is one division of
    exact integer counts, display-rounded at 6 dp identically in both
    engines. The cumulative window runs over the 10-row decile frame."""
    from velox_hadoop_spark.operators.sort import global_rank, ntile_from_rank
    from velox_hadoop_spark.operators.textstats import quality_score

    docs = read_table(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "quality").join(
        docs.select("doc_id", (F.col("lang") == "en").alias("is_pos")), "doc_id"
    )
    ranked = global_rank(q, ["quality", "doc_id"])
    n = docs.agg(F.count("*").alias("n_total"))
    tiled = ranked.crossJoin(F.broadcast(n)).select(
        ntile_from_rank(F.col("rank"), F.col("n_total"), 10)
        .cast("long")
        .alias("decile"),
        "is_pos",
    )
    per = tiled.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("is_pos"), 1)).alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("tot"), F.sum("n_pos").alias("tot_pos")
    )
    w_top = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = per.crossJoin(F.broadcast(tot)).withColumn(
        "cum_pos", F.sum("n_pos").over(w_top)
    )
    return joined.select(
        "decile",
        "n_docs",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n_docs").cast("double"), 6).alias("pos_rate"),
        # zero-positive corpus: lift/gain are undefined — NULL, not a
        # DIVIDE_BY_ZERO crash (same guard class as the AUC kernel)
        F.when(
            F.col("tot_pos") > 0,
            F.round(
                F.col("n_pos").cast("double")
                * F.col("tot")
                / (F.col("n_docs") * F.col("tot_pos")),
                6,
            ),
        ).alias("lift"),
        F.when(
            F.col("tot_pos") > 0,
            F.round(F.col("cum_pos") / F.col("tot_pos").cast("double"), 6),
        ).alias("cum_gain_from_top"),
    )


# ---------------------------------------------------------------------------
# Tokenizer / context-budget reports
# ---------------------------------------------------------------------------


@register(
    "token_fertility_by_lang",
    oracle=None,  # attached below (shares textstats.BPE_ISH)
    tags=("textstats", "tokenizer", "fertility", "extension"),
)
def q_token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (BPE-ish tokens per whitespace word) by
    language — the number a tokenizer owner tracks per language to
    spot scripts the vocabulary serves badly. Computed as a RATIO OF
    INTEGER SUMS (Σ bpe / Σ words), not an average of per-row ratios:
    the sums are exact BIGINTs in any aggregation order, so the one
    double division is deterministic at any parallelism. Per-row token
    counting stays inside whole-stage codegen (regexp_extract_all +
    filter/split — same expressions as textstats.token_stats)."""
    from velox_hadoop_spark.operators.textstats import BPE_ISH

    docs = read_table(spark, sf_dir, "documents")
    words = F.expr("filter(split(text, '\\\\s+'), t -> t <> '')")
    per = docs.select(
        "lang",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH), F.lit(0)))
        .cast("long")
        .alias("n_bpe"),
        F.size(words).cast("long").alias("n_ws"),
    )
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bpe").alias("total_bpe"),
        F.sum("n_ws").alias("total_ws"),
        F.when(
            F.sum("n_ws") > 0,
            F.round(F.sum("n_bpe") / F.sum("n_ws").cast("double"), 6),
        ).alias("fertility"),
    )


@register(
    "context_window_budget",
    oracle=None,  # attached below
    tags=("curation", "context-window", "token-budget", "extension"),
)
def q_context_window_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window budget report: documents bucketed by whitespace
    token count into the context sizes that matter for sequence
    training (≤512 … ≤8192, then overflow), with per-bucket doc/token
    totals and the cumulative share of documents that FIT each budget.
    The bucket is a value-domain CASE (no rank, no sort); the
    cumulative window runs over the ≤6-row bucket frame. The overflow
    row is the fraction the packer must chunk first."""
    docs = read_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr("filter(split(text, '\\\\s+'), t -> t <> '')")).cast("long")
    bucket = F.lit(len(CTX_BUCKETS) + 1).cast("long")
    label = F.lit(f">{CTX_BUCKETS[-1]}")
    for i, b in reversed(list(enumerate(CTX_BUCKETS))):
        bucket = F.when(n_tok <= b, F.lit(i + 1).cast("long")).otherwise(bucket)
        label = F.when(n_tok <= b, F.lit(f"<={b}")).otherwise(label)
    per = (
        docs.select(bucket.alias("bucket_ord"), label.alias("bucket"), n_tok.alias("n_tok"))
        .groupBy("bucket_ord", "bucket")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
    )
    w = Window.orderBy("bucket_ord").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per.agg(F.sum("n_docs").alias("tot_docs"))
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cum_docs", F.sum("n_docs").over(w))
        .select(
            "bucket_ord",
            "bucket",
            "n_docs",
            "total_tokens",
            F.round(F.col("cum_docs") / F.col("tot_docs").cast("double"), 6).alias(
                "cum_doc_share"
            ),
        )
    )


@register(
    "curation_pack_report",
    oracle=None,  # attached below (chains pipeline + pack oracles)
    tags=("curation", "packing", "dedup", "llm-pipeline", "extension"),
)
def q_curation_pack_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup → quality → pack integration row: quality gate
    (n_chars ≥ 200) → exact-dedup keepers (min doc_id per md5(text))
    → offset-packing into 256-token training sequences
    (contamination.pack_sequences, the audited kernel) → per-source
    report of docs kept, sequences produced, overflow count, and
    budget utilization. Each stage is the registered kernel, chained —
    the end-to-end shape a curation pipeline actually runs: narrow
    gate → one digest shuffle → semi-join → one window per source.
    Utilization is fix4 of (integer token sum / integer capacity)."""
    from velox_hadoop_spark.operators.contamination import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    quality = docs.where(F.col("n_chars") >= MIN_CHARS)
    keepers = quality.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = quality.join(keepers.select("doc_id"), "doc_id", "left_semi")
    seqs = pack_sequences(kept)
    return seqs.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs_kept"),
        F.count("*").alias("n_seqs"),
        F.sum((F.col("n_tokens") > PACK_BUDGET).cast("long")).alias("n_overflow"),
        _fix4(
            F.sum("n_tokens").cast("double") / (F.count("*") * PACK_BUDGET)
        ).alias("utilization"),
    )


# ---------------------------------------------------------------------------
# Corpus composition
# ---------------------------------------------------------------------------


@register(
    "source_lang_mix_entropy",
    oracle="""
        WITH c AS (
            SELECT source, lang, count(*) AS c
            FROM documents GROUP BY source, lang
        ),
        s AS (
            SELECT source,
                   CAST(sum(c) AS BIGINT) AS n_docs,
                   count(*) AS n_langs,
                   sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
            FROM c GROUP BY source
        )
        SELECT source, n_docs, CAST(n_langs AS BIGINT) AS n_langs,
               round(ln(CAST(n_docs AS DOUBLE)) - clogc / n_docs, 6) AS lang_entropy
        FROM s
    """,
    tags=("curation", "entropy", "composition", "extension"),
)
def q_source_lang_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix Shannon entropy per source — the diversity number a
    data-mixture owner tracks per provider (0 = monolingual feed).
    Same exact ln-decomposition as event_entropy_by_user
    (ln n − Σ c·ln c / n over the per-(source,lang) counts): the inner
    aggregate is exact integers, the entropy is one rounded double
    expression. Two hash aggregates on bounded domains."""
    docs = read_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count("*").alias("c"))
    s = c.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count("*").cast("long").alias("n_langs"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "clogc"
        ),
    )
    return s.select(
        "source",
        "n_docs",
        "n_langs",
        F.round(
            F.log(F.col("n_docs").cast("double")) - F.col("clogc") / F.col("n_docs"),
            6,
        ).alias("lang_entropy"),
    )


@register(
    "vocab_growth_curve",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        firsts AS (
            SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
        ),
        n AS (SELECT min(doc_id) AS min_doc, max(doc_id) AS max_doc
              FROM documents),
        buckets AS (
            SELECT CAST(floor(((first_doc - n.min_doc) * 10.0)
                              / (n.max_doc - n.min_doc + 1)) AS BIGINT) + 1
                       AS bucket,
                   count(*) AS new_tokens
            FROM firsts CROSS JOIN n
            GROUP BY 1
        )
        SELECT bucket, new_tokens,
               CAST(sum(new_tokens) OVER (
                   ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_vocab
        FROM buckets
    """,
    tags=("textstats", "vocabulary", "heaps-law", "extension"),
)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps'-law) curve: distinct lowercase tokens
    whose FIRST occurrence falls in each tenth of the doc-id range,
    with the cumulative vocabulary size — the saturation curve that
    says whether more of the same corpus still buys new vocabulary.
    token → min(doc_id) is one distinct-domain shuffle (the
    inverted-index shape, vocabulary-bounded not corpus-bounded); the
    bucket is integer arithmetic on the id range (no rank/sort), and
    the cumulative window runs over the 10-row bucket frame."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("filter(split(lower(text), '\\\\s+'), t -> t <> '')")
        ).alias("tok"),
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    # Anchor the tenths at the ACTUAL id range (doc ids are 0-based in
    # the generated corpora): (first - min) * 10 / (max - min + 1) is
    # always in 0..9, so buckets are exactly 1..10 for any id base.
    n = docs.agg(F.min("doc_id").alias("min_doc"), F.max("doc_id").alias("max_doc"))
    buckets = (
        firsts.crossJoin(F.broadcast(n))
        .select(
            (
                F.floor(
                    ((F.col("first_doc") - F.col("min_doc")) * 10.0)
                    / (F.col("max_doc") - F.col("min_doc") + 1)
                )
                + 1
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("new_tokens"))
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return buckets.select(
        "bucket",
        "new_tokens",
        F.sum("new_tokens").over(w).cast("long").alias("cum_vocab"),
    )


# ---------------------------------------------------------------------------
# Late-bound oracles (shared CTE fragments from textstats / pipeline)
# ---------------------------------------------------------------------------


def _attach_oracles() -> None:
    from velox_hadoop_spark.operators.textstats import BPE_ISH, duck_quality_select

    lift = f"""
        WITH q AS ({duck_quality_select()}),
        tiled AS (
            SELECT CAST(ntile(10) OVER (ORDER BY q.quality, q.doc_id) AS BIGINT) AS decile,
                   (d.lang = 'en') AS is_pos
            FROM q JOIN documents d ON q.doc_id = d.doc_id
        ),
        per AS (
            SELECT decile, count(*) AS n_docs,
                   count(*) FILTER (WHERE is_pos) AS n_pos
            FROM tiled GROUP BY decile
        ),
        tot AS (
            SELECT CAST(sum(n_docs) AS BIGINT) AS tot,
                   CAST(sum(n_pos) AS BIGINT) AS tot_pos
            FROM per
        )
        SELECT decile, n_docs, CAST(n_pos AS BIGINT) AS n_pos,
               round(n_pos / CAST(n_docs AS DOUBLE), 6) AS pos_rate,
               CASE WHEN t.tot_pos > 0 THEN
                   round(CAST(n_pos AS DOUBLE) * t.tot / (n_docs * t.tot_pos), 6)
               END AS lift,
               CASE WHEN t.tot_pos > 0 THEN
                   round(sum(n_pos) OVER (
                             ORDER BY decile DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                         ) / CAST(t.tot_pos AS DOUBLE), 6)
               END AS cum_gain_from_top
        FROM per CROSS JOIN tot t
    """

    fertility = f"""
        WITH per AS (
            SELECT lang,
                   CAST(len(regexp_extract_all(text, '{BPE_ISH}')) AS BIGINT) AS n_bpe,
                   CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                        t -> t <> '')) AS BIGINT) AS n_ws
            FROM documents
        )
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_bpe) AS BIGINT) AS total_bpe,
               CAST(sum(n_ws) AS BIGINT) AS total_ws,
               CASE WHEN sum(n_ws) > 0 THEN
                   round(sum(n_bpe) / CAST(sum(n_ws) AS DOUBLE), 6)
               END AS fertility
        FROM per GROUP BY lang
    """

    bucket_case = "CASE " + " ".join(
        f"WHEN n_tok <= {b} THEN {i + 1}" for i, b in enumerate(CTX_BUCKETS)
    ) + f" ELSE {len(CTX_BUCKETS) + 1} END"
    label_case = "CASE " + " ".join(
        f"WHEN n_tok <= {b} THEN '<={b}'" for b in CTX_BUCKETS
    ) + f" ELSE '>{CTX_BUCKETS[-1]}' END"
    ctx = f"""
        WITH toks AS (
            SELECT CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                        t -> t <> '')) AS BIGINT) AS n_tok
            FROM documents
        ),
        per AS (
            SELECT CAST({bucket_case} AS BIGINT) AS bucket_ord,
                   {label_case} AS bucket,
                   count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS total_tokens
            FROM toks GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs FROM per)
        SELECT bucket_ord, bucket, n_docs, total_tokens,
               round(sum(n_docs) OVER (
                         ORDER BY bucket_ord
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) / CAST(t.tot_docs AS DOUBLE), 6) AS cum_doc_share
        FROM per CROSS JOIN tot t
    """

    pack = f"""
        WITH quality AS (
            SELECT * FROM documents WHERE n_chars >= {MIN_CHARS}
        ),
        keepers AS (
            SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
        ),
        kept AS (
            SELECT q.* FROM quality q JOIN keepers k ON q.doc_id = k.doc_id
        ),
        toks AS (
            SELECT source, doc_id,
                   CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
            FROM kept
        ),
        laid AS (
            SELECT source, doc_id, n_tok,
                   sum(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM toks
        ),
        seqs AS (
            SELECT source,
                   CAST(floor((cum - n_tok) / {PACK_BUDGET}) AS BIGINT) AS seq_id,
                   count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS seq_tokens
            FROM laid
            GROUP BY source, CAST(floor((cum - n_tok) / {PACK_BUDGET}) AS BIGINT)
        )
        SELECT source,
               CAST(sum(n_docs) AS BIGINT) AS n_docs_kept,
               count(*) AS n_seqs,
               CAST(count(*) FILTER (WHERE seq_tokens > {PACK_BUDGET}) AS BIGINT)
                   AS n_overflow,
               {_DUCK_FIX4.format(f"CAST(sum(seq_tokens) AS DOUBLE) / (count(*) * {PACK_BUDGET})")}
                   AS utilization
        FROM seqs GROUP BY source
    """

    for name, sql in {
        "decile_lift_table": lift,
        "token_fertility_by_lang": fertility,
        "context_window_budget": ctx,
        "curation_pack_report": pack,
    }.items():
        attach_oracle(name, sql)  # same lint gate as register()


_attach_oracles()
