"""Benchmark decontamination + TF-IDF + sequence packing. [extension]

Training-data curation operators with no reference analog (SURVEY §2
flags the LLM-pipeline stack `[extension]`):

  * decontamination — flag training documents that contain any word
    n-gram from an evaluation/benchmark set. The benchmark side of a
    real pipeline is a few MB of eval prompts: its shingle set
    BROADCASTS, so the contamination scan is a map-side semi-join over
    the training corpus — no shuffle of the corpus, ever, at any scale.
  * TF-IDF top terms — per-document top-k salient terms. Two corpus
    passes (df per term, tf per doc-term) + one broadcast of the
    (distinct-term, idf) table.
  * sequence packing — concatenate consecutive documents into
    fixed-token-budget training sequences. The greedy streaming packer
    is inherently sequential; the distributed contract used here is
    deterministic offset packing: within each source, docs in doc_id
    order are laid out by cumulative token count and a sequence breaks
    at each budget boundary — one window cumsum, no driver loop, and
    the layout is stable under re-partitioning (it depends only on the
    data, not the task schedule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions import hashing as H
from velox_hadoop_spark.operators.dedup import shingle_set
from velox_hadoop_spark.functions.pairs import id_pairs
from velox_hadoop_spark.plans.registry import register

DECONTAM_K = 8          # benchmark n-gram length (words)
BENCH_SOURCE = "src0"   # stand-in eval set: one source partition
PACK_BUDGET = 256       # tokens per packed training sequence


def contamination_scan(
    train: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """Per-training-doc count of distinct benchmark k-grams it contains.

    Only contaminated docs (≥ 1 hit) are emitted. The benchmark shingle
    set is deduped and broadcast — the training corpus never shuffles.
    """
    bench_sh = shingle_set(benchmark, "doc_id", "text", DECONTAM_K).select("shingle").distinct()
    train_sh = shingle_set(train, "doc_id", "text", DECONTAM_K)
    return (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_ngrams"))
    )


@register(
    "benchmark_decontamination",
    oracle=f"""
        WITH bench_sh AS (
            SELECT DISTINCT shingle FROM (
                {H.duck_shingle_cte("(SELECT * FROM documents WHERE source = '" + BENCH_SOURCE + "')", "doc_id", "text", DECONTAM_K)}
            )
        ),
        train_sh AS (
            {H.duck_shingle_cte("(SELECT * FROM documents WHERE source <> '" + BENCH_SOURCE + "')", "doc_id", "text", DECONTAM_K)}
        )
        SELECT t.doc_id, count(*) AS n_hit_ngrams
        FROM train_sh t JOIN bench_sh b ON t.shingle = b.shingle
        GROUP BY t.doc_id
    """,
    tags=("curation", "decontamination", "extension"),
)
def q_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing any 8-gram with the eval set (source
    src0 stands in for the benchmark corpus)."""
    docs = read_table(spark, sf_dir, "documents")
    return contamination_scan(
        docs.where(F.col("source") != BENCH_SOURCE),
        docs.where(F.col("source") == BENCH_SOURCE),
    )


def tfidf_top_terms(
    docs: DataFrame,
    top_k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document (ties by term asc).

    idf = ln(N / df) over raw whitespace tokens. The (term, idf) table
    is distinct-term sized — which for raw web-scale text (URLs,
    numbers, typos) is unbounded, so it is NOT force-broadcast: the
    term equi-join strategy is left to Catalyst/AQE, which broadcasts
    it while it fits and shuffle-joins on term beyond that. Only the
    1-row N aggregate keeps a forced broadcast.
    """
    tokens = docs.select(
        F.col("doc_id"), F.explode(F.split(F.col("text"), r"\s+")).alias("term")
    ).where(F.col("term") != "")
    tf = tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # N as a broadcast 1-row aggregate (scalar-subquery shape) — the
    # plan stays fully lazy, no driver action at construction time.
    n_docs = docs.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    df_ = tokens.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = df_.crossJoin(F.broadcast(n_docs)).select(
        "term", F.log(F.col("n_docs") / F.col("df")).alias("idf")
    )
    scored = tf.join(idf, "term").select(
        F.col("doc_id"),
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= top_k)
    )


@register(
    "tfidf_top_terms",
    oracle=r"""
        WITH tokens AS (
            SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
            FROM documents
        ),
        tok AS (SELECT doc_id, term FROM tokens WHERE term <> ''),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        idf AS (
            SELECT term, ln((SELECT CAST(n_docs AS DOUBLE) FROM n) / count(DISTINCT doc_id)) AS idf
            FROM tok GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id, tf.term, ROUND(tf.tf * idf.idf, 6) AS tfidf
            FROM tf JOIN idf ON tf.term = idf.term
        )
        SELECT doc_id, term, tfidf, rnk FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
            ) AS BIGINT) AS rnk
            FROM scored
        ) WHERE rnk <= 3
    """,
    tags=("curation", "tfidf", "extension"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms for every document."""
    docs = read_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs)


def pack_sequences(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
) -> DataFrame:
    """Deterministic offset packing of docs into training sequences.

    Within each ``source`` partition, docs in ``doc_id`` order are
    laid out by cumulative whitespace-token count; a doc belongs to
    sequence floor(start_offset / budget). Emits one row per packed
    sequence. Oversized docs (> budget tokens) simply span their own
    sequence — real pipelines chunk those first (see
    textstats.chunk_documents).

    Scale shape: ``source`` has O(1) cardinality, so a
    single cumulative window partitioned by it funnels a whole source
    through one task at data scale. The prefix sum is therefore STAGED
    (the ``watermark_late_accounting`` pattern): (1) per-(source,
    1M-doc-id-bucket) token sums — an ordinary grouped agg; (2)
    exclusive prefix sum ACROSS buckets per source — a window over
    |buckets| rows (~10⁶-fold smaller), joined back unhinted so AQE
    broadcasts it; (3) within-bucket cumulative window KEYED on
    (source, bucket) — partition-parallel — folded with the prior-
    bucket sum. Integer arithmetic throughout, so the staged cum is
    bit-identical to the single-window form the oracles state.
    """
    toks = docs.select(
        F.col("source"),
        F.col("doc_id"),
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    # integer DIV, not double division: no float detour, exact at any
    # id magnitude (doc ids are non-negative by contract, so DIV's
    # truncation and floor agree) — round-10 ADVICE
    base = toks.withColumn("__bkt", F.expr("doc_id DIV 1000000"))
    bsum = base.groupBy("source", "__bkt").agg(F.sum("n_tok").alias("__bsum"))
    wb = (
        Window.partitionBy("source")
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = bsum.select(
        "source", "__bkt", F.sum("__bsum").over(wb).alias("__prior")
    )
    wi = (
        Window.partitionBy("source", "__bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    laid = (
        base.join(prior, ["source", "__bkt"])
        .withColumn(
            "cum",
            F.sum("n_tok").over(wi) + F.coalesce(F.col("__prior"), F.lit(0)),
        )
        .withColumn("seq_id", F.floor((F.col("cum") - F.col("n_tok")) / budget))
    )
    return laid.groupBy("source", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "pack_sequences",
    oracle=rf"""
        WITH toks AS (
            SELECT source, doc_id,
                   CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok
            FROM documents
        ),
        laid AS (
            SELECT source, doc_id, n_tok,
                   sum(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM toks
        )
        SELECT source,
               CAST(floor((cum - n_tok) / {PACK_BUDGET}) AS BIGINT) AS seq_id,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM laid
        GROUP BY source, CAST(floor((cum - n_tok) / {PACK_BUDGET}) AS BIGINT)
    """,
    tags=("curation", "packing", "extension"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack each source's documents into 256-token training sequences."""
    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences(docs)


@register(
    "cross_lang_shingle_overlap",
    oracle=f"""
        WITH sh AS ({H.duck_shingle_cte('documents', 'lang', 'text', 5)}),
        sizes AS (SELECT lang, count(*) AS n FROM sh GROUP BY lang),
        inter AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang < b.lang
            GROUP BY a.lang, b.lang
        )
        SELECT i.lang_a, i.lang_b, i.n_shared,
               ROUND(i.n_shared * 1.0 / (sa.n + sb.n - i.n_shared), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.lang_a = sa.lang
        JOIN sizes sb ON i.lang_b = sb.lang
    """,
    tags=("contamination", "dedup", "cross-lingual", "extension"),
)
def q_cross_lang_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language contamination scan: Jaccard overlap of the
    distinct word-5-gram shingle sets of every language pair. High
    overlap between languages flags mislabeled language IDs or
    copy-through content (boilerplate, code, untranslated quotes) —
    the corpus-level cousin of per-document near-dup.

    The pair space is |langs|² (single digits), so unlike document
    self-joins no hot-key cap is needed: the shingle equi-join's output
    is bounded by shared-shingle count, and per-language set sizes are
    broadcast back onto the tiny pair frame.
    """
    docs = read_table(spark, sf_dir, "documents")
    # ONE groupBy replaces [distinct + self-join by shingle]: each
    # shingle's distinct language set is collected in-row (collect_set
    # dedups inside the aggregate — no upstream distinct() exchange),
    # per-language set sizes fall out of exploding the same grouped
    # frame, and language pairs (≤ |langs|² of them) are generated
    # in-row from the sorted array.
    grouped = (
        shingle_set(docs, "lang", "text", k=5)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_set("lang")).alias("langs"))
        .persist()
    )
    sizes = (
        grouped.select(F.explode("langs").alias("lang"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )
    pair_structs = id_pairs(F.col("langs"), "lang_a", "lang_b")
    inter = (
        grouped.where(F.size("langs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy("p.lang_a", "p.lang_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_shared",
            F.round(
                F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")), 6
            ).alias("jaccard"),
        )
    )
