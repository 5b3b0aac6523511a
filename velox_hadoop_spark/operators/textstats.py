"""Text analysis for training-data curation. [extension]

Language ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting — all pure
JVM expressions over the ``documents`` table; no Python in the hot path.

Scale notes: each query is scan → per-row expressions → (optional)
hash-agg. No shuffles except the final aggregate; all regex/count work
happens inside whole-stage codegen where the corpus streams through.
"""

from __future__ import annotations

from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions import hashing as H
from velox_hadoop_spark.plans.registry import register

# Tiny per-language marker lexicons (function words). The heuristic is
# the classic stopword-profile vote; lists are deliberately small and
# hard-coded so the oracle replicates them exactly.
LANG_MARKERS = MappingProxyType(
    {
        "en": ("the", "a", "of", "and", "to"),
        "de": ("der", "die", "das", "und", "ist"),
        "es": ("el", "la", "los", "y", "es"),
        "fr": ("le", "la", "les", "et", "est"),
        "zh": ("de", "le", "shi", "he", "zai"),
    }
)

BPE_ISH = "[a-z]+|[0-9]|[^a-z0-9 ]"  # lowercase words, digits, punct singles


def _marker_count_expr(lang: str) -> str:
    """Count of marker-word occurrences among whitespace tokens (Spark SQL)."""
    markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"size(filter(split(text, '\\\\s+'), t -> t IN ({markers})))"
    )


def _duck_marker_count(lang: str) -> str:
    markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split_regex(text, '\\s+'), t -> t IN ({markers})))"
    )


def token_stats(df: DataFrame) -> DataFrame:
    """Whitespace and BPE-ish token counts + mean token length."""
    words = F.expr("filter(split(text, '\\\\s+'), t -> t <> '')")
    return df.select(
        "doc_id",
        F.size(words).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        # NULL (not 0.0) for a token-free document: DuckDB's
        # list_aggregate sums an empty list to NULL while F.aggregate
        # folds to the 0.0 initializer — emitting the mean only when
        # tokens exist keeps the two engines identical on empty /
        # whitespace-only text
        F.when(
            F.size(words) > 0,
            F.round(
                F.aggregate(words, F.lit(0.0), lambda acc, t: acc + F.length(t))
                / F.size(words),
                4,
            ),
        ).alias("avg_token_len"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Composite quality score: stopword ratio, alpha ratio, length band.

    score = 0.4·stopword_ratio + 0.4·alpha_ratio + 0.2·len_ok — an
    explicit, engine-portable stand-in for perplexity-style filters.
    """
    words = F.expr("filter(split(text, '\\\\s+'), t -> t <> '')")
    n_words = F.greatest(F.size(words), F.lit(1))
    stop_ratio = F.expr(_marker_count_expr("en")) / n_words
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-z]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    len_ok = F.when((F.size(words) >= 20) & (F.size(words) <= 1000), 1.0).otherwise(0.0)
    return df.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        len_ok.alias("len_ok"),
        F.round(0.4 * stop_ratio + 0.4 * alpha_ratio + 0.2 * len_ok, 6).alias(
            "quality"
        ),
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Argmax over per-language marker hits; ties break alphabetically.

    Scores stack via explode, argmax via per-doc window rank — one
    shuffle on doc_id, no UDF.
    """
    langs = sorted(LANG_MARKERS)
    scores = df.select(
        "doc_id",
        "lang",
        *[
            F.expr(_marker_count_expr(lg)).cast("long").alias(f"hits_{lg}")
            for lg in langs
        ],
    )
    stacked = scores.select(
        "doc_id",
        "lang",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"hits_{lg}").alias("hits"), F.lit(lg).alias("cand")
                    )
                    for lg in langs
                ]
            )
        ).alias("s"),
    ).select("doc_id", "lang", F.col("s.hits").alias("hits"), F.col("s.cand").alias("cand"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand"))
    return (
        stacked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("cand").alias("pred_lang"),
            F.col("hits").alias("marker_hits"),
            (F.col("cand") == F.col("lang")).alias("matches_label"),
        )
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Shingle-set fingerprint: min/max hash + cardinality (winnowing-lite).

    One row per document in, one out — so the whole fingerprint is
    per-row array expressions (array_distinct → transform(md5) →
    array_min/max): zero shuffles, fully inside whole-stage codegen.
    Docs shorter than the shingle width produce no fingerprint (same as
    the oracle's UNNEST of an empty set).
    """
    # Filter on word count, not on size(sh) — a size(sh) predicate gets
    # pushed below the projections and re-inlines split() inside the
    # slice lambda (one split per shingle). size(words) >= k is exactly
    # "shingle set non-empty" and costs one split per row at the scan.
    words = df.select("doc_id", F.split("text", r"\s+").alias("words")).where(
        F.size(F.split("text", r"\s+")) >= 5
    )
    d = words.select(
        "doc_id",
        F.expr(f"array_distinct({H.spark_shingles_from_words('words', 5)})").alias("sh"),
    )
    hs = F.expr("transform(sh, s -> md5(s))")
    return d.select(
        "doc_id",
        F.array_min(hs).alias("fp_min"),
        F.array_max(hs).alias("fp_max"),
        F.size("sh").cast("long").alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "token_stats",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS words
            FROM documents
        )
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '{BPE_ISH}')) AS BIGINT) AS n_bpe_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_measured,
               CASE WHEN len(words) > 0 THEN
                   ROUND(list_aggregate(list_transform(words, t -> CAST(length(t) AS DOUBLE)), 'sum')
                         / len(words), 4)
               END AS avg_token_len
        FROM w
    """,
    tags=("textstats", "extension"),
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return token_stats(docs)


def duck_quality_select() -> str:
    """The quality_score oracle as a reusable SELECT (shared by the
    decile report in llmops3): per-doc composite quality plus its
    ingredients, identical to the registered quality_score oracle."""
    return f"""
        WITH w AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS words
            FROM documents
        ),
        m AS (
            SELECT doc_id, text, words,
                   greatest(len(words), 1) AS n_words_div,
                   {_duck_marker_count('en')} AS stop_hits,
                   CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
                       / greatest(length(text), 1) AS alpha_ratio,
                   CAST(CASE WHEN len(words) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS len_ok
            FROM w
        )
        SELECT doc_id,
               ROUND(0.4 * (CAST(stop_hits AS DOUBLE) / n_words_div)
                     + 0.4 * alpha_ratio + 0.2 * len_ok, 6) AS quality
        FROM m
    """


@register(
    "quality_score",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS words
            FROM documents
        ),
        m AS (
            SELECT doc_id, text, words,
                   greatest(len(words), 1) AS n_words_div,
                   {_duck_marker_count('en')} AS stop_hits,
                   CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
                       / greatest(length(text), 1) AS alpha_ratio,
                   CAST(CASE WHEN len(words) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS len_ok
            FROM w
        )
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               ROUND(CAST(stop_hits AS DOUBLE) / n_words_div, 6) AS stopword_ratio,
               ROUND(alpha_ratio, 6) AS alpha_ratio,
               len_ok,
               ROUND(0.4 * (CAST(stop_hits AS DOUBLE) / n_words_div)
                     + 0.4 * alpha_ratio + 0.2 * len_ok, 6) AS quality
        FROM m
    """,
    tags=("textstats", "quality", "extension"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return quality_score(docs)


def _duck_lang_sql() -> str:
    langs = sorted(LANG_MARKERS)
    branches = " UNION ALL ".join(
        f"SELECT doc_id, lang, '{lg}' AS cand, CAST({_duck_marker_count(lg)} AS BIGINT) AS hits FROM documents"
        for lg in langs
    )
    return f"""
        WITH stacked AS ({branches}),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY hits DESC, cand ASC
            ) AS rn
            FROM stacked
        )
        SELECT doc_id, cand AS pred_lang, hits AS marker_hits,
               (cand = lang) AS matches_label
        FROM ranked WHERE rn = 1
    """


@register(
    "lang_id_ngram",
    oracle=_duck_lang_sql(),
    tags=("textstats", "langid", "extension"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return lang_id(docs)


@register(
    "doc_fingerprint",
    oracle=f"""
        WITH sh AS ({H.duck_shingle_cte('documents', 'doc_id', 'text', 5)})
        SELECT doc_id,
               min(md5(shingle)) AS fp_min,
               max(md5(shingle)) AS fp_max,
               count(*) AS n_shingles
        FROM sh GROUP BY doc_id
    """,
    tags=("textstats", "fingerprint", "extension"),
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return fingerprint(docs)


# ---------------------------------------------------------------------------
# Chunking + redaction (context-window prep for LLM pipelines)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 60      # whitespace tokens per chunk
CHUNK_OVERLAP = 15     # tokens shared between consecutive chunks
_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Split documents into overlapping fixed-token-count chunks.

    tokens → sliding window starts (``sequence`` with the stride) →
    ``slice`` + ``concat_ws`` per start → explode. One narrow pass, all
    in codegen: the natural prep step for context-window-bounded
    training samples. Output: (id, chunk_id, n_tokens, chunk_text);
    ``chunk_id`` is the 0-based window index, last chunk may be short.
    Only the final window that still contains new tokens is emitted
    (starts stop at the text length).

    ``passthrough`` columns ride along each emitted chunk row — the
    cheap way to keep metadata (lang, source) attached without a
    re-join against the pre-chunk frame, which would recompute the
    whole upstream subtree (the two branches prune different columns,
    so their exchanges don't canonicalize equal and ReuseExchange
    cannot merge them).
    """
    stride = chunk_tokens - overlap
    assert stride > 0, "overlap must be smaller than chunk_tokens"
    extra = list(passthrough or [])
    words = df.select(
        F.col("doc_id"), *extra, F.split(F.col("text"), r"\s+").alias("w")
    )
    return words.select(
        F.col("doc_id"),
        *extra,
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size(w), 1), {stride}), "
                f"s -> concat_ws(' ', slice(w, s, {chunk_tokens})))"
            )
        ).alias("chunk_id", "chunk_text"),
    ).select(
        F.col("doc_id"),
        *extra,
        "chunk_id",
        F.size(F.split(F.col("chunk_text"), r"\s+")).alias("n_tokens"),
        "chunk_text",
    )


@register(
    "chunk_documents_overlap",
    oracle=f"""
        SELECT doc_id, CAST(s.i AS INTEGER) AS chunk_id,
               CAST(len(string_split_regex(chunk_text, '\\s+')) AS INTEGER) AS n_tokens,
               chunk_text
        FROM (
            SELECT doc_id, i,
                   array_to_string(w[1 + i * {_STRIDE} : i * {_STRIDE} + {CHUNK_TOKENS}], ' ') AS chunk_text
            FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
                  FROM documents)
            CROSS JOIN UNNEST(generate_series(0,
                CAST(ceil(greatest(len(w), 1) / {_STRIDE}.0) AS BIGINT) - 1)) AS s(i)
            WHERE 1 + i * {_STRIDE} <= greatest(len(w), 1)
        ) AS s
    """,
    tags=("llm", "chunking", "extension"),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping CHUNK_TOKENS-token chunks (stride _STRIDE) per doc."""
    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(docs)


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_DIGITS9_RE = "[0-9]{9,}"


def redact_pii(df: DataFrame) -> DataFrame:
    """Mask email addresses and long digit runs — the regex-scrub shape
    of a PII pass (real deployments add NER models via mapInPandas;
    the plan shape is identical). Pure codegen regexp_replace."""
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _DIGITS9_RE,
        "<NUM>",
    )
    return df.withColumn("redacted_text", cleaned).withColumn(
        "was_redacted", F.col("redacted_text") != F.col("text")
    )


@register(
    "redact_pii_docs",
    oracle=f"""
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_DIGITS9_RE}', '<NUM>', 'g') AS redacted_text,
               regexp_replace(
                   regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_DIGITS9_RE}', '<NUM>', 'g') <> text AS was_redacted
        FROM documents
    """,
    tags=("llm", "pii", "extension"),
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/long-number redaction over the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    return redact_pii(docs).select("doc_id", "redacted_text", "was_redacted")


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition signals: fraction of
    tokens belonging to duplicate word-bigrams, and the share of the
    single most frequent bigram.

    Entirely in-row (array transforms + a grouped explode bounded by
    the document's own bigram count): no corpus-wide shuffle beyond the
    per-doc aggregate, which combines map-side. High values flag
    looping/boilerplate generations that near-dup detection misses
    because the repetition is INSIDE one document."""
    words = df.select(
        F.col("doc_id"), F.split(F.col("text"), r"\s+").alias("w")
    ).where(F.size("w") >= 2)
    bigrams = words.select(
        F.col("doc_id"),
        F.size("w").alias("n_tokens"),
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"
            )
        ).alias("bg"),
    )
    per_bg = bigrams.groupBy("doc_id", "n_tokens", "bg").agg(
        F.count("*").alias("c")
    )
    return per_bg.groupBy("doc_id").agg(
        F.first("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            (F.sum("c") - F.count("*")) / F.sum("c"), 6
        ).alias("dup_bigram_frac"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac"),
    )


@register(
    "repetition_quality",
    oracle=r"""
        WITH words AS (
            SELECT doc_id, string_split_regex(text, '\s+') AS w
            FROM documents
        ),
        bigrams AS (
            SELECT doc_id, len(w) AS n_tokens,
                   w[i] || ' ' || w[i+1] AS bg
            FROM words
            CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2
        ),
        per_bg AS (
            SELECT doc_id, n_tokens, bg, count(*) AS c
            FROM bigrams GROUP BY doc_id, n_tokens, bg
        )
        SELECT doc_id,
               CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
               ROUND((sum(c) - count(*)) / sum(c), 6) AS dup_bigram_frac,
               ROUND(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
        FROM per_bg GROUP BY doc_id
    """,
    tags=("textstats", "quality", "repetition", "extension"),
)
def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-bigram and top-bigram fractions per document."""
    docs = read_table(spark, sf_dir, "documents")
    return repetition_stats(docs)


@register(
    "source_mixing_weights",
    # Temperature-scaled multinomial source weights (alpha = 0.5): the
    # standard recipe for rebalancing a multi-source training corpus —
    # w_s ∝ n_s^alpha, normalized. Pure aggregate + broadcast scalar.
    oracle="""
        WITH per_src AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        tot AS (SELECT sum(pow(n_docs, 0.5)) AS z FROM per_src)
        SELECT source, n_docs,
               ROUND(pow(n_docs, 0.5) / (SELECT z FROM tot), 6) AS weight
        FROM per_src
    """,
    tags=("curation", "sampling", "mixing", "extension"),
)
def q_source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature-sampling weights (n^0.5 normalized)."""
    docs = read_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    z = per_src.agg(F.sum(F.pow("n_docs", F.lit(0.5))).alias("z"))
    return per_src.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.round(F.pow("n_docs", F.lit(0.5)) / F.col("z"), 6).alias("weight"),
    )


@register(
    "charclass_stats_by_lang",
    # Ratio-of-sums (one integer-exact division per group), never
    # avg-of-ratios: the integer char-class counts sum exactly in both
    # engines, so each emitted fraction is ONE double division of
    # identical integers — engine-order independent. floor-form
    # rounding avoids the HALF_UP/HALF_EVEN divergence class.
    oracle="""
        WITH c AS (
            SELECT lang,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS BIGINT) AS n_letters,
                   CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
                   CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS n_spaces
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               FLOOR(sum(n_letters) / CAST(sum(n_chars) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS letter_frac,
               FLOOR(sum(n_digits) / CAST(sum(n_chars) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS digit_frac,
               FLOOR(sum(n_spaces) / CAST(sum(n_chars) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS space_frac,
               FLOOR((sum(n_chars) - sum(n_letters) - sum(n_digits) - sum(n_spaces))
                     / CAST(sum(n_chars) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS other_frac
        FROM c GROUP BY lang
    """,
    tags=("textstats", "lang", "charclass", "extension"),
)
def q_charclass_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per language: corpus-level fractions
    of ASCII letters, digits, spaces, and everything else (CJK, accents,
    punctuation). The cheap script-detection signal that catches
    mislabeled-language and mojibake documents before tokenization.

    Char-class counts are length-difference expressions (length minus
    length after stripping the class) — pure codegen, no explode, no
    per-char processing; the group-by shuffles 4 integers per doc."""
    docs = read_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    def strip_len(pat: str):
        return F.length("text") - F.length(F.regexp_replace(F.col("text"), pat, ""))
    c = docs.select(
        "lang",
        n_chars.cast("long").alias("n_chars"),
        strip_len("[a-zA-Z]").cast("long").alias("n_letters"),
        strip_len("[0-9]").cast("long").alias("n_digits"),
        strip_len(" ").cast("long").alias("n_spaces"),
    )
    def frac(num):
        x = num / F.col("sum_chars").cast("double")
        return F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    g = c.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("n_letters").alias("sum_letters"),
        F.sum("n_digits").alias("sum_digits"),
        F.sum("n_spaces").alias("sum_spaces"),
    )
    return g.select(
        "lang",
        "n_docs",
        frac(F.col("sum_letters")).alias("letter_frac"),
        frac(F.col("sum_digits")).alias("digit_frac"),
        frac(F.col("sum_spaces")).alias("space_frac"),
        frac(
            F.col("sum_chars") - F.col("sum_letters") - F.col("sum_digits") - F.col("sum_spaces")
        ).alias("other_frac"),
    )
