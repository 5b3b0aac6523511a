"""LLM-pipeline operators, round 8. [extension]

Gopher-style rule-level quality reporting, inter-rater agreement
(Cohen's kappa) between independent quality signals, and bigram
language-model scoring — the quality-measurement surface beyond the
per-doc composite score (textstats.quality_score) and the nested gate
funnel (llmops2.quality_gate_funnel): rule-LEVEL pass rates tell a
curation owner WHICH rule does the cutting, kappa tells them whether
two signals agree beyond chance, and the bigram LM is the standard
step up from the unigram scorer (textstats.unigram_logprob_score).

Reference parity: same scan→classify→aggregate shape as the
reference's Grep/Wordcount pipelines (Grep.java:62-100,
Wordcount.java), applied to quality rules instead of regex captures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.textstats import LANG_MARKERS
from velox_hadoop_spark.plans.registry import register

_EN = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])

# Gopher-style rule thresholds, scaled to this corpus's word-length
# regime (the published bounds target web documents; the RULES are the
# point, the constants are corpus-tuned like any real deployment).
R_MIN_WORDS, R_MAX_WORDS = 20, 1000
R_MIN_MWL, R_MAX_MWL = 3.0, 10.0
R_MIN_DISTINCT_RATIO = 0.4
R_MAX_TOP_WORD_FRAC = 0.2
R_MIN_STOP_HITS = 2


@register(
    "gopher_rule_report",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, source,
                   string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        topw AS (
            SELECT doc_id, max(c) AS top_c FROM (
                SELECT doc_id, count(*) AS c
                FROM w CROSS JOIN UNNEST(w.w) AS t(tok)
                GROUP BY doc_id, tok
            ) GROUP BY doc_id
        ),
        m AS (
            SELECT w.doc_id, w.source,
                   len(w.w) AS n_words,
                   len(array_to_string(w.w, '')) / CAST(len(w.w) AS DOUBLE)
                       AS mwl,
                   len(list_distinct(w.w)) / CAST(len(w.w) AS DOUBLE)
                       AS distinct_ratio,
                   t.top_c / CAST(len(w.w) AS DOUBLE) AS top_frac,
                   len(list_filter(w.w, x -> x IN ({_EN}))) AS stop_hits
            FROM w JOIN topw t ON w.doc_id = t.doc_id
            WHERE len(w.w) > 0
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(count(*) FILTER (WHERE n_words BETWEEN {R_MIN_WORDS} AND {R_MAX_WORDS}) AS BIGINT) AS pass_word_count,
               CAST(count(*) FILTER (WHERE mwl BETWEEN {R_MIN_MWL} AND {R_MAX_MWL}) AS BIGINT) AS pass_mean_word_len,
               CAST(count(*) FILTER (WHERE distinct_ratio >= {R_MIN_DISTINCT_RATIO}) AS BIGINT) AS pass_distinct_ratio,
               CAST(count(*) FILTER (WHERE top_frac <= {R_MAX_TOP_WORD_FRAC}) AS BIGINT) AS pass_top_word,
               CAST(count(*) FILTER (WHERE stop_hits >= {R_MIN_STOP_HITS}) AS BIGINT) AS pass_stopwords,
               CAST(count(*) FILTER (
                   WHERE n_words BETWEEN {R_MIN_WORDS} AND {R_MAX_WORDS}
                     AND mwl BETWEEN {R_MIN_MWL} AND {R_MAX_MWL}
                     AND distinct_ratio >= {R_MIN_DISTINCT_RATIO}
                     AND top_frac <= {R_MAX_TOP_WORD_FRAC}
                     AND stop_hits >= {R_MIN_STOP_HITS}) AS BIGINT) AS pass_all
        FROM m GROUP BY source
    """,
    tags=("quality", "gopher-rules", "llm-pipeline", "extension"),
)
def q_gopher_rule_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules, reported PER RULE per source: word
    count bounds, mean word length bounds, distinct-word ratio, top
    single-word fraction (the repetition rule), and a stopword floor —
    each counted independently plus the all-rules survivor count.
    Unlike a nested funnel, independent counts show which rule does
    the cutting and which rules agree. Everything except the top-word
    fraction is pure array arithmetic in one scan; the top-word rule
    needs one (doc, word) grouped count — keyed by doc_id, so the
    shuffle partitions by document and the max folds per doc (no
    global word table)."""
    w = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", r"\s+").alias("w")
    ).where(F.size("w") > 0)
    topw = (
        w.select("doc_id", F.explode("w").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    nw = F.size("w").cast("double")
    m = w.join(topw, "doc_id").select(
        "source",
        F.size("w").alias("n_words"),
        (F.length(F.array_join("w", "")) / nw).alias("mwl"),
        (F.size(F.array_distinct("w")) / nw).alias("distinct_ratio"),
        (F.col("top_c") / nw).alias("top_frac"),
        F.expr(f"size(filter(w, x -> x IN ({_EN})))").alias("stop_hits"),
    )
    r_wc = F.col("n_words").between(R_MIN_WORDS, R_MAX_WORDS)
    r_mwl = F.col("mwl").between(R_MIN_MWL, R_MAX_MWL)
    r_dr = F.col("distinct_ratio") >= R_MIN_DISTINCT_RATIO
    r_top = F.col("top_frac") <= R_MAX_TOP_WORD_FRAC
    r_stop = F.col("stop_hits") >= R_MIN_STOP_HITS
    cnt = lambda c, name: F.count(F.when(c, 1)).cast("long").alias(name)  # noqa: E731
    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        cnt(r_wc, "pass_word_count"),
        cnt(r_mwl, "pass_mean_word_len"),
        cnt(r_dr, "pass_distinct_ratio"),
        cnt(r_top, "pass_top_word"),
        cnt(r_stop, "pass_stopwords"),
        cnt(r_wc & r_mwl & r_dr & r_top & r_stop, "pass_all"),
    )


@register(
    "cohens_kappa_lang_signals",
    oracle=f"""
        WITH m AS (
            SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
                   CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                 x -> x IN ({_EN}))) >= {R_MIN_STOP_HITS}
                        THEN 1 ELSE 0 END AS b
            FROM documents
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   sum(a * b) AS n11,
                   sum(a * (1 - b)) AS n10,
                   sum((1 - a) * b) AS n01,
                   sum((1 - a) * (1 - b)) AS n00
            FROM m
        )
        -- margin products cast a factor to DOUBLE first: BIGINT
        -- (n11+n10)*(n11+n01) overflows int64 near ~3e9 docs (the
        -- Cramer's V margin class fixed in round 9's advice pass)
        SELECT n,
               ROUND((n11 + n00) / CAST(n AS DOUBLE), 6) AS po,
               ROUND((CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                      + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                     / (CAST(n AS DOUBLE) * n), 6) AS pe,
               ROUND(((n11 + n00) / CAST(n AS DOUBLE)
                      - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                         + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                        / (CAST(n AS DOUBLE) * n))
                     / (1 - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                             + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                           / (CAST(n AS DOUBLE) * n)), 6) AS kappa
        FROM agg
        WHERE n > 0
          AND (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
               + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) < CAST(n AS DOUBLE) * n
    """,
    tags=("quality", "agreement", "kappa", "extension"),
)
def q_cohens_kappa_lang_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent English-ness signals: the
    declared lang label vs the stopword-marker detector — chance-
    corrected agreement, the standard check before trusting two
    labelers (or a labeler and a heuristic) interchangeably. One scan,
    one 1-row aggregate of the four contingency cells; the degenerate
    case pe = 1 (both raters constant) emits nothing in both engines
    rather than dividing by zero."""
    m = read_table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("a"),
        F.when(
            F.expr(
                f"size(filter(split(text, '\\\\s+'), x -> x IN ({_EN})))"
            )
            >= R_MIN_STOP_HITS,
            1,
        )
        .otherwise(0)
        .alias("b"),
    )
    agg = m.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) / nd
    # cast a factor to double BEFORE the product: the BIGINT margin
    # product overflows int64 near ~3e9 docs (the Cramer's V class)
    pe = (
        (F.col("n11") + F.col("n10")).cast("double") * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")).cast("double") * (F.col("n10") + F.col("n00"))
    ) / (nd * nd)
    return agg.where((F.col("n") > 0) & (pe < 1)).select(
        "n",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


@register(
    "bigram_logprob_score",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        bg AS (
            SELECT doc_id, w[i] AS w1, w[i+1] AS w2
            FROM w CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2
        ),
        bgc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
        ugc AS (SELECT w1, sum(c) AS c1 FROM bgc GROUP BY w1),
        vocab AS (
            SELECT count(DISTINCT tok) AS v FROM (
                SELECT unnest(w) AS tok FROM w
            )
        )
        SELECT b.doc_id,
               count(*) AS n_bigrams,
               ROUND(avg(log2((g.c + 1.0) / (u.c1 + vocab.v))), 6)
                   AS avg_log2_prob
        FROM bg b
        JOIN bgc g ON b.w1 = g.w1 AND b.w2 = g.w2
        JOIN ugc u ON b.w1 = u.w1
        CROSS JOIN vocab
        GROUP BY b.doc_id
    """,
    tags=("quality", "language-model", "bigram", "extension"),
)
def q_bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram log-probability under the corpus's
    own add-1-smoothed bigram LM — the step past the unigram scorer
    (unigram_logprob_score): P(w₂|w₁) = (c(w₁,w₂)+1)/(c(w₁)+V). Docs
    full of corpus-typical word PAIRS score high; scrambled or
    boilerplate-heavy docs drop. Scale shape: the bigram count table
    is vocabulary²-bounded (not corpus-bounded), the conditional
    denominator folds from the bigram table itself (no second corpus
    scan), V is a broadcast scalar, and each doc's bigrams re-acquire
    probabilities by one equi-join on the bigram key. avg(log2) is
    display-rounded; both engines consume identical smoothed ratios
    of exact integers."""
    w = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", r"\s+").alias("w")
    )
    bg = (
        w.where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(element_at(w, i) AS w1,"
                    " element_at(w, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    ugc = bgc.groupBy("w1").agg(F.sum("c").alias("c1"))
    vocab = w.select(F.explode("w").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    return (
        bg.join(bgc, ["w1", "w2"])
        .join(ugc, "w1")
        .crossJoin(vocab)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log2((F.col("c") + 1.0) / (F.col("c1") + F.col("v")))
                ),
                6,
            ).alias("avg_log2_prob"),
        )
    )


@register(
    "embedding_doclen_correlation",
    oracle="""
        WITH j AS (
            SELECT d.lang, d.n_chars,
                   CAST(floor(sqrt(list_sum(list_transform(
                       CAST(e.embedding AS DOUBLE[]), x -> x * x)))
                       * 1000000 + 0.5) AS BIGINT) AS nrm_u
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        ),
        s AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_chars) AS HUGEINT) AS sx,
                   CAST(sum(nrm_u) AS HUGEINT) AS sy,
                   sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx,
                   sum(CAST(nrm_u AS HUGEINT) * nrm_u) AS syy,
                   sum(CAST(n_chars AS HUGEINT) * nrm_u) AS sxy
            FROM j GROUP BY lang
        )
        SELECT lang, n,
               ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                     6) AS len_norm_corr
        FROM s
        WHERE n >= 2
          AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    tags=("embeddings", "multimodal-join", "correlation", "extension"),
)
def q_embedding_doclen_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal sanity check: Pearson correlation between document
    length and its embedding's L2 norm, per language — the drift probe
    that catches an embedding service silently normalizing (corr ≈ 0
    on unit vectors) or leaking length (strong positive). Joins the
    text table to the vector table on the shared id; the norm is a
    single JVM-side sequential fold over the array (F.aggregate —
    matching DuckDB's sequential list_sum), then QUANTIZED to exact
    integer micro-units before the moment sums: free-order double
    accumulation of irrational norms leaves the engines ulps apart
    (the Brown-smoother rounding-flip class), while integer moments
    in decimal(38)/HUGEINT are exact at any corpus size — the final
    correlation is a fixed expression tree over identical integers.
    Zero-variance groups emit nothing (stats2.safe_corr convention)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    emb = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.floor(
            F.sqrt(
                F.aggregate(
                    F.col("embedding"),
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            )
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("nrm_u"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = (
        docs.join(emb, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(dec(F.col("n_chars"))).alias("sx"),
            F.sum(dec(F.col("nrm_u"))).alias("sy"),
            F.sum(dec(F.col("n_chars") * F.col("n_chars"))).alias("sxx"),
            F.sum(dec(F.col("nrm_u")) * F.col("nrm_u")).alias("syy"),
            F.sum(dec(F.col("n_chars") * F.col("nrm_u"))).alias("sxy"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    vx = F.col("n") * d("sxx") - d("sx") * d("sx")
    vy = F.col("n") * d("syy") - d("sy") * d("sy")
    return s.where(
        (F.col("n") >= 2)
        & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
    ).select(
        "lang",
        "n",
        F.round(
            (F.col("n") * d("sxy") - d("sx") * d("sy")) / F.sqrt(vx * vy), 6
        ).alias("len_norm_corr"),
    )


@register(
    "ngram_novelty_curve",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
            FROM w CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS t(i)
            WHERE len(w) >= 3
        ),
        bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM sh),
        first_seen AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g),
        tagged AS (
            SELECT ((sh.doc_id - b.lo) * 10) // (b.hi - b.lo + 1) + 1
                       AS bucket,
                   CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel
            FROM sh JOIN first_seen f ON sh.g = f.g
            CROSS JOIN bounds b
        )
        SELECT bucket,
               count(*) AS n_gram_instances,
               CAST(sum(novel) AS BIGINT) AS n_first_seen,
               ROUND(sum(novel) / CAST(count(*) AS DOUBLE), 6) AS novelty_rate
        FROM tagged GROUP BY bucket
    """,
    tags=("quality", "novelty", "dedup-aware", "extension"),
)
def q_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty curve over corpus ingestion order: per
    doc-id decile, how many distinct-per-doc trigram instances are the
    FIRST corpus occurrence of that trigram — the n-gram counterpart
    of vocab_growth_curve, and the curve a dedup-aware curriculum
    reads (a flattening tail means later shards mostly repeat earlier
    text). Buckets use the (doc−min)·10/(max−min+1)+1 anchoring — the
    exact formula the round-7 conservation test fixed (0-based ids put
    everything one bucket off when assumed 1-based). One distinct
    (doc, gram) frame, a gram-keyed min, and one join back; the gram
    table is vocabulary³-bounded. Conservation: Σ n_first_seen across
    buckets equals the distinct trigram count — pinned in
    tests/test_round8_parity.py."""
    w = read_table(spark, sf_dir, "documents").select("doc_id", F.split("text", r"\s+").alias("w"))
    sh = (
        w.where(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 2),"
                    " i -> array_join(slice(w, i, 3), ' '))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    bounds = sh.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    first_seen = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    tagged = (
        sh.join(first_seen, "g")
        .crossJoin(bounds)
        .select(
            (
                (F.col("doc_id") - F.col("lo")) * 10 / (F.col("hi") - F.col("lo") + 1)
            )
            .cast("long")
            .alias("bucket"),
            F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0).alias("novel"),
        )
        .select((F.col("bucket") + 1).alias("bucket"), "novel")
    )
    return tagged.groupBy("bucket").agg(
        F.count("*").alias("n_gram_instances"),
        F.sum("novel").cast("long").alias("n_first_seen"),
        F.round(F.sum("novel") / F.count("*").cast("double"), 6).alias("novelty_rate"),
    )
