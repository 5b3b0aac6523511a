"""Corpus-QA operators for training-data curation. [extension]

Second-order quality signals a large-scale data pipeline runs AFTER
the per-document filters in ``textstats.py``: token-distribution
entropy (degenerate/repetitive text detector), per-source heavy
hitters (boilerplate discovery), per-source exact-duplication rate
(source health), statistical outlier detection on event values, an
inverted-index posting-list build, and a deterministic random
projection of the embedding space (dimensionality reduction for
downstream clustering). The reference engine has no analysis layer
beyond grouped counts (reference: src/main/java/org/dicl/velox/
benchmark/WordCount.java:40-78); these extend the same
tokenize→group→aggregate shape into the curation metrics that matter
at corpus scale.

Scale notes: every query is explode → partial+final hash aggregation
(map-side combine bounds the shuffle at distinct-key cardinality, not
token count) or a broadcast of a tiny aggregate back onto the fact
scan. The only window is partitioned by ``source`` (bounded
cardinality) AFTER aggregation — it ranks source×token counts, not
raw tokens. No driver collects, no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions.vectors import double_array
from velox_hadoop_spark.plans.registry import register


def _tokens(docs: DataFrame, *extra: str) -> DataFrame:
    """(doc_id, [*extra,] tok) — whitespace tokens, empties dropped."""
    return docs.select(
        "doc_id", *extra, F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")


# ---------------------------------------------------------------------------
# Token-distribution entropy (repetitive / degenerate text signal)
# ---------------------------------------------------------------------------


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the unigram token distribution.

    H = log2(N) − (Σ c·log2 c)/N over per-token counts c — the
    algebraic form shared verbatim with the oracle so both engines sum
    the same terms. Low entropy flags looping/boilerplate generations;
    the type-token ratio rides along as the cheaper companion signal.

    Two shuffles, both pre-combined map-side: (doc_id, tok) counts,
    then per-doc rollup keyed by doc_id alone.
    """
    counts = _tokens(docs).groupBy("doc_id", "tok").agg(
        F.count("*").cast("double").alias("c")
    )
    n = F.sum("c")
    return counts.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.round(F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 6).alias("entropy"),
        F.round(F.count("*") / n, 6).alias("type_token_ratio"),
    )


@register(
    "token_entropy_quality",
    oracle="""
        WITH counts AS (
            SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
            WHERE tok <> ''
            GROUP BY doc_id, tok
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_types,
               round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy,
               round(count(*) / sum(c), 6) AS type_token_ratio
        FROM counts GROUP BY doc_id
    """,
    tags=("curation", "quality", "entropy", "extension"),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram entropy + type-token ratio per document."""
    return token_entropy(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Per-source heavy hitters (boilerplate discovery)
# ---------------------------------------------------------------------------


@register(
    "heavy_hitters_by_source",
    oracle="""
        SELECT source, tok, cnt, rnk FROM (
            SELECT source, tok, cnt,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY cnt DESC, tok) AS rnk
            FROM (
                SELECT source, tok, count(*) AS cnt
                FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                WHERE tok <> ''
                GROUP BY source, tok
            )
        ) WHERE rnk <= 5
    """,
    tags=("curation", "heavy-hitters", "extension"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tokens per source (ties broken by token).

    The window ranks the POST-aggregation (source, token) counts — a
    frame already reduced to vocabulary size — so the per-source sort
    never sees raw token occurrences. At 100 TB the same plan holds:
    the heavy frame is bounded by |sources| × |vocab|.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    counts = (
        _tokens(docs, "source")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("tok"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 5)
        .select("source", "tok", "cnt", "rnk")
    )


# ---------------------------------------------------------------------------
# Per-source exact-duplication rate (source health)
# ---------------------------------------------------------------------------


@register(
    "dup_rate_by_source",
    oracle="""
        SELECT source,
               count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_unique,
               round(1.0 - count(DISTINCT md5(text)) / count(*), 6) AS dup_rate
        FROM documents GROUP BY source
    """,
    tags=("curation", "dedup", "qa", "extension"),
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source — the triage view over the
    ``dedup_exact`` operator: which source is polluting the corpus.

    count-distinct on the md5 digest (not the text) keeps shuffle rows
    at 32 hex chars regardless of document size.
    """
    docs = read_table(spark, sf_dir, "documents")
    n_unique = F.countDistinct(F.md5("text"))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        n_unique.alias("n_unique"),
        F.round(F.lit(1.0) - n_unique / F.count("*"), 6).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Corpus-duplicated n-gram coverage (inter-document repetition signal)
# ---------------------------------------------------------------------------


def _dup_coverage_oracle() -> str:
    from velox_hadoop_spark.functions.hashing import duck_shingle_cte
    from velox_hadoop_spark.operators.dedup import SHINGLE_K

    return f"""
        WITH sh AS ({duck_shingle_cte('documents', 'doc_id', 'text', SHINGLE_K)}),
        dfreq AS (SELECT shingle, count(*) AS dfv FROM sh GROUP BY shingle)
        SELECT s.doc_id,
               count(*) AS n_shingles,
               count(CASE WHEN d.dfv >= 2 THEN 1 END) AS n_dup,
               round(count(CASE WHEN d.dfv >= 2 THEN 1 END) / count(*), 6)
                   AS dup_coverage
        FROM sh s JOIN dfreq d ON s.shingle = d.shingle
        GROUP BY s.doc_id
    """


@register(
    "duplicate_ngram_coverage",
    oracle=_dup_coverage_oracle(),
    tags=("curation", "dedup", "repetition", "extension"),
)
def q_duplicate_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of its 5-gram shingles that also occur in
    at least one OTHER document — the inter-document repetition metric
    curation pipelines threshold on (a doc that is mostly corpus-
    duplicated n-grams is boilerplate even if no single near-dup pair
    flags it; complements the pairwise Jaccard/LSH operators).

    Shingle doc-frequency is a partial+final count keyed by shingle;
    joining it back to the (doc, shingle) frame re-shuffles on the same
    shingle key (one co-partitioned exchange), and the per-doc rollup
    is the only other shuffle. Since a shingle appears once per doc,
    df >= 2 exactly means "present in another document".
    """
    from velox_hadoop_spark.operators.dedup import shingle_set

    sh = shingle_set(read_table(spark, sf_dir, "documents"), "doc_id", "text")
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("dfv"))
    dup = F.sum((F.col("dfv") >= 2).cast("long"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            dup.alias("n_dup"),
            F.round(dup / F.count("*"), 6).alias("dup_coverage"),
        )
    )


# ---------------------------------------------------------------------------
# Statistical outliers on event values (telemetry QA)
# ---------------------------------------------------------------------------


@register(
    "event_value_outliers",
    oracle="""
        WITH raw AS (
            SELECT event_type,
                   count(value) AS n,
                   sum(CAST(round(value * 100) AS BIGINT)) AS s,
                   sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(value * 100) AS BIGINT)) AS q
            FROM events GROUP BY event_type
        ),
        stats AS (
            SELECT event_type,
                   CAST(s AS DOUBLE) / n / 100.0 AS mu,
                   CASE WHEN n > 1 THEN
                       sqrt(CAST(CAST(n AS HUGEINT) * q
                                 - CAST(s AS HUGEINT) * s AS DOUBLE)
                            / (CAST(n AS DOUBLE) * (n - 1))) / 100.0
                   END AS sd
            FROM raw
        )
        SELECT e.event_id, e.event_type,
               round(e.value, 6) AS value,
               round((e.value - s.mu) / s.sd, 4) AS z
        FROM events e JOIN stats s USING (event_type)
        WHERE floor(abs((e.value - s.mu) / s.sd) * 10000 + 0.5) / 10000 > 3
    """,
    tags=("events", "outliers", "qa", "extension"),
)
def q_event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is >3 sample standard deviations from its
    event-type mean.

    The per-type (μ, σ) aggregate is a handful of rows broadcast back
    onto the fact scan — the events table itself is never shuffled, so
    the plan is one pass of partial+final agg plus one broadcast-hash
    join at any scale.
    """
    events = read_table(spark, sf_dir, "events")
    # round-11 money completion: (mu, sd) from EXACT integer-cent
    # moments (Sx BIGINT, Sx2 decimal-38/HUGEINT, one pinned double
    # sequence — the stats_per_segment pattern), so both engines derive
    # bit-identical thresholds at any accumulation order
    cents = F.round(F.col("value") * 100).cast("long")
    raw = events.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("q"),
    )
    m = (
        F.col("n").cast("decimal(38,0)") * F.col("q")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    )
    stats = raw.select(
        "event_type",
        (F.col("s").cast("double") / F.col("n") / 100.0).alias("mu"),
        F.when(
            F.col("n") > 1,
            F.sqrt(m.cast("double") / (F.col("n").cast("double") * (F.col("n") - 1)))
            / 100.0,
        ).alias("sd"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    # membership on the 4-dp grid (floor form, identical IEEE math in
    # both engines) — kept as a belt even though the exact-moment
    # thresholds are now engine-identical
    return (
        events.join(F.broadcast(stats), "event_type")
        .where(F.floor(F.abs(z) * 10000 + F.lit(0.5)) / 10000 > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(z, 4).alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# Robust (median/MAD) outlier statistics
# ---------------------------------------------------------------------------


@register(
    "mad_robust_outliers",
    oracle="""
        WITH med AS (
            SELECT event_type, median(value) AS med FROM events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, any_value(med) AS med, median(adev) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT e.event_type,
               count(*) AS n,
               round(any_value(m.med), 6) AS med,
               round(any_value(m.mad), 6) AS mad,
               count(CASE WHEN abs(e.value - m.med) > 3 * m.mad THEN 1 END)
                   AS n_outliers
        FROM events e JOIN mad m USING (event_type)
        GROUP BY e.event_type
    """,
    tags=("events", "outliers", "robust-stats", "extension"),
)
def q_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier counts per event type — the robust companion
    to the z-score scan (mean/stddev are themselves dragged by the
    outliers they are meant to find; median and MAD are not).

    Exact medians via the percentile aggregate: two grouped passes
    (median, then median of absolute deviations) with the tiny
    per-type results broadcast back onto the fact scan each time. The
    fact table is never shuffled. At petabyte scale swap the exact
    percentile for ``approx_percentile`` — identical plan shape, and
    the sketch-tolerance pattern from the HLL/GK queries applies.
    """
    events = read_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = events.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.any_value("med").alias("med"),
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"),
    )
    out = events.join(F.broadcast(mad), "event_type")
    return out.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.any_value("med"), 6).alias("med"),
        F.round(F.any_value("mad"), 6).alias("mad"),
        F.sum(
            (F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")).cast("long")
        ).alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# Inverted-index posting lists (retrieval-index build)
# ---------------------------------------------------------------------------


@register(
    "inverted_index_tokens",
    oracle="""
        SELECT tok,
               count(*) AS df,
               array_to_string((list_sort(list(doc_id)))[1:10], ',') AS postings
        FROM (SELECT DISTINCT doc_id, tok
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents)
              WHERE tok <> '')
        GROUP BY tok
    """,
    tags=("retrieval", "index", "extension"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token → (document frequency, first-10 posting list).

    The distinct (doc_id, token) projection is the classic index-build
    shuffle — map-side combine collapses within-document repeats before
    any bytes move. The 10-id posting cap is enforced BEFORE any list
    materializes: a row_number() <= 10 filter compiles to Spark's
    WindowGroupLimit (map-side + reducer-side top-k), so a stop-word
    appearing in billions of documents never accumulates more than 10
    ids of per-key state — the previous collect_list-then-slice shape
    buffered the FULL posting list per token in one aggregation buffer
    (executor OOM at corpus scale; round-9 review find). ``df`` carries
    the true frequency from a separate co-partitioned grouped count.
    At 100 TB you'd shard the index by token range — the same plan with
    a ``repartitionByRange(tok)`` before the write.

    Postings are emitted as a CSV string (repo convention, see
    ``operators/agg.py``): top-level array columns are unhashable to
    the driver's pandas canonicalizer.
    """
    from pyspark.storagelevel import StorageLevel

    # persist: the distinct (doc_id, tok) projection — the heaviest
    # scan in the query — feeds both the df counts and the capped
    # postings; without a materialization point each branch re-runs
    # the full-corpus tokenize + distinct (round-9 ADVICE)
    toks = _tokens(read_table(spark, sf_dir, "documents")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    df = toks.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("tok").orderBy("doc_id")
    top = (
        toks.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .groupBy("tok")
        .agg(
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "postings"
            )
        )
    )
    return df.join(top, "tok")


# ---------------------------------------------------------------------------
# Deterministic random projection of the embedding space
# ---------------------------------------------------------------------------

_RP_PLANES = 8
_RP_DIMS = 64


def _rp_weights() -> list[list[float]]:
    """±1 projection weights from MD5 parity of "rp|plane|pos" — the
    same driver-side derivation as ``similarity._plane_weights`` but a
    distinct seed namespace, so the projection basis is independent of
    the LSH bucket planes."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"rp|{p}|{d}".encode()).hexdigest()[:15], 16) % 2 == 1
            else -1.0
            for d in range(_RP_DIMS)
        ]
        for p in range(_RP_PLANES)
    ]


def _rp_oracle() -> str:
    """Literal left-to-right sums, one per output dimension — the exact
    double-precision fold order the Spark aggregate uses, so the two
    engines agree bit-for-bit before rounding."""
    w = _rp_weights()
    cols = []
    for p in range(_RP_PLANES):
        terms = " + ".join(
            f"({'' if w[p][d] > 0 else '-'}CAST(embedding[{d + 1}] AS DOUBLE))"
            for d in range(_RP_DIMS)
        )
        # + 0.0 pins −0.0 → +0.0: the ±1 sums are built to cancel, and
        # DuckDB round() preserves the sign of a −0.0 result where
        # Spark normalizes it (the degenerate-sweep class)
        cols.append(f"round({terms}, 6) + 0.0 AS p{p}")
    return f"SELECT vec_id, {', '.join(cols)} FROM embeddings"


def random_projection(emb: DataFrame) -> DataFrame:
    """Project 64-dim embeddings to 8 signed-sum coordinates.

    Achlioptas-style ±1 random projection with weights baked into the
    plan as literals: per output dim one index-ordered fold over the
    input vector — pure per-row codegen math, zero shuffles, zero
    Python. The real-valued companion to ``hyperplane_buckets`` (which
    keeps only the sign bit).
    """
    w = _rp_weights()
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cols = []
    for p in range(_RP_PLANES):
        wlit = double_array(w[p])
        proj = F.aggregate(
            F.zip_with(wlit, v, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append((F.round(proj, 6) + F.lit(0.0)).alias(f"p{p}"))
    return emb.select("vec_id", *cols)


@register(
    "embedding_random_projection",
    oracle=_rp_oracle(),
    tags=("embeddings", "projection", "extension"),
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-dim ±1 random projection of every embedding."""
    return random_projection(read_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Unigram LM log-probability (perplexity-style fluency filter)
# ---------------------------------------------------------------------------


@register(
    "unigram_logprob_score",
    oracle="""
        WITH toks AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ),
        corpus AS (
            SELECT tok,
                   count(*) / (SELECT count(*) FROM toks) AS p
            FROM toks GROUP BY tok
        )
        SELECT t.doc_id,
               count(*) AS n_tokens,
               round(-sum(log2(c.p)) / count(*), 6) + 0.0 AS bits_per_token
        FROM toks t JOIN corpus c ON t.tok = c.tok
        GROUP BY t.doc_id
    """,
    tags=("curation", "quality", "language-model", "extension"),
)
def q_unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bits-per-token under the corpus unigram LM — the
    cheapest member of the perplexity-filter family: documents whose
    token mix is improbable under the corpus distribution (gibberish,
    wrong-language, encoding noise) score high and get culled. A real
    pipeline swaps the unigram table for KenLM scores via mapInPandas;
    the Spark-side shape is identical.

    Two aggregations + one join, all keyed by token or doc: the corpus
    LM is vocabulary-sized and the token-probability join shuffles on
    the same token key that built the LM (co-partitioned). The total
    token count reaches the plan as a broadcast 1-row aggregate, not a
    driver constant.
    """
    toks = _tokens(read_table(spark, sf_dir, "documents"))
    total = toks.agg(F.count("*").alias("total"))
    corpus = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(total))
        .select("tok", (F.col("c") / F.col("total")).alias("p"))
    )
    return (
        toks.join(corpus, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            # +0.0 pins −0.0 → +0.0 (a single-token corpus makes every
            # p = 1, so the negated zero sum keeps DuckDB's sign bit
            # where Spark normalizes — the degenerate-sweep class)
            (F.round(-F.sum(F.log2("p")) / F.count("*"), 6) + F.lit(0.0)).alias(
                "bits_per_token"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Token co-occurrence PMI (collocation mining)
# ---------------------------------------------------------------------------

_PMI_MIN_PAIRS = 50


@register(
    "token_pmi_pairs",
    oracle=f"""
        WITH dt AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ),
        n_docs AS (SELECT count(DISTINCT doc_id) AS nd FROM dt),
        df AS (SELECT tok, count(*) AS dfv FROM dt GROUP BY tok),
        pairs AS (
            SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
            FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY a.tok, b.tok
        )
        SELECT p.tok_a, p.tok_b, p.n_ab,
               round(log2(
                   (p.n_ab / nd.nd) /
                   ((da.dfv / nd.nd) * (db.dfv / nd.nd))
               ), 6) AS pmi
        FROM pairs p
        JOIN df da ON p.tok_a = da.tok
        JOIN df db ON p.tok_b = db.tok
        CROSS JOIN n_docs nd
        WHERE p.n_ab >= {_PMI_MIN_PAIRS}
    """,
    tags=("curation", "collocation", "pmi", "extension"),
)
def q_token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level pointwise mutual information for token pairs —
    collocation mining over co-occurrence counts (PMI > 0 means the
    pair co-occurs more than independence predicts; the building block
    for phrase detection and embedding-free relatedness).

    The pair space is generated by a self-join on doc_id over the
    DISTINCT (doc, token) projection — per-doc fanout is bounded by
    the per-document TYPE count squared (tiny: types ≪ tokens), never
    raw token positions. The marginal (doc-frequency) table is
    vocabulary-sized — unbounded for raw text — so its equi-joins onto
    the pair counts are left to Catalyst/AQE rather than force-
    broadcast; only the 1-row document count keeps a forced broadcast.
    The support floor
    (n_ab ≥ {_PMI_MIN_PAIRS}) kills the noisy low-count tail exactly
    as the oracle does. At web scale you'd add a per-doc type cap
    before the self-join (the dedup hot-key pattern) — the synthetic
    corpus' 31-token vocabulary needs none.
    """
    dt = _tokens(read_table(spark, sf_dir, "documents")).distinct()
    nd = dt.agg(F.countDistinct("doc_id").alias("nd"))
    df_tok = dt.groupBy("tok").agg(F.count("*").alias("dfv"))
    a = dt.select("doc_id", F.col("tok").alias("tok_a"))
    b = dt.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= _PMI_MIN_PAIRS)
    )
    pmi = F.log2(
        (F.col("n_ab") / F.col("nd"))
        / ((F.col("da") / F.col("nd")) * (F.col("db") / F.col("nd")))
    )
    return (
        pairs.join(df_tok.select(F.col("tok").alias("tok_a"), F.col("dfv").alias("da")), "tok_a")
        .join(df_tok.select(F.col("tok").alias("tok_b"), F.col("dfv").alias("db")), "tok_b")
        .crossJoin(F.broadcast(nd))
        .select("tok_a", "tok_b", "n_ab", F.round(pmi, 6).alias("pmi"))
    )


# ---------------------------------------------------------------------------
# Winsorized robust mean (tail-clipped preprocessing)
# ---------------------------------------------------------------------------


@register(
    "winsorized_mean_value",
    oracle="""
        WITH cuts AS (
            SELECT event_type,
                   quantile_cont(value, 0.05) AS lo,
                   quantile_cont(value, 0.95) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               count(*) AS n,
               round(CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE)
                     / 100.0 / count(e.value), 6) AS raw_mean,
               round(CAST(sum(CAST(floor(
                          (CASE WHEN e.value < c.lo THEN c.lo
                                WHEN e.value > c.hi THEN c.hi
                                ELSE e.value END) * 1000000 + 0.5)
                          AS BIGINT)) AS DOUBLE)
                     / 1000000.0 / count(e.value), 6) AS winsorized_mean,
               count(CASE WHEN e.value < c.lo OR e.value > c.hi THEN 1 END)
                   AS n_clipped
        FROM events e JOIN cuts c USING (event_type)
        GROUP BY e.event_type
    """,
    tags=("events", "robust-stats", "winsorize", "extension"),
)
def q_winsorized_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type mean after clipping values to the [p5, p95] band — the
    winsorized estimator feature pipelines use when outliers are data,
    not errors (clip, don't drop). Exact interpolated percentiles
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``) computed per
    group, broadcast back onto the fact scan, clipped with a codegen
    CASE — the fact table is never shuffled.
    """
    events = read_table(spark, sf_dir, "events")
    cuts = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    v, lo, hi = F.col("value"), F.col("lo"), F.col("hi")
    clipped = F.when(v < lo, lo).when(v > hi, hi).otherwise(v)
    # round-11 money completion: raw mean on the exact cent grid; the
    # winsorized mean's terms are NOT 2-dp (clip boundaries are
    # interpolated percentiles), so each term quantizes to the 1e-6
    # micro-grid BEFORE the sum (the playbook cross-group-sum rule) —
    # both folds associative, both mirrored textually in the oracle
    raw_cents = F.round(v * 100).cast("long")
    win_micro = F.floor(clipped * 1000000 + F.lit(0.5)).cast("long")
    return (
        events.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(raw_cents).cast("double") / F.lit(100.0) / F.count("value"),
                6,
            ).alias("raw_mean"),
            F.round(
                F.sum(win_micro).cast("double")
                / F.lit(1000000.0)
                / F.count("value"),
                6,
            ).alias("winsorized_mean"),
            F.sum(((v < lo) | (v > hi)).cast("long")).alias("n_clipped"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square independence statistic (contingency analysis)
# ---------------------------------------------------------------------------


@register(
    "chi2_priority_status",
    oracle="""
        WITH obs AS (
            SELECT o_orderpriority AS p, o_orderstatus AS s,
                   CAST(count(*) AS DOUBLE) AS o
            FROM orders GROUP BY 1, 2
        ),
        rm AS (SELECT p, sum(o) AS rp FROM obs GROUP BY p),
        cm AS (SELECT s, sum(o) AS cs FROM obs GROUP BY s),
        tot AS (SELECT sum(o) AS t FROM obs)
        SELECT round(sum((obs.o - rm.rp * cm.cs / tot.t)
                       * (obs.o - rm.rp * cm.cs / tot.t)
                       / (rm.rp * cm.cs / tot.t)), 6) AS chi2,
               count(*) AS n_cells
        FROM obs JOIN rm USING (p) JOIN cm USING (s) CROSS JOIN tot
    """,
    tags=("agg", "statistics", "chi2", "extension"),
)
def q_chi2_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for independence of order priority
    and status: Σ (O−E)²/E over the contingency table, E from the
    broadcast row/column margins. The fact table reduces to |cells|
    rows in one hash agg; every later frame is margin-sized. (A large
    chi2 says the two dimensions are associated — the categorical
    drift / feature-interaction screen.)
    """
    orders = read_table(spark, sf_dir, "orders")
    obs = (
        orders.groupBy(
            F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
        )
        .agg(F.count("*").cast("double").alias("o"))
    )
    rm = obs.groupBy("p").agg(F.sum("o").alias("rp"))
    cm = obs.groupBy("s").agg(F.sum("o").alias("cs"))
    tot = obs.agg(F.sum("o").alias("t"))
    e = F.col("rp") * F.col("cs") / F.col("t")
    return (
        obs.join(F.broadcast(rm), "p")
        .join(F.broadcast(cm), "s")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias("chi2"),
            F.count("*").alias("n_cells"),
        )
    )


# ---------------------------------------------------------------------------
# Welch z-statistic: each group's mean vs the rest of the population
# ---------------------------------------------------------------------------


@register(
    "welch_z_by_event_type",
    # round-11 money completion: every moment is an EXACT integer-cent
    # fold (Sx BIGINT, Sx2 HUGEINT/decimal-38); z is computed entirely
    # in cents space (scale cancels), with ONE pinned double sequence
    # mirrored textually below and in the Spark kernel.
    oracle="""
        WITH g AS (
            SELECT event_type,
                   count(*) AS n1,
                   sum(CAST(round(value * 100) AS BIGINT)) AS s1,
                   sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(value * 100) AS BIGINT)) AS q1
            FROM events GROUP BY event_type
        ),
        tot AS (
            SELECT count(*) AS nt,
                   sum(CAST(round(value * 100) AS BIGINT)) AS st,
                   sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(value * 100) AS BIGINT)) AS qt
            FROM events
        ),
        d AS (
            SELECT g.event_type, g.n1,
                   CAST(g.s1 AS DOUBLE) / g.n1 AS m1c,
                   CASE WHEN tot.nt - g.n1 > 0 THEN
                       CAST(tot.st - g.s1 AS DOUBLE) / (tot.nt - g.n1)
                   END AS mrc,
                   CASE WHEN g.n1 > 1 THEN
                       CAST(CAST(g.n1 AS HUGEINT) * g.q1
                            - CAST(g.s1 AS HUGEINT) * g.s1 AS DOUBLE)
                           / (CAST(g.n1 AS DOUBLE) * (g.n1 - 1))
                   END AS v1c,
                   CASE WHEN tot.nt - g.n1 > 1 THEN
                       CAST(CAST(tot.nt - g.n1 AS HUGEINT) * (tot.qt - g.q1)
                            - CAST(tot.st - g.s1 AS HUGEINT) * (tot.st - g.s1)
                            AS DOUBLE)
                           / (CAST(tot.nt - g.n1 AS DOUBLE)
                              * (tot.nt - g.n1 - 1))
                   END AS vrc,
                   tot.nt
            FROM g CROSS JOIN tot
        )
        SELECT event_type, n1,
               round(m1c / 100.0, 6) AS mean_g,
               round(mrc / 100.0, 6) AS mean_rest,
               round((m1c - mrc) / sqrt(v1c / n1 + vrc / (nt - n1)), 4) + 0 AS z
        FROM d
    """,
    tags=("events", "statistics", "hypothesis-test", "extension"),
)
def q_welch_z_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch z-statistic of each event type's mean value against the
    REST of the population — the one-vs-rest drift screen (|z| >> 0
    flags a type whose value distribution shifted). The rest-group's
    mean and sample variance are derived algebraically from (n, Σx,
    Σx²) of the total minus the group — one grouped aggregate plus one
    1-row total broadcast, no second scan and no self-join, which is
    the trick that keeps one-vs-rest linear at any group count.
    """
    events = read_table(spark, sf_dir, "events")
    # round-11 money completion: exact integer-cent moments; z in
    # cents space (scale-invariant), pinned double sequence mirrored
    # textually in the oracle
    cents = F.round(F.col("value") * 100).cast("long")
    dec = "decimal(38,0)"
    g = events.groupBy("event_type").agg(
        F.count("*").alias("n1"),
        F.sum(cents).alias("s1"),
        F.sum(cents.cast(dec) * cents).alias("q1"),
    )
    tot = events.agg(
        F.count("*").alias("nt"),
        F.sum(cents).alias("st"),
        F.sum(cents.cast(dec) * cents).alias("qt"),
    )
    n1, s1, q1 = (F.col(c) for c in ("n1", "s1", "q1"))
    nt, st, qt = (F.col(c) for c in ("nt", "st", "qt"))
    nr = nt - n1
    m1c = s1.cast("double") / n1
    # CASE guards mirror the old var_samp NULL-at-n<=1 semantics (and
    # keep ANSI division-by-zero out of the one-event-type degenerate
    # corpus — the round-11 degenerate sweep's catch)
    mrc = F.when(nr > 0, (st - s1).cast("double") / nr)
    v1c = F.when(
        n1 > 1,
        (n1.cast(dec) * q1 - s1.cast(dec) * s1).cast("double")
        / (n1.cast("double") * (n1 - 1)),
    )
    vrc = F.when(
        nr > 1,
        (nr.cast(dec) * (qt - q1) - (st - s1).cast(dec) * (st - s1)).cast(
            "double"
        )
        / (nr.cast("double") * (nr - 1)),
    )
    z = (m1c - mrc) / F.sqrt(v1c / n1 + vrc / nr)
    return g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n1",
        F.round(m1c / 100.0, 6).alias("mean_g"),
        F.round(mrc / 100.0, 6).alias("mean_rest"),
        (F.round(z, 4) + F.lit(0.0)).alias("z"),  # +0 folds -0.0 to 0.0
    )


# ---------------------------------------------------------------------------
# Percentile-band length filter — trim the length-distribution tails
# ---------------------------------------------------------------------------


@register(
    "length_band_filter",
    oracle="""
        WITH bounds AS (
            SELECT quantile_cont(n_chars, 0.05) AS lo,
                   quantile_cont(n_chars, 0.95) AS hi
            FROM documents
        )
        SELECT lang,
               count(*) AS n_kept,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
               ROUND(any_value(lo), 4) AS lo,
               ROUND(any_value(hi), 4) AS hi
        FROM documents, bounds
        WHERE n_chars BETWEEN lo AND hi
        GROUP BY lang
    """,
    tags=("quality", "filter", "percentile", "extension"),
)
def q_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-tail trim: keep documents whose length lies within
    the global [p05, p95] band and report per-language survivors — the
    standard "too short to be prose / too long to be one document"
    curation filter, with data-derived (not hand-tuned) cutoffs.

    The two exact interpolated percentiles (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``) collapse the corpus to ONE broadcast row;
    the filter itself is then a scan-local predicate on the pruned
    (lang, n_chars) projection — no shuffle touches document text.
    """
    docs = read_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    return (
        docs.select("lang", "n_chars")
        .crossJoin(F.broadcast(bounds))
        .where(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.round(F.first("lo"), 4).alias("lo"),
            F.round(F.first("hi"), 4).alias("hi"),
        )
    )
