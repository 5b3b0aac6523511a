"""Lexical retrieval & behavioral-similarity operators. [extension]

BM25 document scoring and user-profile cosine similarity — the two
retrieval primitives a training-data pipeline uses to (a) pull
topically relevant documents out of a crawl for targeted mixes and
(b) group users/sessions by behavioral signature. Not present in the
reference (its text surface stops at grep/wordcount,
reference: src/main/java/org/dicl/velox/benchmark/Grep.java,
WordCount.java); both are first-class here.

Scale notes:

* BM25: the corpus-sized stream (tokens) is aggregated twice — once
  for per-doc length, once for per-doc query-term frequency — and the
  query-term side is FILTERED before its groupBy, so the expensive
  shuffle carries only rows matching the (tiny) query vocabulary. The
  collection statistics (N, avgdl, per-term df/idf) are 1-row /
  |query|-row aggregates broadcast back onto the doc stream: no
  second corpus shuffle. Top-k lands in TakeOrderedAndProject — no
  total sort.
* Profile cosine: the all-pairs self-join on event_type is quadratic
  in users per type, so the candidate set is first capped to the
  ``ACTIVE_CAP`` most-active users (deterministic tiebreak) — the
  bounded-candidate regime. At real scale the unbounded variant
  routes through hyperplane LSH bucketing exactly like the embedding
  stack (operators/similarity.py:139).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.sort import top_k
from velox_hadoop_spark.plans.registry import register

# BM25 constants (standard Robertson/Sparck-Jones defaults).
BM25_K1 = 1.2
BM25_B = 0.75
QUERY_TERMS = ("spark", "sort", "hash")
TOP_DOCS = 20

ACTIVE_CAP = 200  # max users entering the all-pairs profile join
TOP_PAIRS = 20


def bm25_scores(
    docs: DataFrame,
) -> DataFrame:
    """Per-document BM25 score for a bag of query terms.

    idf uses the +1-smoothed Robertson form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` (non-negative for any df).
    Returns (id, score) for every document containing >=1 query term.
    """
    tokens = docs.select(
        F.col("doc_id"), F.explode(F.split(F.col("text"), r"\s+")).alias("term")
    ).where(F.col("term") != "")
    dl = tokens.groupBy("doc_id").agg(F.count("*").alias("dl"))
    # Collection stats: one row (N docs, mean doc length) — broadcast.
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qtok = tokens.where(F.col("term").isin(*QUERY_TERMS))
    qtf = qtok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = qtok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = df_.crossJoin(F.broadcast(stats.select("n_docs"))).select(
        "term",
        F.log(
            1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    per_term = (
        qtf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .join(F.broadcast(idf), "term")
        .select(
            F.col("doc_id"),
            (
                F.col("idf")
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1 * ((1.0 - BM25_B) + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    return per_term.groupBy("doc_id").agg(F.sum("s").alias("score"))


@register(
    "bm25_top_docs",
    oracle=rf"""
        WITH tok AS (
            SELECT doc_id, t AS term FROM (
                SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
                FROM documents
            ) WHERE t <> ''
        ),
        dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
        ),
        qtok AS (SELECT * FROM tok WHERE term IN ('spark', 'sort', 'hash')),
        qtf AS (
            SELECT doc_id, term, count(*) AS tf FROM qtok GROUP BY doc_id, term
        ),
        idf AS (
            SELECT term,
                   ln(1.0 + ((SELECT n_docs FROM stats) - count(DISTINCT doc_id) + 0.5)
                          / (count(DISTINCT doc_id) + 0.5)) AS idf
            FROM qtok GROUP BY term
        ),
        scored AS (
            SELECT q.doc_id,
                   sum(idf.idf * (q.tf * {BM25_K1 + 1.0})
                       / (q.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl
                                              / (SELECT avgdl FROM stats)))) AS score
            FROM qtf q
            JOIN dl ON q.doc_id = dl.doc_id
            JOIN idf ON q.term = idf.term
            GROUP BY q.doc_id
        )
        SELECT doc_id, ROUND(score, 6) AS bm25
        FROM scored ORDER BY score DESC, doc_id LIMIT {TOP_DOCS}
    """,
    tags=("retrieval", "bm25", "extension"),
)
def q_bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for the query {spark, sort, hash}."""
    docs = read_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs)
    ranked = top_k(scored, TOP_DOCS, F.desc("score"), F.asc("doc_id"))
    return ranked.select("doc_id", F.round("score", 6).alias("bm25"))


def user_profile_cosine(
    events: DataFrame,
) -> DataFrame:
    """Cosine similarity between users' event-type count vectors.

    Profiles are sparse count vectors over the feature column; the dot
    product is an equi-join on the feature. The candidate set is the
    ``ACTIVE_CAP`` most-active users (deterministic tiebreak on user
    id), bounding the self-join fanout at cap^2 per feature.
    """
    active = top_k(
        events.groupBy("user_id").agg(F.count("*").alias("n")),
        ACTIVE_CAP,
        F.desc("n"),
        F.asc("user_id"),
    ).select("user_id")
    prof = (
        events.join(F.broadcast(active), "user_id")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("c"))
    )
    nrm = prof.groupBy("user_id").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nv")
    )
    a = prof.select(
        F.col("user_id").alias("user_a"), F.col("event_type").alias("f"), F.col("c").alias("ca")
    )
    b = prof.select(
        F.col("user_id").alias("user_b"), F.col("event_type").alias("f"), F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "f")
        .where(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    return (
        dots.join(nrm.select(F.col("user_id").alias("user_a"), F.col("nv").alias("na")), "user_a")
        .join(nrm.select(F.col("user_id").alias("user_b"), F.col("nv").alias("nb")), "user_b")
        .select(
            "user_a",
            "user_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos"),
        )
    )


@register(
    "user_profile_cosine",
    oracle=f"""
        WITH active AS (
            SELECT user_id FROM events GROUP BY user_id
            ORDER BY count(*) DESC, user_id LIMIT {ACTIVE_CAP}
        ),
        prof AS (
            SELECT e.user_id, e.event_type, count(*) AS c
            FROM events e JOIN active a ON e.user_id = a.user_id
            GROUP BY e.user_id, e.event_type
        ),
        nrm AS (SELECT user_id, sqrt(sum(c * c)) AS nv FROM prof GROUP BY user_id),
        dots AS (
            SELECT a.user_id AS user_a, b.user_id AS user_b, sum(a.c * b.c) AS dot
            FROM prof a
            JOIN prof b ON a.event_type = b.event_type AND a.user_id < b.user_id
            GROUP BY a.user_id, b.user_id
        )
        SELECT user_a, user_b,
               ROUND(dot / (na.nv * nb.nv), 6) AS cos_sim
        FROM dots
        JOIN nrm na ON dots.user_a = na.user_id
        JOIN nrm nb ON dots.user_b = nb.user_id
        ORDER BY dot / (na.nv * nb.nv) DESC, user_a, user_b
        LIMIT {TOP_PAIRS}
    """,
    tags=("retrieval", "similarity", "extension"),
)
def q_user_profile_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most behaviorally similar user pairs (event-type count
    vectors, cosine)."""
    ev = read_table(spark, sf_dir, "events")
    sims = user_profile_cosine(ev)
    ranked = top_k(sims, TOP_PAIRS, F.desc("cos"), F.asc("user_a"), F.asc("user_b"))
    return ranked.select("user_a", "user_b", F.round("cos", 6).alias("cos_sim"))
