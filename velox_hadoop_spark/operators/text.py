"""Text pipeline operators: tokenize/explode, regex grep, wordcount.

Re-expresses the reference's text benchmarks Spark-first:

  * wordcount — reference: src/main/java/org/dicl/velox/benchmark/
    WordCount.java:38-68 (TokenizerMapper + IntSumReducer with combiner).
    Here: ``explode(split(...))`` + ``groupBy().count()`` — Tungsten's
    hash aggregate does the partial (map-side) + final split the
    combiner hand-wired.
  * aggregate wordcount — reference: AggregateWordCount.java:47-64
    (ValueAggregator LONG_VALUE_SUM plugin). Here: grouped sum.
  * grep — reference: Grep.java:62-100 (two chained MR jobs: regex
    extract+count, then single-reducer sort). Here: one lazy plan;
    the sort is a parallel range-partitioned orderBy, not a
    1-reducer bottleneck.

Scale notes: tokenization is a generated-column explode inside
whole-stage codegen (no Python); the groupBy shuffles only (token,
partial_count) pairs after map-side combine, so shuffle volume is
bounded by distinct-token cardinality per partition, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register

WS = r"\s+"


def tokenize(df: DataFrame, col: str = "text") -> DataFrame:
    """Line -> one row per token (reference: WordCount.java:44-51).

    Empty tokens (leading/trailing separators) are dropped, matching
    ``StringTokenizer`` semantics.
    """
    return (
        df.select(F.explode(F.split(F.col(col), WS)).alias("word"))
        .where(F.col("word") != "")
    )


def wordcount(df: DataFrame, col: str = "text") -> DataFrame:
    """Grouped token counts with automatic partial+final aggregation."""
    return tokenize(df, col).groupBy("word").agg(F.count("*").alias("cnt"))


def grouped_wordcount(df: DataFrame, group_col: str, col: str = "text") -> DataFrame:
    """Aggregate-wordcount semantics: long sums keyed by (group, token)."""
    tokens = (
        df.select(F.col(group_col), F.explode(F.split(F.col(col), WS)).alias("word"))
        .where(F.col("word") != "")
    )
    return tokens.groupBy(group_col, "word").agg(
        F.sum(F.lit(1)).cast("long").alias("total")
    )


def grep(df: DataFrame, col: str, pattern: str, group: int = 0) -> DataFrame:
    """Regex extract-all + count + order desc (reference: Grep.java:62-100).

    Emits every match of ``pattern`` in ``col`` — or, when ``group`` > 0,
    the text of that capture group per match (reference: RegexMapper
    honors an optional GROUP config, Grep.java:58-60 +
    RegexMapper.java) — counts per distinct extraction, and orders by
    count descending (ties broken by the match string so the output is
    totally ordered — the reference relied on a single reducer for
    this; Spark range-partitions the sort).
    """
    matches = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.col(col), F.lit(pattern), F.lit(group))
            ).alias("match")
        )
        .where(F.col("match") != "")
    )
    return (
        matches.groupBy("match")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("match"))
    )


# ---------------------------------------------------------------------------
# Registered queries (documents table; oracles in DuckDB SQL)
# ---------------------------------------------------------------------------

_GREP_PATTERN = "s[a-z]+"  # words/suffixes starting with 's' (char-class only: identical semantics in Java regex & RE2)


@register(
    "wordcount",
    oracle=r"""
        SELECT word, count(*) AS cnt
        FROM (
            SELECT unnest(string_split_regex(text, '\s+')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    """,
    tags=("text", "reference:WordCount.java:38-68"),
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return wordcount(docs, "text")


@register(
    "aggregate_wordcount",
    oracle=r"""
        SELECT source, word, CAST(count(*) AS BIGINT) AS total
        FROM (
            SELECT source, unnest(string_split_regex(text, '\s+')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY source, word
    """,
    tags=("text", "reference:AggregateWordCount.java:47-88"),
)
def q_aggregate_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return grouped_wordcount(docs, "source", "text")


@register(
    "pandas_udf_normalize",
    oracle=r"""
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
               CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        FROM documents
    """,
    tags=("udf", "pandas", "reference:§2.11"),
)
def q_pandas_udf_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization through the Arrow/pandas UDF boundary.

    Intentionally ALSO expressible as builtins (see oracle) so the
    Python boundary itself is correctness-checked.
    """
    from velox_hadoop_spark.functions.udfs import normalize_text as norm

    docs = read_table(spark, sf_dir, "documents")
    # one UDF evaluation per row: deriving the length from the aliased
    # column (second projection) halves the Arrow boundary traffic vs
    # invoking the UDF again inside length()
    return docs.select("doc_id", norm(F.col("text")).alias("norm_text")).select(
        "doc_id",
        "norm_text",
        F.length("norm_text").cast("long").alias("n_chars_norm"),
    )


@register(
    "grep",
    oracle=rf"""
        SELECT match, count(*) AS cnt
        FROM (
            SELECT unnest(regexp_extract_all(text, '{_GREP_PATTERN}')) AS match
            FROM documents
        )
        WHERE match <> ''
        GROUP BY match
        ORDER BY cnt DESC, match ASC
    """,
    tags=("text", "reference:Grep.java:62-100"),
)
def q_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return grep(docs, "text", _GREP_PATTERN)


# Capture-group grep: count the stem of every "-er" word (customer →
# custom, filter → filt, order → ord). Greedy [a-z]+ then mandatory
# "er" — Java regex (Spark) backtracks and RE2 (DuckDB) emulates
# leftmost-first capture the same way, so group(1) is engine-portable.
_GREP_GROUP_PATTERN = "([a-z]+)er"


@register(
    "grep_capture_group",
    oracle=rf"""
        SELECT match, count(*) AS cnt
        FROM (
            SELECT unnest(regexp_extract_all(text, '{_GREP_GROUP_PATTERN}', 1)) AS match
            FROM documents
        )
        WHERE match <> ''
        GROUP BY match
        ORDER BY cnt DESC, match ASC
    """,
    tags=("text", "reference:Grep.java:58-60", "reference:RegexMapper"),
)
def q_grep_capture_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grep with GROUP extraction: per-match capture group 1 is counted
    instead of the whole match (reference RegexMapper GROUP config)."""
    docs = read_table(spark, sf_dir, "documents")
    return grep(docs, "text", _GREP_GROUP_PATTERN, group=1)


@register(
    "udaf_geomean_price",
    oracle="""
        SELECT l_returnflag,
               ROUND(exp(avg(ln(l_extendedprice))), 4) AS geomean_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("udf", "udaf", "pandas", "reference:§2.11"),
)
def q_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF surface): geometric mean of
    extended price per return flag, cross-checked against the
    exp(avg(ln)) builtin identity in the oracle."""
    from velox_hadoop_spark.functions.udfs import geomean

    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(geomean("l_extendedprice"), 4).alias("geomean_price")
    )


@register(
    "udtf_word_bigrams",
    oracle=r"""
        WITH words AS (
            SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
        ),
        bg AS (
            SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram
            FROM words
            CROSS JOIN UNNEST(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
        )
        SELECT doc_id,
               count(*) AS n_bigrams,
               count(DISTINCT bigram) AS n_distinct
        FROM bg GROUP BY doc_id
    """,
    tags=("udtf", "text", "extension"),
)
def q_udtf_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (SURVEY §2.11): a table function emitting
    consecutive word bigrams per document, consumed through a LATERAL
    join and aggregated to per-document bigram counts.

    The UDTF is the row-at-a-time Python table-function boundary —
    called here on the DataFrame to prove the full lateral-join
    plumbing (outer-column correlate → generate → aggregate) without
    registering a session function. It is NOT the hot path
    for this computation: the equivalent JVM form is the shingle
    pipeline in ``operators/dedup.py`` (array expr + explode, zero
    Python), which is what every production dedup query here uses.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, bigram string")
    class WordBigrams:
        def eval(self, text: str):  # noqa: ANN001 - Spark UDTF contract
            import re as _re

            # regex split, NOT str.split(): leading/trailing whitespace
            # must yield the same empty-token behavior as the oracle's
            # string_split_regex (and F.split everywhere else)
            ws = _re.split(r"\s+", text or "")
            for i in range(len(ws) - 1):
                yield i, ws[i] + " " + ws[i + 1]

    docs = read_table(spark, sf_dir, "documents").alias("d")
    return (
        docs.lateralJoin(WordBigrams(F.col("d.text").outer()))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.count_distinct("bigram").alias("n_distinct"))
    )
