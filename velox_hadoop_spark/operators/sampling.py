"""Deterministic sampling & dataset-split operators. [extension]

Training-data curation needs sampling that is (a) reproducible across
runs and engines, (b) stable under repartitioning, and (c) cheap at
100 TB. ``df.sample()`` satisfies none of these (seeded per-partition
RNG — results change with partitioning), so every operator here keys
off the cross-engine 60-bit MD5 hash (``functions/hashing.py``): a row
is sampled iff ``hash(seed|key) % N < threshold``. That is a pure
narrow projection + filter — no shuffle, no state, pushed into the
scan — and the DuckDB oracle evaluates the identical formula.

Not in the reference (its only row-dropping is malformed-line skips,
reference: src/main/java/org/dicl/velox/benchmark/PreMapper.java:22-25).

Scale notes: percent/stratified/split sampling are shuffle-free map
operators. ``capped_per_group`` ranks by hash within each group — one
shuffle on the group key; for bounded caps at 100 TB this is the
standard "max k docs per domain" balancing pass.
"""

from __future__ import annotations

from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions.hashing import (
    duck_bucket,
    duck_md5_int60,
    seeded,
    spark_bucket,
    spark_md5_int60,
)
from velox_hadoop_spark.plans.registry import register

SEED = "split42"


def _bucket_expr_spark(key: str) -> F.Column:
    """0..n-1 bucket from the cross-engine hash (JVM-side, codegen)."""
    return F.expr(spark_bucket(key, SEED, 100))


def _bucket_expr_duck(key: str) -> str:
    return duck_bucket(key, SEED, 100)


def deterministic_sample(df: DataFrame, key: str, pct: int) -> DataFrame:
    """Keep ~pct% of rows, chosen by hash bucket of ``key``.

    Partitioning-independent and repeatable: the same row is kept in
    every run on every engine (unlike ``df.sample``)."""
    return df.where(_bucket_expr_spark(key) < pct)


def assign_split(df: DataFrame, key: str, train_pct: int = 80) -> DataFrame:
    """Label each row train/test by hash bucket — a disjoint,
    exhaustive, reproducible split (the leakage-safe way to split a
    corpus: membership depends only on the key, never on row order)."""
    return df.withColumn(
        "split",
        F.when(_bucket_expr_spark(key) < train_pct, F.lit("train")).otherwise(
            F.lit("test")
        ),
    )


def stratified_sample(
    df: DataFrame, strata: str, key: str, fractions: dict[str, int]
) -> DataFrame:
    """Per-stratum sampling rates (percent per stratum value), e.g.
    downsample dominant languages while keeping the tail whole."""
    # nested CASE of per-value thresholds, default 0 (unlisted strata drop)
    pct_col = F.lit(0)
    for value, p in fractions.items():
        pct_col = F.when(F.col(strata) == value, p).otherwise(pct_col)
    return df.where(_bucket_expr_spark(key) < pct_col)


def capped_per_group(df: DataFrame, group: str, key: str, cap: int) -> DataFrame:
    """At most ``cap`` rows per group, chosen by hash order (determin-
    istic, unbiased within the group). The balancing pass that stops a
    single domain/language from dominating a training mix.

    Scale shape: ``group`` ("source") has O(1) cardinality, so a
    single window partitioned by it is a whole-group single-task sort
    at data scale. The rank runs as the staged two-pass top-k
    (``staged_topk_per_group``): per-(group, input-partition) top-cap
    first — each sort bounded by a scan partition — then a final rank
    over ≤ cap × n_partitions survivors per group. Identical output
    (the per-partition top-cap always contains the global top-cap)."""
    from velox_hadoop_spark.functions.staged import staged_topk_per_group

    order = F.expr(spark_md5_int60(seeded(key, SEED)))
    return staged_topk_per_group(
        df.withColumn("__ord", order), [group], ["__ord", key], cap
    ).drop("__ord")


@register(
    "sample_documents_10pct",
    oracle=f"""
        SELECT doc_id, lang, source
        FROM documents
        WHERE {_bucket_expr_duck("doc_id")} < 10
    """,
    tags=("sampling", "deterministic", "extension"),
)
def q_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% hash-sample of documents — shuffle-free, engine-portable."""
    return deterministic_sample(read_table(spark, sf_dir, "documents"), "doc_id", 10).select(
        "doc_id", "lang", "source"
    )


@register(
    "train_test_split_counts",
    oracle=f"""
        SELECT CASE WHEN {_bucket_expr_duck("doc_id")} < 80
                    THEN 'train' ELSE 'test' END AS split,
               count(*) AS n_docs
        FROM documents GROUP BY split
    """,
    tags=("sampling", "split", "extension"),
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/20 hash split of the corpus, counted per side."""
    return (
        assign_split(read_table(spark, sf_dir, "documents"), "doc_id", 80)
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )


_STRATA = MappingProxyType({"en": 20, "de": 100, "fr": 100, "es": 100, "zh": 50})


@register(
    "stratified_sample_by_lang",
    oracle=f"""
        SELECT doc_id, lang
        FROM documents
        WHERE {_bucket_expr_duck("doc_id")} <
              CASE lang {" ".join(f"WHEN '{v}' THEN {p}" for v, p in _STRATA.items())}
                   ELSE 0 END
    """,
    tags=("sampling", "stratified", "extension"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified sample: downsample dominant 'en' to 20%,
    'zh' to 50%, keep the tail languages whole."""
    return stratified_sample(read_table(spark, sf_dir, "documents"), "lang", "doc_id", _STRATA).select(
        "doc_id", "lang"
    )


@register(
    "capped_docs_per_source",
    oracle=f"""
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY {duck_md5_int60(seeded("doc_id", SEED))}, doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= 40
    """,
    tags=("sampling", "balancing", "extension"),
)
def q_capped_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance the corpus: at most 40 docs per source, hash-ordered."""
    return capped_per_group(read_table(spark, sf_dir, "documents"), "source", "doc_id", 40).select(
        "doc_id", "source"
    )


WS_SEED = "wsample17"
WS_MOD = 1000003  # prime modulus for the uniform-in-(0,1) hash draw
WS_K = 50


def weighted_sample(
    df: DataFrame, key: str, weight: str, k: int
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): keep the k rows with the smallest
    ``-ln(u) / weight`` where u is a uniform draw derived from the
    cross-engine hash of ``key``.

    Inclusion probability is proportional to weight (here: sample
    long documents more often, the token-mass-proportional draw a
    training mix uses). Like every sampler in this module it is
    partitioning-independent and engine-portable; selection is a
    narrow projection + TakeOrderedAndProject — no shuffle, no RNG
    state, reproducible on any cluster layout.
    """
    u = (
        (F.expr(spark_md5_int60(seeded(key, WS_SEED))) % WS_MOD + 1)
        / F.lit(float(WS_MOD + 1))
    )
    # weight > 0 guard: A-ES gives a zero-weight row inclusion
    # probability 0, which the division cannot express — unguarded,
    # ANSI Spark raises DIVIDE_BY_ZERO while DuckDB yields a NULL key
    # that sorts NULLS-LAST in its asc top-k but NULLS-FIRST in
    # Spark's (sampled with probability 1!). Filtering is the exact
    # semantics (round-9 review find).
    keyed = df.where(F.col(weight) > 0).withColumn(
        "sample_key", -F.log(u) / F.col(weight)
    )
    from velox_hadoop_spark.operators.sort import top_k

    return top_k(keyed, k, F.asc("sample_key"), F.asc(key))


def _ws_key_duck() -> str:
    return (
        f"-ln((({duck_md5_int60(seeded('doc_id', WS_SEED))}) % {WS_MOD} + 1)"
        f" / {float(WS_MOD + 1)}) / n_chars"
    )


@register(
    "weighted_sample_docs",
    oracle=f"""
        SELECT doc_id, source, n_chars, ROUND(k, 6) AS sample_key
        FROM (
            SELECT doc_id, source, n_chars, {_ws_key_duck()} AS k
            FROM documents WHERE n_chars > 0
        ) ORDER BY k, doc_id LIMIT {WS_K}
    """,
    tags=("sampling", "weighted", "extension"),
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sample of 50 documents (longer
    docs proportionally more likely — the token-mass draw)."""
    picked = weighted_sample(read_table(spark, sf_dir, "documents"), "doc_id", "n_chars", WS_K)
    return picked.select(
        "doc_id", "source", "n_chars", F.round("sample_key", 6).alias("sample_key")
    )
