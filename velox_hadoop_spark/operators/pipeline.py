"""End-to-end corpus-curation pipeline. [extension]

Composes the curation operators into the pipeline a training-data run
actually executes — quality gate → exact dedup (keeper only) →
deterministic downsample → context-window chunking → per-language
accounting — as ONE lazy DataFrame plan. Each stage is an operator
from its own module (`textstats`, `dedup`, `sampling`); this module
contributes no new logic, it proves the operators compose and gives
the driver a single oracle over the whole chain.

Scale notes: the chain is filter (pushed to the scan) → one hash agg +
semi-join for the dedup keeper → shuffle-free hash sample → narrow
chunk explode → final partial+final agg. Nothing quadratic, nothing
driver-side; the widest intermediate is the chunk explode, whose size
is corpus_tokens / stride — linear in input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions.hashing import duck_md5_int60, seeded
from velox_hadoop_spark.operators.sampling import SEED, deterministic_sample
from velox_hadoop_spark.operators.textstats import CHUNK_TOKENS, _STRIDE, chunk_documents
from velox_hadoop_spark.plans.registry import register

MIN_CHARS = 200      # quality gate
SAMPLE_PCT = 50      # post-dedup downsample


def curate(docs: DataFrame) -> DataFrame:
    """quality gate → exact-dedup keepers → hash sample → chunk →
    per-language chunk/token accounting."""
    quality = docs.where(F.col("n_chars") >= MIN_CHARS)
    keepers = (
        quality.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = quality.join(keepers, "doc_id", "left_semi")
    sampled = deterministic_sample(deduped, "doc_id", SAMPLE_PCT)
    # lang rides THROUGH the chunk explode: the former re-join against
    # sampled recomputed the whole scan→quality→dedup→sample subtree a
    # second time (different column pruning on each branch defeats
    # ReuseExchange)
    with_lang = chunk_documents(
        sampled.select("doc_id", "lang", "text"), passthrough=["lang"]
    )
    return with_lang.groupBy("lang").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@register(
    "curation_pipeline_stats",
    oracle=f"""
        WITH quality AS (
            SELECT * FROM documents WHERE n_chars >= {MIN_CHARS}
        ),
        keepers AS (
            SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
        ),
        sampled AS (
            SELECT q.doc_id, q.lang, q.text
            FROM quality q JOIN keepers k ON q.doc_id = k.doc_id
            WHERE {duck_md5_int60(seeded("q.doc_id", SEED))} % 100 < {SAMPLE_PCT}
        ),
        chunks AS (
            SELECT doc_id, lang,
                   len(string_split_regex(
                       array_to_string(w[1 + i * {_STRIDE} : i * {_STRIDE} + {CHUNK_TOKENS}], ' '),
                       '\\s+')) AS n_tokens
            FROM (SELECT doc_id, lang, string_split_regex(text, '\\s+') AS w
                  FROM sampled)
            CROSS JOIN UNNEST(generate_series(0,
                CAST(ceil(greatest(len(w), 1) / {_STRIDE}.0) AS BIGINT) - 1)) AS s(i)
            WHERE 1 + i * {_STRIDE} <= greatest(len(w), 1)
        )
        SELECT lang, count(*) AS n_chunks,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               count(DISTINCT doc_id) AS n_docs
        FROM chunks GROUP BY lang
    """,
    tags=("llm", "pipeline", "composition", "extension"),
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full curation chain over documents, accounted per language."""
    docs = read_table(spark, sf_dir, "documents")
    return curate(docs)
