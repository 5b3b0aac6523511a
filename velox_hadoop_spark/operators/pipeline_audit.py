"""Pipeline observability audits, round 12. [extension]

The operational read-outs a 100 TB curation pipeline watches next to
the operators this repo already runs: IVF cell balance (the knob an
ANN index tunes), embedding-corpus health (how much of the corpus the
cosine kernels can actually use), hot-key guard observability (what
the drop_hot_keys caps actually dropped), and the LSH band bucket-load
profile (the distribution the MAX_KEY_DOC_FREQ cap bounds). Every
query is a plain aggregate over existing kernels' own derivations —
no new semantics, exact-integer or 6dp-rounded outputs, DuckDB oracles
mirroring the shared CTE fragments the source operators already use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions import hashing as H
from velox_hadoop_spark.functions.vectors import to_double
from velox_hadoop_spark.operators.dedup import (
    _BAND_KEYS,
    MAX_KEY_DOC_FREQ,
    SHINGLE_K,
    _docs_par,
    _duck_minhash_cte,
    lsh_bands,
    minhash_signature_inline,
    shingle_set,
)
from velox_hadoop_spark.operators.graph import (
    TRIANGLE_PART_CAP,
    co_supply_capped_edges,
)
from velox_hadoop_spark.operators.graph2 import _EDGE_CTES
from velox_hadoop_spark.operators.similarity import (
    IVF_CENTROIDS,
    ivf_assign,
    ivf_codebook,
)
from velox_hadoop_spark.plans.registry import register

# Magnitude bound for the norm-profile 1e-6 grid: floor(x*1e6 + 0.5)
# must stay inside BIGINT in BOTH engines (Spark cast saturates,
# DuckDB raises). 9e12 * 1e6 = 9e18 < 2^63-1.
_NORM_GRID_MAX = 9e12

# The assignment CTE chain shared with ann_ivf_recall / ann_hard_
# negatives (restated so this module's oracles stay independently
# auditable, same convention as graph2._EDGE_CTES).
_IVF_ASSIGN_CTES = """
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE embedding IS NOT NULL
                AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[])) > 0),
        cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                  ORDER BY vec_id LIMIT 8),
        scored AS (
            SELECT e.vec_id, c.centroid_id,
                   ROUND(list_dot_product(e.v, c.cv) /
                         (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(c.cv, c.cv))), 6) + 0.0 AS sim
            FROM e CROSS JOIN cents c
        ),
        assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY sim DESC, centroid_id
                ) AS rn FROM scored
            ) WHERE rn = 1
        )
"""


@register(
    "ivf_cell_balance_report",
    oracle=f"""
        WITH {_IVF_ASSIGN_CTES}
        SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
               CAST(count(*) AS BIGINT) AS n_members,
               ROUND(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM assign),
                     6) AS share
        FROM assign GROUP BY centroid_id
    """,
    tags=("similarity", "ivf", "observability", "extension"),
)
def q_ivf_cell_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-centroid cell occupancy of the IVF coarse quantizer — the
    balance read-out an IVF index is tuned against (a skewed codebook
    makes one cell the single-task/memory hazard the salted cogroup in
    ``ann_ivf_topk`` exists to absorb; at 100 TB you re-train centroids
    when max(share) drifts). Rides the production ``ivf_assign`` path
    (driver-local literal codebook, in-row argmax — no shuffle) plus
    one |corpus|-row grouped count; share is a ratio of exact integers
    rounded at 6dp."""
    emb = read_table(spark, sf_dir, "embeddings")
    assign = ivf_assign(emb, ivf_codebook(emb, IVF_CENTROIDS))
    tot = assign.agg(F.count("*").alias("t"))
    return (
        assign.groupBy("centroid_id")
        .agg(F.count("*").alias("n_members"))
        .crossJoin(tot)
        .select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.round(
                F.col("n_members") / F.col("t").cast("double"), 6
            ).alias("share"),
        )
    )


@register(
    "embedding_corpus_health",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(sum(CASE WHEN embedding IS NOT NULL AND len(embedding) = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
               -- multi-branch CASE, not `IS NOT NULL AND f(list)`: a
               -- parquet chunk whose list column is all-NULL or
               -- all-empty reaches DuckDB's list_dot_product as a
               -- constant-/empty-child vector the kernel REJECTS even
               -- under an AND guard (vectorized, not lazy); CASE
               -- branches are evaluated on selection vectors, so the
               -- NULL and len=0 branches keep those chunks out of the
               -- kernel (round-12 pathological-fixture catch, one row
               -- per part file; value-identical — dot([]) is 0,
               -- never > 0)
               CAST(sum(CASE WHEN embedding IS NULL THEN 0
                             WHEN len(embedding) = 0 THEN 0
                             WHEN len(list_filter(CAST(embedding AS DOUBLE[]),
                                                  x -> NOT isfinite(x))) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
               -- the extra NULL-ELEMENT branch: list_dot_product also
               -- rejects a list CONTAINING null elements; Spark's
               -- fold gives sq = NULL there, NULL > 0 is not-true →
               -- 0, so THEN 0 is the exact mirror
               CAST(sum(CASE WHEN embedding IS NULL THEN 0
                             WHEN len(embedding) = 0 THEN 0
                             WHEN len(list_filter(embedding,
                                                  x -> x IS NULL)) > 0 THEN 0
                             WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                                                   CAST(embedding AS DOUBLE[])) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_usable,
               CAST(count(DISTINCT CASE WHEN embedding IS NOT NULL
                                        THEN len(embedding) END)
                    AS BIGINT) AS n_dims_distinct,
               CAST(min(CASE WHEN embedding IS NOT NULL
                             THEN len(embedding) END) AS BIGINT) AS min_dim,
               CAST(max(CASE WHEN embedding IS NOT NULL
                             THEN len(embedding) END) AS BIGINT) AS max_dim
        FROM embeddings
    """,
    tags=("similarity", "data-quality", "observability", "extension"),
)
def q_embedding_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus health audit: how many vectors the cosine
    kernels can actually use. ``n_usable`` is EXACTLY the
    ``drop_degenerate_vectors`` / DUCK_FINITE_VECTOR predicate every
    similarity kernel applies at entry (NULL / empty / zero-norm
    dropped — the sweep-validated cross-engine pair), so this one row
    explains any gap between corpus row counts and kernel inputs;
    ``n_nonfinite`` isolates NaN/Inf components, and the dim columns
    catch ragged corpora (the fold length-guard class the round-10
    degenerate sweep exposed). One narrow aggregate pass, no shuffle
    beyond the final 1-row combine."""
    v = F.col("embedding")
    vd = to_double(v)
    sq = F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x)
    nonfinite = F.exists(
        vd,
        lambda x: F.isnan(x)
        | (F.abs(x) == F.lit(float("inf")).cast("double")),
    )
    dim = F.when(v.isNotNull(), F.size(v))
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum(
            F.when(v.isNotNull() & (F.size(v) == 0), 1).otherwise(0)
        ).alias("n_empty"),
        F.sum(F.when(v.isNotNull() & nonfinite, 1).otherwise(0)).alias(
            "n_nonfinite"
        ),
        F.sum(F.when(v.isNotNull() & (sq > 0), 1).otherwise(0)).alias(
            "n_usable"
        ),
        F.countDistinct(dim).alias("n_dims_distinct"),
        F.min(dim).cast("long").alias("min_dim"),
        F.max(dim).cast("long").alias("max_dim"),
    )


@register(
    "hot_key_guard_report",
    oracle=f"""
        WITH ps AS (SELECT DISTINCT l_partkey AS part, l_suppkey AS s
                    FROM lineitem),
        pc AS (SELECT part, count(*) AS c FROM ps GROUP BY part),
        sh AS ({H.duck_shingle_cte('documents', 'doc_id', 'text', SHINGLE_K)}),
        sc AS (SELECT shingle, count(*) AS c FROM sh GROUP BY shingle)
        SELECT 'co_supply_part' AS domain,
               CAST({TRIANGLE_PART_CAP} AS BIGINT) AS cap,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(CASE WHEN c > {TRIANGLE_PART_CAP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_keys_over_cap,
               CAST(sum(CASE WHEN c > {TRIANGLE_PART_CAP} THEN c ELSE 0 END)
                    AS BIGINT) AS rows_over_cap
        FROM pc
        UNION ALL
        SELECT 'shingle_doc_freq' AS domain,
               CAST({MAX_KEY_DOC_FREQ} AS BIGINT) AS cap,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(CASE WHEN c > {MAX_KEY_DOC_FREQ} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_keys_over_cap,
               CAST(sum(CASE WHEN c > {MAX_KEY_DOC_FREQ} THEN c ELSE 0 END)
                    AS BIGINT) AS rows_over_cap
        FROM sc
    """,
    tags=("dedup", "graph", "observability", "extension"),
)
def q_hot_key_guard_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the hot-key caps actually drop: per guarded key domain, the
    key count, the over-cap key count, and the row mass those keys
    carry — the observability row a pipeline operator checks before
    blaming a cap for missing pairs (and the evidence that the caps
    bind on boilerplate, not signal, as corpora grow). Domains: the
    co-supply part cap (``drop_hot_keys`` in
    ``graph.co_supply_capped_edges``, distinct-member counts) and the
    shingle document-frequency cap (``dedup.MAX_KEY_DOC_FREQ``). Both
    are count pre-passes over the guards' OWN key derivations — hash
    aggregates with constant per-key state, never a grouped array."""
    li = read_table(spark, sf_dir, "lineitem")
    pc = (
        li.select(
            F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .groupBy("part")
        .agg(F.count("*").alias("c"))
    )
    sc = (
        shingle_set(_docs_par(spark, sf_dir), "doc_id", "text")
        .groupBy("shingle")
        .agg(F.count("*").alias("c"))
    )

    def summarize(counts: DataFrame, domain: str, cap: int) -> DataFrame:
        return counts.agg(
            F.lit(domain).alias("domain"),
            F.lit(cap).cast("long").alias("cap"),
            F.count("*").alias("n_keys"),
            F.sum(F.when(F.col("c") > cap, 1).otherwise(0)).alias(
                "n_keys_over_cap"
            ),
            F.sum(F.when(F.col("c") > cap, F.col("c")).otherwise(0)).alias(
                "rows_over_cap"
            ),
        )

    return summarize(pc, "co_supply_part", TRIANGLE_PART_CAP).unionAll(
        summarize(sc, "shingle_doc_freq", MAX_KEY_DOC_FREQ)
    )


@register(
    "lsh_bucket_load_profile",
    oracle=_duck_minhash_cte()
    + f""",
        bands AS ({_BAND_KEYS}),
        loads AS (
            SELECT band_id, band_key, count(*) AS c
            FROM bands GROUP BY band_id, band_key
        )
        SELECT CAST(band_id AS BIGINT) AS band_id,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(max(c) AS BIGINT) AS max_load,
               CAST(sum(CASE WHEN c > {MAX_KEY_DOC_FREQ} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_buckets_over_cap
        FROM loads GROUP BY band_id
    """,
    tags=("dedup", "lsh", "observability", "extension"),
)
def q_lsh_bucket_load_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-load profile of the production 4x2 MinHash-LSH layout:
    per band, how many buckets exist, how full the fullest is, and how
    many exceed ``MAX_KEY_DOC_FREQ`` — i.e. the distribution
    ``drop_hot_keys`` bounds and the sizing input for the cap itself
    (pair fanout is Σ C(load, 2); max_load near the cap says the guard
    is load-bearing, all-small loads say the corpus is far from it).
    Same signature/band derivation as ``lsh_candidate_pairs`` (one
    pass, in-row shingle minhash), then two hash-aggregate counts —
    constant per-key state at any skew, the exact opposite of the
    buffer-before-filter shape this round retired."""
    sig = minhash_signature_inline(
        _docs_par(spark, sf_dir), "doc_id", "text"
    )
    loads = (
        lsh_bands(sig, "doc_id")
        .groupBy("band_id", "band_key")
        .agg(F.count("*").alias("c"))
    )
    return loads.groupBy("band_id").agg(
        F.count("*").alias("n_buckets"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_load"),
        F.sum(
            F.when(F.col("c") > MAX_KEY_DOC_FREQ, 1).otherwise(0)
        ).alias("n_buckets_over_cap"),
    ).select(
        F.col("band_id").cast("long").alias("band_id"),
        "n_buckets",
        "n_rows",
        F.col("max_load").cast("long").alias("max_load"),
        "n_buckets_over_cap",
    )


@register(
    "co_supply_degree_histogram",
    oracle=f"""
        WITH {_EDGE_CTES},
        deg AS (
            SELECT v, count(*) AS d FROM (
                SELECT s1 AS v FROM e UNION ALL SELECT s2 FROM e
            ) GROUP BY v
        )
        SELECT CAST(floor(log2(d)) AS BIGINT) AS bucket,
               CAST(pow(2, floor(log2(d))) AS BIGINT) AS lo,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(max(d) AS BIGINT) AS max_degree
        FROM deg GROUP BY 1, 2
    """,
    tags=("graph", "observability", "extension"),
)
def q_co_supply_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the capped co-supply graph
    — the power-law read-out that motivates every cap in the graph
    family (a heavy tail here is the hub/clique hazard
    ``TRIANGLE_ADJ_CAP`` bounds; the histogram shows how hard the cap
    binds as the corpus grows). Degrees are exact integers from the
    SAME oriented edge build as the triangle census (one shared CTE
    restated in the oracle); log2 boundaries are exact at powers of
    two in both engines, so the bucket assignment is deterministic."""
    from pyspark.storagelevel import StorageLevel

    li = read_table(spark, sf_dir, "lineitem")
    # persisted: both unionAll branches read the full edge build (the
    # r8 re-execution anti-pattern check — graph2's deg computation
    # persists the identical two-consumer shape)
    e = co_supply_capped_edges(
        li.select(F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("s"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        e.select(F.col("s1").alias("v"))
        .unionAll(e.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    bucket = F.floor(F.log2("d"))
    return deg.groupBy(
        bucket.cast("long").alias("bucket"),
        F.pow(F.lit(2.0), bucket).cast("long").alias("lo"),
    ).agg(
        F.count("*").alias("n_nodes"),
        F.max("d").cast("long").alias("max_degree"),
    )


@register(
    "embedding_norm_profile",
    oracle=f"""
        WITH norms AS (
            -- NULL-element branch mirrors Spark's fold (acc + NULL
            -- gives NULL → the row drops out below), and keeps the
            -- NULL-containing list out of list_dot_product, which
            -- REJECTS it (same kernel rule as corpus_health)
            SELECT CASE WHEN embedding IS NULL THEN NULL
                        WHEN len(embedding) = 0 THEN NULL
                        WHEN len(list_filter(embedding,
                                             x -> x IS NULL)) > 0 THEN NULL
                        ELSE sqrt(list_dot_product(
                                 CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])))
                   END AS nrm
            FROM embeddings
        ),
        nn AS (SELECT nrm FROM norms WHERE nrm IS NOT NULL)
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_norm,
               CAST(sum(CASE WHEN NOT isfinite(nrm) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nonfinite_norm,
               CAST(sum(CASE WHEN isfinite(nrm) AND abs(nrm - 1.0) <= 0.001
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_unit_norm,
               min(CASE WHEN isfinite(nrm) THEN ROUND(nrm, 6) END)
                   AS min_norm,
               max(CASE WHEN isfinite(nrm) THEN ROUND(nrm, 6) END)
                   AS max_norm,
               -- the grid fold carries a MAGNITUDE bound next to the
               -- finiteness guard: a finite norm near 1e13 puts
               -- nrm*1e6 past BIGINT, where Spark's cast saturates
               -- silently and DuckDB raises (the DoReMi clip-bound
               -- rule applied here); min/max above stay unbounded
               -- (ROUND of any double is safe)
               ROUND(CAST(sum(CASE WHEN isfinite(nrm)
                                    AND nrm <= {_NORM_GRID_MAX!r} THEN
                                 CAST(floor(nrm * 1e6 + 0.5) AS BIGINT)
                              END) AS DOUBLE)
                     / sum(CASE WHEN isfinite(nrm)
                                 AND nrm <= {_NORM_GRID_MAX!r}
                                THEN 1 ELSE 0 END)
                     / 1e6, 6) AS avg_norm
        FROM nn
    """,
    tags=("similarity", "data-quality", "observability", "extension"),
)
def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm profile of the embedding corpus: count, zero-norm /
    non-finite tallies, how many vectors are unit-norm (|‖v‖−1| ≤
    1e-3 — the first thing to check before cosine vs dot-product
    mixups), and min/avg/max norms. Complements
    ``embedding_corpus_health``: that row says what the kernels can
    USE, this one says whether the corpus was normalized.

    Numeric discipline: norms ride the same sqrt(Σx²) float path as
    every cosine oracle pair; min/max compare 6dp-rounded values, the
    mean folds 1e-6-grid BIGINTs (free-order-safe), and non-finite
    norms are excluded from all three by CASE (floor(NaN) casts
    differently across engines — Spark saturates, DuckDB raises), and
    the 1e-6-grid mean additionally bounds magnitude at
    ``_NORM_GRID_MAX`` (a FINITE norm near 1e13 overflows the BIGINT
    grid the same divergent way; the DoReMi clip-bound rule applied
    here). A vector containing NULL elements folds to a NULL norm and
    drops out — mirrored by an explicit NULL-element branch in the
    oracle's norm CTE (the DuckDB list kernel rejects NULL elements
    outright). The oracle's norm CTE uses the multi-branch CASE form
    per the round-12 list-kernel rule."""
    from velox_hadoop_spark.functions.vectors import norm

    emb = read_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    nrm = F.when(
        v.isNotNull() & (F.size(v) > 0), norm(to_double(v))
    ).alias("nrm")
    nn = emb.select(nrm).where(F.col("nrm").isNotNull())
    finite = ~(F.isnan("nrm") | (F.abs("nrm") == F.lit(float("inf"))))
    gridable = finite & (F.col("nrm") <= F.lit(_NORM_GRID_MAX))
    return nn.agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0)).alias("n_zero_norm"),
        F.sum(F.when(~finite, 1).otherwise(0)).alias("n_nonfinite_norm"),
        F.sum(
            F.when(finite & (F.abs(F.col("nrm") - 1.0) <= 0.001), 1).otherwise(0)
        ).alias("n_unit_norm"),
        F.min(F.when(finite, F.round("nrm", 6))).alias("min_norm"),
        F.max(F.when(finite, F.round("nrm", 6))).alias("max_norm"),
        F.round(
            F.sum(
                F.when(
                    gridable,
                    F.floor(F.col("nrm") * F.lit(1e6) + F.lit(0.5)).cast("long"),
                )
            ).cast("double")
            / F.sum(F.when(gridable, 1).otherwise(0))
            / F.lit(1e6),
            6,
        ).alias("avg_norm"),
    )
