"""Iterative k-means clustering on embedding vectors. [extension]

The second driver-loop iterative algorithm family next to PageRank/BFS
(SURVEY §2.9): Lloyd's iterations expressed as DataFrame passes —
assignment is a broadcast of K centroid arrays against the streaming
corpus (argmin via a row_number window), the update is a per-dimension
mean (posexplode → groupBy(cluster, dim) — partial aggregation bounds
the shuffle at partitions × K × dims rows regardless of corpus size)
rebuilt into centroid arrays. Nothing corpus-sized ever reaches the
driver; per pass the only driver traffic is the K×dims centroid table
(the broadcast everyone ships in any k-means).

Determinism contract (what makes an exact DuckDB oracle possible):
init = the K lowest vec_ids; distances rounded to 6 dp BEFORE the
argmin with centroid-id tiebreak; centroid components rounded to 6 dp
after every update, which re-synchronizes any engine-side FP summation
drift at each pass boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions.vectors import to_double
from velox_hadoop_spark.plans.registry import register

K = 4
ITERS = 2


def _assign(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector: broadcast K arrays, L2² rounded to
    6 dp, ties by centroid id."""
    dist = F.round(
        F.aggregate(
            F.zip_with(F.col("e"), F.col("ce"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    scored = v.crossJoin(F.broadcast(cents)).select(
        "vec_id", "e", "cid", dist.alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "e", "cid", "dist")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Per-dimension means (rounded 6 dp) rebuilt into centroid arrays."""
    dims = assigned.select("cid", F.posexplode("e").alias("pos", "x"))
    means = dims.groupBy("cid", "pos").agg(F.round(F.avg("x"), 6).alias("c"))
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s.getField("c"),
        ).alias("ce")
    )


def kmeans(
    emb: DataFrame, k: int = K, iters: int = ITERS, return_centroids: bool = False
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Lloyd's k-means, deterministic init (k lowest vec_ids); returns
    the final (vec_id, cluster, dist) assignment. With
    ``return_centroids`` also returns the (cid, ce) centroid frame the
    FINAL assignment was scored against (c_{iters-1} — the one whose
    distances match the emitted ``dist``), for consumers like the
    silhouette QA; the default path is byte-identical to before."""
    # NULL embeddings get no assignment (a null L2² sorts FIRST under
    # asc and would silently claim an arbitrary centroid)
    v = emb.where(F.col("embedding").isNotNull()).select(
        "vec_id", to_double(F.col("embedding")).alias("e")
    )
    # TRUE k-lowest ids, not `vec_id < k`: the shorthand only matches on
    # dense 0-based id spaces and silently under-fills the centroid set
    # on any other id space. The registered oracle mirrors this exact
    # rule (ORDER BY vec_id LIMIT k) so both engines share one centroid
    # selection instead of relying on the dense-id coincidence.
    cents = (
        v.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    )
    assigned = None
    last_cents = cents
    for _ in range(iters):
        last_cents = cents
        assigned = _assign(v, cents)
        cents = _update(assigned)
    out = assigned.select("vec_id", F.col("cid").alias("cluster"), "dist")
    if return_centroids:
        return out, last_cents
    return out


def _duck_kmeans_ctes(k: int, iters: int) -> str:
    """Unrolled Lloyd's iterations as a DuckDB CTE body (no WITH, no
    final SELECT) — same rounding boundaries as the Spark loop. Ends at
    ``a{iters}(vec_id, cid, dist)`` with the vector table ``v`` still
    in scope, so composites (SemDeDup) can extend the chain. The
    registered kmeans oracle wraps this body unchanged."""
    dist = (
        "ROUND(list_sum(list_transform(list_zip(v.e, c.ce), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)"
    )
    parts = [
        "v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE embedding IS NOT NULL)",
        f"c0 AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""a{i} AS (
                SELECT vec_id, cid, dist FROM (
                    SELECT v.vec_id, c.cid, {dist} AS dist,
                           row_number() OVER (
                               PARTITION BY v.vec_id
                               ORDER BY {dist} ASC, c.cid ASC
                           ) AS rn
                    FROM v CROSS JOIN c{i - 1} c
                ) WHERE rn = 1
            )"""
        )
        if i < iters:
            parts.append(
                f"""c{i} AS (
                    SELECT cid, list(c ORDER BY pos) AS ce FROM (
                        SELECT a.cid, t.i - 1 AS pos, ROUND(avg(v.e[t.i]), 6) AS c
                        FROM a{i} a
                        JOIN v ON v.vec_id = a.vec_id
                        CROSS JOIN UNNEST(generate_series(1, len(v.e))) AS t(i)
                        GROUP BY a.cid, t.i
                    ) GROUP BY cid
                )"""
            )
    return ",\n".join(parts)


def _duck_kmeans_oracle(k: int, iters: int) -> str:
    return (
        f"WITH {_duck_kmeans_ctes(k, iters)}\n"
        f"SELECT vec_id, cid AS cluster, dist FROM a{iters}"
    )


@register(
    "kmeans_2iter_embeddings",
    oracle=_duck_kmeans_oracle(K, ITERS),
    tags=("clustering", "iterative", "kmeans", "extension"),
)
def q_kmeans_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd's iterations of k=4 k-means over the embeddings table;
    final assignment with L2² distance."""
    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans(emb)
