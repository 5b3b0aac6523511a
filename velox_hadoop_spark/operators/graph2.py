"""Graph structure metrics, round 9. [extension]

Degree assortativity over the capped co-supply graph — does a
high-degree supplier co-supply with other hubs (r > 0) or with leaves
(r < 0)? Reuses ``graph.co_supply_capped_edges`` unmodified; the only
new math is a Pearson correlation over edge-endpoint degree pairs,
folded from EXACT integer sums (products ride decimal-38/HUGEINT — the
int64-overflow class at graph scales where Σd² grows with V·D²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.graph import (
    TRIANGLE_ADJ_CAP,
    co_supply_capped_edges,
)
from velox_hadoop_spark.plans.registry import register

# Same degree-bounded edge set as the triangle census (its oracle CTE
# is restated below so the two queries stay independently auditable).
_EDGE_CTES = f"""
    ps AS (SELECT DISTINCT l_partkey AS part, l_suppkey AS s FROM lineitem),
    pdeg AS (SELECT part, count(*) AS c FROM ps GROUP BY part),
    ok AS (SELECT p.part, p.s FROM ps p JOIN pdeg d ON p.part = d.part AND d.c <= 256),
    e_full AS (
        SELECT DISTINCT a.s AS s1, b.s AS s2
        FROM ok a JOIN ok b ON a.part = b.part AND a.s < b.s
    ),
    e AS (
        SELECT s1, s2 FROM (
            SELECT s1, s2,
                   row_number() OVER (PARTITION BY s1 ORDER BY s2) AS rn
            FROM e_full
        ) WHERE rn <= {TRIANGLE_ADJ_CAP}
    )
"""


@register(
    "degree_assortativity_suppliers",
    oracle=f"""
        WITH {_EDGE_CTES},
        deg AS (
            SELECT v, count(*) AS d FROM (
                SELECT s1 AS v FROM e UNION ALL SELECT s2 FROM e
            ) GROUP BY v
        ),
        pts AS (
            SELECT da.d AS x, db.d AS y
            FROM e JOIN deg da ON e.s1 = da.v JOIN deg db ON e.s2 = db.v
        ),
        s AS (
            SELECT 2 * count(*) AS n,
                   sum(x + y) AS sx,
                   sum(CAST(x AS HUGEINT) * x + CAST(y AS HUGEINT) * y) AS sxx,
                   sum(2 * CAST(x AS HUGEINT) * y) AS sxy,
                   count(*) AS n_edges
            FROM pts
        )
        SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST(n_edges AS BIGINT) AS n_edges,
               ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx),
                     6) AS assortativity
        FROM s
        WHERE n >= 2 AND CAST(n AS HUGEINT) * sxx > CAST(sx AS HUGEINT) * sx
    """,
    tags=("graph", "assortativity", "extension"),
)
def q_degree_assortativity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the capped co-supply graph: Pearson r
    over the symmetrized edge-endpoint degree pairs (each undirected
    edge contributes both orientations, so Σx = Σy and one pass over
    the ORIENTED edge list folds all five sums). Degrees and all
    moment sums are exact integers (squares in decimal-38/HUGEINT);
    the zero-variance guard compares exact wide integers; r is the
    single displayed double. The edge frame feeds two consumers
    (degrees, endpoint join) and is persisted — the r8 re-execution
    anti-pattern check."""
    li = read_table(spark, sf_dir, "lineitem")
    e = co_supply_capped_edges(
        li.select(F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("s"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        e.select(F.col("s1").alias("v"))
        .unionAll(e.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    pts = (
        e.join(deg.select(F.col("v").alias("s1"), F.col("d").alias("x")), "s1")
        .join(deg.select(F.col("v").alias("s2"), F.col("d").alias("y")), "s2")
        .select("x", "y")
    )
    nn = deg.agg(F.count("*").alias("n_nodes"))
    s = pts.agg(
        (2 * F.count("*")).alias("n"),
        F.sum(F.col("x") + F.col("y")).alias("sx"),
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("x")
            + F.col("y").cast("decimal(38,0)") * F.col("y")
        ).alias("sxx"),
        F.sum(2 * F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.count("*").alias("n_edges"),
    )
    return s.crossJoin(nn).where(
        (F.col("n") >= 2)
        & (
            F.col("n").cast("decimal(38,0)") * F.col("sxx")
            > F.col("sx").cast("decimal(38,0)") * F.col("sx")
        )
    ).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.round(
            (
                F.col("n") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sx")
            )
            / (
                F.col("n") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx")
            ),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient per supplier (triangles / open wedges)
# ---------------------------------------------------------------------------


@register(
    "clustering_coefficient_suppliers",
    oracle=f"""
        WITH {_EDGE_CTES},
        tri AS (
            SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
            FROM e e1
            JOIN e e2 ON e2.s1 = e1.s2
            JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
        ),
        tcnt AS (
            SELECT v, count(*) AS t FROM (
                SELECT a AS v FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ) GROUP BY v
        ),
        deg AS (
            SELECT v, count(*) AS d FROM (
                SELECT s1 AS v FROM e UNION ALL SELECT s2 FROM e
            ) GROUP BY v
        )
        SELECT CAST(deg.v AS BIGINT) AS supplier,
               CAST(deg.d AS BIGINT) AS degree,
               CAST(coalesce(tcnt.t, 0) AS BIGINT) AS n_triangles,
               ROUND(2.0 * coalesce(tcnt.t, 0)
                     / (CAST(deg.d AS DOUBLE) * (deg.d - 1)), 6)
                   AS clustering_coeff
        FROM deg LEFT JOIN tcnt ON deg.v = tcnt.v
        WHERE deg.d >= 2
    """,
    tags=("graph", "triangles", "clustering-coefficient", "extension"),
)
def q_clustering_coefficient_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the capped co-supply graph:
    C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — how clique-like each
    supplier's neighborhood is (the community-structure number next to
    the global triangle census). Reuses the SAME degree-bounded edge
    build and oriented two-join triangle enumeration as
    ``supplier_triangle_counts`` (one persisted edge frame feeds the
    degree count, the wedge join, AND the closure join); T(v) and
    deg(v) are exact integers, so the single displayed double is the
    final ratio. Nodes of degree < 2 have no defined coefficient and
    are excluded in both engines.

    Scale: identical bounds to the triangle census — O(V·D²) wedges
    with D capped at {TRIANGLE_ADJ_CAP}, never Θ(V³)."""
    li = read_table(spark, sf_dir, "lineitem")
    e = co_supply_capped_edges(
        li.select(F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("s"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        e.select(F.col("s1").alias("v"))
        .unionAll(e.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    e2 = e.select(F.col("s1").alias("s2"), F.col("s2").alias("s3"))
    e3 = e.select(F.col("s1").alias("t1"), F.col("s2").alias("t3"))
    tri = (
        e.join(e2, "s2")
        .join(e3, (F.col("t1") == F.col("s1")) & (F.col("t3") == F.col("s3")))
        .select("s1", "s2", "s3")
    )
    tcnt = (
        tri.select(F.explode(F.array("s1", "s2", "s3")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.join(tcnt, "v", "left")
        .where(F.col("d") >= 2)
        .select(
            F.col("v").cast("long").alias("supplier"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                2.0
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d").cast("double") * (F.col("d") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )
