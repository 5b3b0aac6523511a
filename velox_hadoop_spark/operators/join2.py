"""Outer-join family + the reference's dormant "override" join mode.

Reference: src/main/java/org/dicl/velox/benchmark/LeanJoin.java.bak:
105-106,137-140 — a commented-out CompositeInputFormat map-side join
with CLI modes ``-joinOp inner|outer|override``. The live code only
ships inner (J1); here all three modes are first-class:

  * inner/outer — ``df.join(..., how=...)``.
  * override    — right side wins where both exist, else whichever is
    present: full outer + per-column ``coalesce(right, left)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def override_join(
    left: DataFrame, right: DataFrame, key: str, value_cols: list[str]
) -> DataFrame:
    """Right-overrides-left merge on ``key`` (CompositeInputFormat
    'override' semantics, LeanJoin.java.bak:137-140)."""
    l = left.select(key, *[F.col(c).alias(f"__l_{c}") for c in value_cols])
    r = right.select(key, *[F.col(c).alias(f"__r_{c}") for c in value_cols])
    joined = l.join(r, key, "full_outer")
    return joined.select(
        key,
        *[
            F.coalesce(F.col(f"__r_{c}"), F.col(f"__l_{c}")).alias(c)
            for c in value_cols
        ],
    )


@register(
    "full_outer_orders_events",
    oracle="""
        WITH o AS (
            SELECT o_custkey % 50 AS key, count(*) AS n_orders
            FROM orders GROUP BY 1
        ),
        e AS (
            SELECT user_id AS key, count(*) AS n_events
            FROM events GROUP BY 1
        )
        SELECT coalesce(o.key, e.key) AS key, o.n_orders, e.n_events
        FROM o FULL OUTER JOIN e ON o.key = e.key
    """,
    tags=("join", "outer", "reference:LeanJoin.java.bak:105-140"),
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two keyed aggregates (nulls on both sides)."""
    orders = read_table(spark, sf_dir, "orders")
    events = read_table(spark, sf_dir, "events")
    o = orders.groupBy((F.col("o_custkey") % 50).alias("key")).agg(
        F.count("*").alias("n_orders")
    )
    e = events.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("n_events")
    )
    return (
        o.join(e, "key", "full_outer")
        .select(F.col("key"), "n_orders", "n_events")
    )


@register(
    "override_join_balances",
    oracle="""
        WITH l AS (
            SELECT c_nationkey AS key,
                   ROUND(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                              AS DOUBLE) / 100.0, 2) AS bal
            FROM customer GROUP BY 1
        ),
        r AS (
            SELECT s_nationkey AS key,
                   ROUND(CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT))
                              AS DOUBLE) / 100.0, 2) AS bal
            FROM supplier GROUP BY 1
        )
        SELECT coalesce(l.key, r.key) AS key,
               coalesce(r.bal, l.bal) AS bal
        FROM l FULL OUTER JOIN r ON l.key = r.key
    """,
    tags=("join", "override", "reference:LeanJoin.java.bak:137-140"),
)
def q_override_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'override' mode: supplier-side balance wins where both exist."""
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    # sums of 2-dp data round exactly; round(avg) can straddle an engine-
    # dependent half-boundary
    l = customer.groupBy(F.col("c_nationkey").alias("key")).agg(
        F.round(
            F.sum(F.round(F.col("c_acctbal") * 100).cast("decimal(38,0)"))
            .cast("double")
            / 100.0,
            2,
        ).alias("bal")
    )
    r = supplier.groupBy(F.col("s_nationkey").alias("key")).agg(
        F.round(
            F.sum(F.round(F.col("s_acctbal") * 100).cast("decimal(38,0)"))
            .cast("double")
            / 100.0,
            2,
        ).alias("bal")
    )
    return override_join(l, r, "key", ["bal"])


@register(
    "min_per_group_suppliers",
    oracle="""
        SELECT s.s_nationkey, s.s_suppkey, s.s_name, s.s_acctbal
        FROM supplier s
        JOIN (
            SELECT s_nationkey, min(s_acctbal) AS min_bal
            FROM supplier GROUP BY s_nationkey
        ) m ON s.s_nationkey = m.s_nationkey AND s.s_acctbal = m.min_bal
    """,
    tags=("join", "subquery"),
)
def q_min_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style correlated-min pattern: rows attaining the group min."""
    supplier = read_table(spark, sf_dir, "supplier")
    # alias the derived side: same-lineage self-joins are ambiguous otherwise
    mins = supplier.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        supplier.join(
            F.broadcast(mins),
            (F.col("s_nationkey") == F.col("nk"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("s_nationkey", "s_suppkey", "s_name", "s_acctbal")
    )


@register(
    "cube_priority_status",
    oracle="""
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n,
               ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS total
        FROM orders
        GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    tags=("agg", "cube"),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations in one pass."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("double")
            / 100.0,
            2,
        ).alias("total"),
    )


@register(
    "orders_by_weekday",
    oracle="""
        -- DuckDB dayofweek is 0-based (Sun=0); Spark's is 1-based (Sun=1)
        SELECT CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
               CAST(year(o_orderdate) AS INT) AS yr,
               count(*) AS n,
               ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS total
        FROM orders
        GROUP BY 1, 2
    """,
    tags=("functions", "datetime"),
)
def q_orders_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction breadth (dayofweek/year) + grouped agg."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.dayofweek("o_orderdate").alias("dow"),
        F.year("o_orderdate").alias("yr"),
    ).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("double")
            / 100.0,
            2,
        ).alias("total"),
    )
