"""Final TPC-H-analog block: the correlated-subquery shapes. [extension]

Completes the 22-query TPC-H analog suite (with Q2's min-per-group in
``join2.py`` and Q8 as the raw-SQL surface in ``tpch_wide.py``): scalar
max-of-aggregate selection (Q15), correlated scalar subquery against a
per-group average (Q17), HAVING-thresholded semi-join chain (Q20), and
the double EXISTS / NOT-EXISTS "only late supplier" pattern (Q21).

The reference has none of these (its only join is the tagged 1:N
repartition join, reference: src/main/java/org/dicl/velox/benchmark/
LeanJoin.java:56-100); they are the decorrelation shapes any engine
claiming SQL parity must cover. Adapted to the driver schema (no
partsupp / commitdate / receiptdate: Q20 thresholds shipped quantity,
Q21 defines "late" as shipping >45 days after the order date).

Scale notes: every correlated subquery is decorrelated into an
aggregate + equi-join on the correlation key, so the plans are
shuffle-bounded (no nested-loop, no driver collect). The Q15 / Q17
scalar thresholds are 1-row aggregates broadcast into the probe side.
Q21 computes both per-order counts in ONE aggregation pass over the
filtered fact table and joins the result back once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


@register(
    "tpch_q15_top_supplier",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                       AS rev_int
            FROM lineitem
            WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               ROUND(r.rev_int / 10000.0, 2) AS total_revenue
        FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.rev_int = (SELECT max(rev_int) FROM revenue)
    """,
    tags=("tpch", "scalar-subquery", "extension"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 analog: supplier(s) with the maximum revenue in 1996Q1.

    The ``= (SELECT max(...))`` scalar subquery becomes a broadcast
    1-row max crossed into the revenue frame — the revenue aggregate is
    computed once and reused for both sides (persist would be overkill
    at this size; Spark reuses the exchange under AQE).
    """
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    # revenue as an EXACT integer (1e-4 units): the winner is chosen by
    # an equality against max(revenue), so a rounded order-dependent
    # double sum at a half-cent boundary could crown different
    # suppliers in different engines — integer equality cannot
    revenue = (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
                .cast("long")
            ).alias("rev_int")
        )
    )
    max_rev = revenue.agg(F.max("rev_int").alias("max_rev_int"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("rev_int") == F.col("max_rev_int"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_int") / 10000.0, 2).alias("total_revenue"),
        )
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
        SELECT ROUND(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0 / 7.0, 2) AS avg_yearly
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (
              SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = l.l_partkey
          )
    """,
    tags=("tpch", "correlated-subquery", "extension"),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 analog: revenue lost to small-quantity orders for one brand.

    The correlated per-part average decorrelates into a grouped
    aggregate over lineitem joined back on ``l_partkey`` — one shuffle
    on the correlation key instead of a per-row subquery. The brand
    filter prunes the probe side before the join; the per-part average
    is computed over ALL lineitems of the part (matching the
    correlation, which does not repeat the brand predicate).
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    per_part_avg = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    brand = part.where(F.col("p_brand") == "Brand#1").select("p_partkey")
    return (
        li.join(brand, F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part_avg, F.col("l_partkey") == F.col("avg_partkey"))
        .where(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)"))
                .cast("double")
                / 100.0
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


@register(
    "tpch_q20_bulk_shippers",
    oracle="""
        SELECT s.s_name, s.s_acctbal
        FROM supplier s
        WHERE s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_name LIKE '%red%'
              AND l.l_shipdate >= DATE '1997-01-01' AND l.l_shipdate < DATE '1998-01-01'
            GROUP BY l.l_suppkey, l.l_partkey
            HAVING sum(l.l_quantity) > 50
        )
    """,
    tags=("tpch", "semi-join", "having", "extension"),
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 analog: suppliers that bulk-shipped a red part in 1997.

    IN-subquery over a HAVING-filtered aggregate → grouped sum on
    (suppkey, partkey), threshold filter, then LEFT SEMI join into
    supplier. The part-name filter broadcasts; the only wide shuffle is
    the (suppkey, partkey) aggregation of the date-pruned fact slice.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    red = part.where(F.col("p_name").like("%red%")).select("p_partkey")
    bulk = (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(red, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return supp.join(
        bulk, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_name", "s_acctbal")


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
        SELECT s.s_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
          )
        GROUP BY s.s_name
    """,
    tags=("tpch", "exists", "not-exists", "extension"),
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 analog: suppliers solely responsible for late 'F' orders.

    EXISTS + NOT-EXISTS decorrelate into ONE per-order aggregation:
    ``n_supp`` (distinct suppliers) and ``n_late`` (distinct suppliers
    that shipped >45 days after the order date). A late l1 row
    qualifies iff its order has other suppliers (n_supp > 1) and l1's
    supplier is the only late one (n_late = 1). This replaces two
    correlated scans of lineitem with one extra shuffle on l_orderkey.
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    supp = read_table(spark, sf_dir, "supplier")
    f_orders = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    l = li.join(f_orders, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "is_late", F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 45)
    )
    per_order = l.groupBy(F.col("l_orderkey").alias("agg_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late"),
    )
    qual = (
        l.where(F.col("is_late"))
        .join(
            per_order.where((F.col("n_supp") > 1) & (F.col("n_late") == 1)),
            F.col("l_orderkey") == F.col("agg_orderkey"),
        )
    )
    return (
        qual.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
