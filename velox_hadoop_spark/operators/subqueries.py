"""Correlated-subquery patterns, decorrelated Spark-first. [extension]

The reference's join surface (LeanJoin.java:56-100, broadcast lookup
Step3Mapper.java:22-76) composes equi-joins only; a full engine's users
immediately reach for EXISTS / NOT EXISTS / IN / correlated scalar
subqueries. Catalyst decorrelates these into semi / anti / aggregate
joins — each query here states the subquery form in the oracle SQL and
builds the decorrelated plan explicitly with the DataFrame API, so the
physical shape (semi join, anti join, broadcast aggregate re-join) is
pinned rather than hoped for.

Scale notes: every rewrite keys on an equi-join column, so the fact
side shuffles at most once per subquery; per-group aggregates re-enter
via broadcast (one row per group, never data-sized). No cartesian
products, no driver collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


@register(
    "exists_suppliers_with_returns",
    oracle="""
        SELECT s.s_suppkey, s.s_name, s.s_acctbal
        FROM supplier s
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
        )
    """,
    tags=("subquery", "exists", "semi-join", "extension"),
)
def q_exists_suppliers_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join: suppliers with at least one returned
    line. The returnflag filter pushes into the lineitem scan; the semi
    join emits each supplier at most once with no dedup step."""
    supp = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return supp.join(
        li, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name", "s_acctbal")


@register(
    "not_exists_parts_never_ordered",
    oracle="""
        SELECT p.p_partkey, p.p_name
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 45
        )
    """,
    tags=("subquery", "not-exists", "anti-join", "extension"),
)
def q_not_exists_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join: parts never ordered in BULK
    (no lineitem with quantity ≥ 45). The bulk predicate matters for
    the gate, not just the business story: every part appears in
    lineitem at every test SF, so the unfiltered version returned the
    empty set in both engines and the parity check was vacuous — a
    wrong join key or an accidental semi-join rewrite would have
    passed as 0 == 0. With the filter the witness set is non-empty
    AND non-total at every SF (6/200 at sf0.001, 537/20k at sf0.1),
    so keep-unmatched and drop-matched are both exercised. Only
    (l_partkey, l_quantity) are read from the fact side; the quantity
    predicate pushes to the scan below the anti join."""
    part = read_table(spark, sf_dir, "part")
    li = (
        read_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 45)
        .select("l_partkey")
    )
    return part.join(
        li, F.col("p_partkey") == F.col("l_partkey"), "left_anti"
    ).select("p_partkey", "p_name")


@register(
    "in_subquery_high_value_customers",
    oracle="""
        SELECT c.c_custkey, c.c_name, c.c_acctbal
        FROM customer c
        WHERE c.c_custkey IN (
            SELECT o_custkey FROM orders WHERE o_totalprice > 450000
        )
    """,
    tags=("subquery", "in", "semi-join", "extension"),
)
def q_in_subquery_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) → left-semi join: customers who placed at least
    one order above 450k. The price predicate pushes to the orders
    scan; the semi join needs no distinct on the inner side."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "scalar_subquery_above_nation_avg",
    oracle="""
        WITH nat AS (
            SELECT c_nationkey,
                   SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS sum_cents,
                   COUNT(*) AS n
            FROM customer GROUP BY c_nationkey
        )
        SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
        FROM customer c JOIN nat ON c.c_nationkey = nat.c_nationkey
        WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * nat.n > nat.sum_cents
    """,
    tags=("subquery", "correlated-scalar", "extension"),
)
def q_scalar_subquery_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — customers above their own nation's
    average balance — decorrelated into a per-nation aggregate joined
    back by broadcast (25 rows). The membership test is pure integer
    arithmetic (bal_cents * n > sum_cents): balances are 2-decimal
    money, so neither engine's double-summation order can flip a
    boundary row (repo rule: membership never rides raw double sums).
    """
    cust = read_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    nat = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.sum(cents).alias("sum_cents"), F.count("*").alias("n")
    )
    return (
        cust.join(F.broadcast(nat), F.col("c_nationkey") == F.col("nk"))
        .where(cents * F.col("n") > F.col("sum_cents"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )


@register(
    "exists_double_correlation_orders",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09
        )
        AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
        )
    """,
    tags=("subquery", "exists", "semi-join", "extension"),
)
def q_exists_double_correlation_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two independent EXISTS on the same fact table → two successive
    semi joins, each with its predicate pushed into its own pruned
    lineitem scan. Both key on l_orderkey, so under one partitioning
    the second semi join reuses the first's shuffle layout."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    deep_discount = li.where(F.col("l_discount") > 0.09).select("l_orderkey")
    returned = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("r_orderkey")
    )
    return (
        orders.join(deep_discount, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .join(returned, F.col("o_orderkey") == F.col("r_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "lateral_top2_orders_per_customer",
    oracle="""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice,
               CAST(t.rn AS INTEGER) AS rn
        FROM customer c, LATERAL (
            SELECT o.o_orderkey, o.o_totalprice,
                   row_number() OVER (
                       ORDER BY o.o_totalprice DESC, o.o_orderkey
                   ) AS rn
            FROM orders o WHERE o.o_custkey = c.c_custkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2
        ) t
    """,
    tags=("subquery", "lateral", "topn-per-group", "extension"),
)
def q_lateral_top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL top-N per group → the keyed-window rewrite:
    row_number over (customer, price desc) then rn <= 2. One shuffle on
    the group key; each task ranks only its own customers — the
    distributed form of the oracle's per-customer LIMIT 2."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            "rn",
        )
    )


@register(
    "in_subquery_nested_two_level",
    oracle="""
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE c.c_custkey IN (
            SELECT o.o_custkey FROM orders o
            WHERE o.o_orderkey IN (
                SELECT l.l_orderkey FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_type = 'PROMO'
            )
        )
    """,
    tags=("subquery", "in", "nested", "extension"),
)
def q_in_subquery_nested_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level nested IN — customers who ever ordered a PROMO part —
    as a chain of semi joins driven bottom-up: the filtered part set
    semi-joins lineitem, that semi-joins orders, which semi-joins
    customer. Each level shrinks before the next join; nothing is
    deduplicated explicitly (semi joins are set-semantics for free).
    The PROMO part set is SF-proportional, so it carries NO broadcast
    hint — AQE promotes it to broadcast at small SF and falls back to
    a shuffled semi join when it outgrows the budget at 100 TB."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    promo = read_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    promo_orders = li.join(
        promo, F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    ).select("l_orderkey")
    qualifying = orders.join(
        promo_orders, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    ).select("o_custkey")
    return cust.join(
        qualifying, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "dangling_fk_audit",
    oracle="""
        SELECT * FROM (
            SELECT 'lineitem.l_orderkey->orders' AS relationship,
                   count(*) FILTER (WHERE o.o_orderkey IS NULL) AS n_dangling
            FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
            UNION ALL
            SELECT 'lineitem.l_partkey->part',
                   count(*) FILTER (WHERE p.p_partkey IS NULL)
            FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
            UNION ALL
            SELECT 'lineitem.l_suppkey->supplier',
                   count(*) FILTER (WHERE s.s_suppkey IS NULL)
            FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
            UNION ALL
            SELECT 'orders.o_custkey->customer',
                   count(*) FILTER (WHERE c.c_custkey IS NULL)
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            UNION ALL
            SELECT 'orders.o_custkey->customer[BALANCED]',
                   count(*) FILTER (WHERE c.c_custkey IS NULL)
            FROM orders o LEFT JOIN (
                SELECT c_custkey FROM customer WHERE c_acctbal >= 0
            ) c ON o.o_custkey = c.c_custkey
        )
    """,
    tags=("quality", "referential-integrity", "anti-join", "extension"),
)
def q_dangling_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: dangling-row count for every
    foreign key in the star schema, one UNION ALL report. Each check
    is an anti-join count (the NOT EXISTS physical form) with only the
    key columns scanned on both sides. NO forced broadcasts: part,
    supplier, and customer key sets are SF-proportional — data-sized
    at 100 TB, exactly like the orders key set this function has
    always refused to broadcast — so every check is a plain shuffled
    anti join and AQE promotes the small sides to broadcast at runtime
    when (and only when) they fit. The last row audits against a
    FILTERED parent (non-negative balances) to exercise a violated
    relationship — the healthy keys all report 0, which the audit must
    prove, not assume."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")

    def dangling(
        child: DataFrame,
        key: str,
        parent: DataFrame,
        pkey: str,
        label: str,
    ) -> DataFrame:
        pk = parent.select(pkey)
        n = (
            child.select(key)
            .join(pk, F.col(key) == F.col(pkey), "left_anti")
            .agg(F.count("*").alias("n_dangling"))
        )
        return n.select(F.lit(label).alias("relationship"), "n_dangling")

    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    cust = read_table(spark, sf_dir, "customer")
    checks = [
        dangling(li, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey->orders"),
        dangling(li, "l_partkey", part, "p_partkey", "lineitem.l_partkey->part"),
        dangling(li, "l_suppkey", supp, "s_suppkey", "lineitem.l_suppkey->supplier"),
        dangling(orders, "o_custkey", cust, "c_custkey", "orders.o_custkey->customer"),
        dangling(
            orders,
            "o_custkey",
            cust.where(F.col("c_acctbal") >= 0),
            "c_custkey",
            "orders.o_custkey->customer[BALANCED]",
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out
