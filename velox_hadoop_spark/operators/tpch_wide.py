"""Wider TPC-H-analog coverage. [extension]

The reference's query surface stops at six hand-built MapReduce jobs
(SURVEY §2); these analogs exercise the relational shapes a user of a
full engine expects on the same star schema: multi-way join with a
disjunctive nation-pair predicate (Q7), profit rollup by nation/year
(Q9), HAVING against a scalar-subquery share-of-total (Q11), outer-join
count distribution (Q13), distinct-count with NOT-style exclusions
(Q16), HAVING-filtered semi join on a grouped threshold (Q18),
disjunctive OR-of-triples pushdown (Q19), and scalar-subquery +
anti-join (Q22). Adapted to the driver schema (no partsupp table; part
value is derived from lineitem).

Scale notes: nation is always broadcast; every other join is an
equi-join Catalyst may pick SMJ/SHJ/broadcast for by size, AQE
re-planning at runtime. Scalar totals (Q11, Q22) are crossJoin of a
broadcast 1-row aggregate — never a driver collect. Disjunctive
predicates (Q7, Q19) stay in the scan/join filter where codegen
evaluates them; Q19's OR-of-ANDs is pushed to the parquet row-group
level as a residual filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import bare_sql, read_table
from velox_hadoop_spark.plans.registry import register


@register(
    "tpch_q7_nation_volume",
    oracle="""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
               ROUND(CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                         * 10000) AS BIGINT)) AS DOUBLE)
                     / 10000.0, 2) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "multi-join", "extension"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 analog: shipping volume between a nation pair, per year."""
    li, orders = read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "orders")
    supp, cust = read_table(spark, sf_dir, "supplier"), read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(
            F.sum(
                F.round(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
                ).cast("decimal(38,0)")
            ).cast("double")
            / 10000.0,
            2,
        ).alias("revenue")
    )


@register(
    "tpch_q9_profit_by_nation_year",
    oracle="""
        SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               ROUND(sum(CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)
                                      - 0.4 * p.p_retailprice * l.l_quantity)
                                     * 10000) AS BIGINT)) / 10000.0, 4) AS profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_type = 'PROMO'
        GROUP BY nation, o_year
    """,
    tags=("tpch", "multi-join", "extension"),
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 analog: profit per supplier nation per year for PROMO parts
    (supply cost modeled as 40% of retail price — no partsupp table)."""
    li, part = read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "part")
    supp, orders = read_table(spark, sf_dir, "supplier"), read_table(spark, sf_dir, "orders")
    nation = read_table(spark, sf_dir, "nation")
    joined = (
        li.join(part.where(F.col("p_type") == "PROMO"), F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.4 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    # line profit is an exact 4-decimal rational (2dp price x 2dp
    # multiplier, 2dp retail x integral qty): sum it as integer
    # ten-thousandths so no summation-order rounding tie can flip the
    # last cent at any scale (same scheme as nation_trade_flow_matrix)
    return joined.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(
        F.round(F.sum(F.round(profit * 10000).cast("long")) / 10000.0, 4).alias(
            "profit"
        )
    )


@register(
    "tpch_q11_important_parts",
    oracle="""
        WITH val AS (
            SELECT l.l_partkey,
                   SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))
                       AS v_int
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE s.s_nationkey = 3
            GROUP BY l.l_partkey
        )
        SELECT l_partkey, ROUND(v_int / 10000.0, 2) AS part_value
        FROM val
        WHERE v_int * 500 > (SELECT sum(v_int) FROM val)
    """,
    tags=("tpch", "scalar-subquery", "extension"),
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 analog: parts whose NATION_3-supplied value exceeds 0.2% of
    the total (share-of-total via broadcast scalar, no driver collect)."""
    li, supp = read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "supplier")
    # value as an EXACT integer (1e-4 units) and the 0.2%-of-total
    # membership as v_int * 500 > total_int — pure integer arithmetic
    # in both engines, so the HAVING-style cut cannot flip with double
    # summation order (v > sum(v)*0.002 on raw doubles could)
    val = (
        li.join(
            supp.where(F.col("s_nationkey") == 3), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
                .cast("long")
            ).alias("v_int")
        )
    )
    total = val.agg(F.sum("v_int").alias("total_int"))
    return (
        val.crossJoin(F.broadcast(total))
        .where(F.col("v_int") * 500 > F.col("total_int"))
        .select("l_partkey", F.round(F.col("v_int") / 10000.0, 2).alias("part_value"))
    )


@register(
    "tpch_q13_order_count_distribution",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """,
    tags=("tpch", "outer-join", "two-level-agg", "extension"),
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 analog: distribution of per-customer order counts, zero-order
    customers included via the left outer join."""
    cust, orders = read_table(spark, sf_dir, "customer"), read_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q16_supplier_part_counts",
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#5'
          AND p.p_type <> 'PROMO'
          AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("tpch", "distinct-agg", "extension"),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 analog: distinct supplier count per (brand, type, size) with
    NOT-style exclusions (supplier-part pairs derived from lineitem)."""
    li, part = read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "part")
    p = part.where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q18_large_volume_orders",
    oracle="""
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice, big.sum_qty
        FROM (
            SELECT l_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
        ) big
        JOIN orders o ON big.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100
    """,
    tags=("tpch", "having", "topk", "extension"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 analog: top large-volume orders (grouped HAVING threshold,
    join back to orders/customer, total-price top-100)."""
    li, orders = read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle="""
        SELECT ROUND(CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                          * 10000) AS BIGINT)) AS DOUBLE)
                     / 10000.0, 2) AS revenue,
               count(*) AS n_rows
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "disjunctive-filter", "extension"),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 analog: OR-of-conjunction predicates across the join — the
    brand/size arms prune part before the join; the residual quantity
    arms evaluate in the joined filter. Brands are drawn from the
    generated Brand#1..Brand#25 domain so every arm matches rows (the
    classic Brand#34 literal would leave the third arm dead and its
    pushdown behavior untested)."""
    li, part = read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "part")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.where(
        arm("Brand#12", 5, 1, 11) | arm("Brand#23", 10, 10, 20) | arm("Brand#4", 15, 20, 30)
    ).agg(
        F.round(
            F.sum(
                F.round(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
                ).cast("decimal(38,0)")
            ).cast("double")
            / 10000.0,
            2,
        ).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


@register(
    "tpch_q22_idle_rich_customers",
    oracle="""
        WITH avg_bal AS (
            -- exact integer membership: bal > avg becomes
            -- n*bal_c > S_c, so no free-order double AVG can flip a
            -- customer sitting at the boundary (round-9 review class)
            SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS HUGEINT)
                       AS s_c,
                   CAST(count(*) AS HUGEINT) AS n
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c.c_nationkey % 5 AS cntrycode,
               count(*) AS numcust,
               ROUND(CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS totacctbal
        FROM customer c, avg_bal
        WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * avg_bal.n > avg_bal.s_c
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
        GROUP BY cntrycode
    """,
    tags=("tpch", "anti-join", "scalar-subquery", "extension"),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 analog: above-average-balance customers with no recent orders,
    grouped by a derived country code (scalar avg via broadcast,
    no-orders via left_anti)."""
    cust, orders = read_table(spark, sf_dir, "customer"), read_table(spark, sf_dir, "orders")
    bal_c = F.round(F.col("c_acctbal") * 100).cast("long")
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal_c).cast("decimal(38,0)").alias("s_c"),
        F.count("*").cast("decimal(38,0)").alias("n"),
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        bal_c.cast("decimal(38,0)") * F.col("n") > F.col("s_c")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    idle = rich.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return idle.groupBy((F.col("c_nationkey") % 5).alias("cntrycode")).agg(
        F.count("*").alias("numcust"),
        F.round(
            F.sum(F.round(F.col("c_acctbal") * 100).cast("decimal(38,0)"))
            .cast("double")
            / 100.0,
            2,
        ).alias("totacctbal"),
    )


# One SQL text, two engines: the query below is executed by spark.sql()
# (over read_table frames) AND, with bare table names, as the DuckDB oracle —
# demonstrating that the engine exposes a full ANSI-SQL surface, not
# just the DataFrame API.
_Q8_SQL = """
    SELECT o_year,
           -- exact 1e4-fixed-point revenue sums in BOTH the numerator
           -- and denominator (associative integers; the double-sum
           -- ratio was the last free-order money fold in this module)
           ROUND(CAST(sum(CASE WHEN nation = 'NATION_5' THEN rev_fp
                               ELSE 0 END) AS DOUBLE)
                 / CAST(sum(rev_fp) AS DOUBLE), 4) AS mkt_share
    FROM (
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                    AS BIGINT) AS rev_fp,
               n.n_name AS nation
        FROM {lineitem} l
        JOIN {orders} o ON l.l_orderkey = o.o_orderkey
        JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
        JOIN {nation} n ON s.s_nationkey = n.n_nationkey
    ) AS t
    GROUP BY o_year
"""


@register(
    "sql_q8_market_share",
    oracle=bare_sql(_Q8_SQL),
    tags=("sql-interface", "tpch", "extension"),
)
def q_sql_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 analog (one nation's revenue share per year) executed as raw
    SQL text through spark.sql over read_table frames — the same string
    with bare table names is the DuckDB oracle, so this also pins the
    SQL dialect subset the engine promises to be portable."""
    return spark.sql(
        _Q8_SQL,
        lineitem=read_table(spark, sf_dir, "lineitem"),
        orders=read_table(spark, sf_dir, "orders"),
        supplier=read_table(spark, sf_dir, "supplier"),
        nation=read_table(spark, sf_dir, "nation"),
    )


@register(
    "nation_trade_flow_matrix",
    oracle="""
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               CAST(count(*) AS BIGINT) AS n_lines,
               ROUND(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                    * 10000) AS BIGINT)) / 10000.0, 4)
                   AS revenue
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        GROUP BY sn.n_name, cn.n_name
    """,
    tags=("tpch", "star-join", "extension"),
)
def q_nation_trade_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full supplier-nation × customer-nation trade matrix — TPC-H Q7
    without its two-nation filter: the fact table resolves TWO
    independent dimension paths (supplier side and order→customer
    side) before a |nations|²-bounded aggregate.

    Join order matters at scale and is declared accordingly: only the
    two nation copies are force-broadcast (25 rows at every SF).
    supplier and customer are SF-proportional (~100M / ~1.5B rows at
    100 TB), so their joins are left to Catalyst/AQE — equi-joins that
    AQE will broadcast at small SF and shuffle-hash at scale instead
    of OOMing executors on a forced broadcast. The final aggregate's
    cardinality is the square of the nation count regardless of fact
    volume.
    """
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = read_table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count("*").alias("n_lines"),
            # line revenue = 2-decimal price x 2-decimal multiplier: an
            # EXACT 4-decimal rational. Scale to integer ten-thousandths
            # (rounding a near-integer double has no .5 boundary), sum
            # exactly as integers, divide once — immune to the half-cent
            # summation-order ties that a ROUND(SUM(double), 2) can hit.
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                    ).cast("long")
                )
                / 10000.0,
                4,
            ).alias("revenue"),
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
        WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        cost AS (
            SELECT ps.l_partkey AS p_partkey, ps.l_suppkey AS suppkey,
                   CAST(round(p.p_retailprice * 100) AS BIGINT)
                       * (40 + (ps.l_partkey * 7 + ps.l_suppkey * 13) % 21) AS cost_int
            FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
            WHERE p.p_type = 'LARGE' AND p.p_size BETWEEN 10 AND 20
        ),
        eur AS (
            SELECT c.p_partkey, c.cost_int, s.s_acctbal, s.s_name, n.n_name
            FROM cost c
            JOIN supplier s ON c.suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
        )
        SELECT e.s_acctbal, e.s_name, e.n_name, e.p_partkey,
               ROUND(e.cost_int / 10000.0, 2) AS supplycost
        FROM eur e
        WHERE e.cost_int = (
            SELECT min(e2.cost_int) FROM eur e2 WHERE e2.p_partkey = e.p_partkey
        )
        ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, e.p_partkey
        LIMIT 100
    """,
    tags=("tpch", "correlated-subquery", "extension"),
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 analog: the cheapest EUROPE supplier for each qualifying part —
    the canonical correlated-scalar-subquery-per-group pattern, written
    DECORRELATED (reference join surface: LeanJoin.java:56-100 composed
    with the broadcast lookup of Step3Mapper.java:22-76).

    Adaptation to the driver schema: the (part, supplier) catalog is
    DISTINCT (l_partkey, l_suppkey) from lineitem (the repo's standard
    partsupp surrogate, as in Q16/Q20), and supply cost is a
    deterministic per-pair surrogate — 40-60%% of retail price keyed by
    (partkey, suppkey) — kept in INTEGER cent-percent units so the
    per-part min is exact arithmetic in both engines (a double min
    could tie-break differently under summation order).

    Scale shape: the oracle's correlated `cost_int = (SELECT min ...)`
    decorrelates into a per-part min aggregate joined back on
    (partkey, min). Only nation and region — the cardinality-BOUNDED
    dimensions — carry broadcast hints; part, supplier, and the
    per-part min table are all SF-proportional (data-sized at 100 TB),
    so their join strategies are left to Catalyst/AQE, which still
    broadcasts them at small SF but falls back to shuffled joins when
    they outgrow the broadcast budget instead of OOMing executors on a
    forced hint. The fact-table shuffles are lineitem's DISTINCT and
    the per-part min agg (map-side partials), both keyed on l_partkey —
    the min-join back re-uses that key, so AQE can keep it
    exchange-free. No cartesian. Top-100 compiles to
    TakeOrderedAndProject.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    nation, region = read_table(spark, sf_dir, "nation"), read_table(spark, sf_dir, "region")

    ps = li.select("l_partkey", "l_suppkey").distinct()
    p_f = part.where(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    ).select("p_partkey", "p_retailprice")
    cost = (
        ps.join(p_f, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            F.col("l_suppkey").alias("suppkey"),
            (
                F.round(F.col("p_retailprice") * 100).cast("long")
                * (40 + (F.col("l_partkey") * 7 + F.col("l_suppkey") * 13) % 21)
            ).alias("cost_int"),
        )
    )
    eur_supp = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eur = cost.join(eur_supp, F.col("suppkey") == F.col("s_suppkey"))
    min_cost = eur.groupBy(F.col("p_partkey").alias("mc_partkey")).agg(
        F.min("cost_int").alias("min_cost")
    )
    return (
        eur.join(
            min_cost,
            (F.col("p_partkey") == F.col("mc_partkey"))
            & (F.col("cost_int") == F.col("min_cost")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.round(F.col("cost_int") / 10000.0, 2).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )
