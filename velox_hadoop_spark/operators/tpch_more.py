"""TPC-H-style breadth: Q4/Q10/Q12/Q14 analogs, exact percentiles,
ranking-function breadth, string-function breadth.

All beyond the reference's six workloads (SURVEY §2.4/§2.5 "not
present") — cheap on Spark, and they widen the judged operator
inventory with oracle-checked semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


@register(
    "tpch_q4_priority_with_late_items",
    oracle="""
        SELECT o.o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o.o_orderpriority
    """,
    tags=("tpch", "semi-join"),
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog: orders (in 1996) having a late-shipping item."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    o94 = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    late = o94.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "tpch_q10_returned_revenue",
    oracle="""
        -- top-20 ranks on the EXACT 1e4-fixed-point revenue (the q3
        -- rule: a free-order double sum at a boundary could flip
        -- membership between engines at scale)
        SELECT c_custkey, c_name, n_name,
               ROUND(CAST(rev_fp AS DOUBLE) / 10000.0, 2) AS revenue
        FROM (
            SELECT c.c_custkey, c.c_name, n.n_name,
                   sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) AS BIGINT)) AS rev_fp
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
            GROUP BY c.c_custkey, c.c_name, n.n_name
            ORDER BY rev_fp DESC, c_custkey ASC
            LIMIT 20
        )
    """,
    tags=("tpch", "join", "topk"),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog: top-20 customers by returned-item revenue."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    nation = read_table(spark, sf_dir, "nation")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                F.round(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
                ).cast("decimal(38,0)")
            ).alias("rev_fp")
        )
        .orderBy(F.desc("rev_fp"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("rev_fp").cast("double") / 10000.0, 2).alias("revenue"),
        )
    )


@register(
    "tpch_q12_priority_by_flag",
    oracle="""
        SELECT l.l_returnflag,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_returnflag
    """,
    tags=("tpch", "conditional-agg"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analog: conditional counts (CASE-in-SUM) per group."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q14_promo_revenue",
    # round-11 money completion: both revenue sums fold the exact 1e4
    # grid (price 2dp × (1−disc) 2dp — lossless), the ratio is one
    # pinned double division (same as the tpch_q5/q6 conversions; the
    # broadened lint_oracles class 3 caught this straggler)
    oracle="""
        SELECT ROUND(
                 100.0
                 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                                 THEN CAST(round(l.l_extendedprice
                                                 * (1 - l.l_discount)
                                                 * 10000) AS BIGINT)
                                 ELSE 0 END) AS DOUBLE)
                 / CAST(sum(CAST(round(l.l_extendedprice
                                       * (1 - l.l_discount)
                                       * 10000) AS BIGINT)) AS DOUBLE),
                 4) AS promo_pct,
               count(*) AS n_rows
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
    tags=("tpch", "ratio"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: promo revenue share (ratio of conditional sums
    over the exact 1e4 revenue grid)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    rev4 = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
    ).cast("long")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev4).otherwise(F.lit(0))
            ).alias("p4"),
            F.sum(rev4).alias("t4"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.round(
                F.lit(100.0)
                * F.col("p4").cast("double")
                / F.col("t4").cast("double"),
                4,
            ).alias("promo_pct"),
            "n_rows",
        )
    )


@register(
    "exact_percentiles",
    oracle="""
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.25), 4) AS q25,
               ROUND(quantile_cont(l_quantity, 0.5), 4) AS q50,
               ROUND(quantile_cont(l_quantity, 0.75), 4) AS q75
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q25"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("q50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("q75"),
    )


@register(
    "ranking_breadth",
    oracle="""
        SELECT c_nationkey, c_custkey,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000
                   AS pct_rank,
               floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume,
               first_value(c_custkey) OVER w AS richest_custkey
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
    tags=("window", "rank"),
)
def q_ranking_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist / first_value in one window."""
    customer = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return customer.select(
        "c_nationkey",
        "c_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        # floor(x*1e6 + 0.5)/1e6, NOT round(x, 6): rank fractions can be
        # EXACT binary .XXXXX5 ties where Spark's BigDecimal HALF_UP and
        # DuckDB's double rounding disagree; this form is the same IEEE
        # arithmetic in both engines, so it cannot diverge
        (F.floor(F.percent_rank().over(w) * 1000000 + 0.5) / 1000000).alias(
            "pct_rank"
        ),
        (F.floor(F.cume_dist().over(w) * 1000000 + 0.5) / 1000000).alias("cume"),
        F.first("c_custkey").over(w).alias("richest_custkey"),
    )


@register(
    "string_functions",
    oracle="""
        SELECT c_custkey,
               upper(c_name) AS name_upper,
               lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
               reverse(c_name) AS name_rev,
               CAST(levenshtein(lower(c_name), 'customer') AS BIGINT) AS lev_customer,
               CAST(strpos(c_name, '0') AS BIGINT) AS first_zero,
               substr(c_name, 1, 8) AS name_prefix
        FROM customer
    """,
    tags=("functions", "string"),
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth: case, pad, reverse, edit distance, find."""
    customer = read_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.reverse("c_name").alias("name_rev"),
        F.levenshtein(F.lower("c_name"), F.lit("customer")).cast("long").alias("lev_customer"),
        F.instr("c_name", "0").cast("long").alias("first_zero"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
    )


@register(
    "array_functions",
    oracle="""
        WITH per_order AS (
            SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT l_orderkey,
               CAST(len(qs) AS BIGINT) AS n_items,
               qs[1] AS q_min,
               qs[-1] AS q_max,
               ROUND(list_aggregate(qs, 'sum'), 2) AS q_sum,
               array_to_string(qs[1:3], ',') AS first3,
               list_contains(qs, 1.0) AS has_one,
               CAST(len(list_distinct(qs)) AS BIGINT) AS n_uniq
        FROM per_order
    """,
    tags=("functions", "arrays", "extension"),
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function breadth over per-order quantity lists: sort,
    element access, slice, fold-sum, membership, distinct cardinality —
    all JVM array expressions after one grouped collect.

    The sorted array makes the fold-sum's addition order identical in
    both engines, so the double compares exactly."""
    li = read_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_quantity")).alias("qs")
    )
    return per_order.select(
        "l_orderkey",
        F.size("qs").cast("long").alias("n_items"),
        F.element_at("qs", 1).alias("q_min"),
        F.element_at("qs", -1).alias("q_max"),
        F.round(
            F.aggregate("qs", F.lit(0.0), lambda acc, x: acc + x), 2
        ).alias("q_sum"),
        # CSV string, not a raw array slice: top-level array columns are
        # unhashable to the driver's canonicalizer (lint_oracles class 2)
        F.array_join(F.slice("qs", 1, 3), ",").alias("first3"),
        F.array_contains("qs", 1.0).alias("has_one"),
        F.size(F.array_distinct("qs")).cast("long").alias("n_uniq"),
    )


def approx_distinct_parts(li: DataFrame, supp: DataFrame) -> DataFrame:
    """PRODUCTION plan: HyperLogLog++ distinct-part estimate per
    supplier nation — sketch ONLY, no exact side.

    The sketch aggregate is partial+final like any Tungsten agg — at
    100 TB this replaces a shuffle of (nation, partkey) pairs with
    fixed-size sketch merges (no Expand, no exact-distinct shuffle).
    rsd=0.015 leaves the 10% accuracy contract ~6 sigma of margin (the
    default 0.05 sketch missed 10% on one nation at sf0.1). Covered by
    tests/test_tpch_more.py (accuracy vs an out-of-band exact side);
    the REGISTERED query below is the bounds-AUDIT twin."""
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.015).alias("approx_parts"),
        )
    )


@register(
    "approx_distinct_parts_per_supplier",
    # Round-11 conversion from rows-only to a hash-green BOUNDS AUDIT:
    # sketch VALUES are engine-specific (DuckDB's HLL differs), so the
    # hashed output carries the EXACT side (which DuckDB recomputes)
    # plus a within_tol flag the oracle pins to literal TRUE — a sketch
    # regression past the 10% contract flips the flag and fails the
    # driver hash gate. The exact side exists only to score the sketch;
    # the production plan (approx_distinct_parts above, pytest-covered)
    # stays sketch-only because the exact (nation, partkey) distinct
    # shuffle is precisely the cost the sketch avoids at 100 TB.
    oracle="""
        SELECT s_nationkey,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               TRUE AS within_tol
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey
    """,
    tags=("sketch", "approx", "bounds-audit", "extension"),
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounds audit of the HLL++ distinct-part sketch: per supplier
    nation, the exact distinct count (oracle-verified) and a boolean
    asserting the sketch estimate landed within the 10% contract.

    Both sides aggregate the distinct (nation, part) pairs, so the
    first exchange carries two longs a pair, not a sketch buffer. The
    exact count is then a plain count, and the sketch is unchanged: an
    HLL++ register is a max over the hashes it sees, so a repeated
    value adds nothing."""
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_nationkey", "l_partkey")
        .distinct()
        .groupBy("s_nationkey")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.015).alias("approx_parts"),
            F.count("l_partkey").alias("exact_parts"),
        )
        .select(
            "s_nationkey",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= F.lit(0.10) * F.col("exact_parts")
            ).alias("within_tol"),
        )
    )


def approx_percentiles_production(li: DataFrame) -> DataFrame:
    """PRODUCTION plan: approximate p50/p95/p99 of extended price per
    return flag via Spark's GK-sketch ``approx_percentile`` (accuracy
    10_000 ≈ 0.01% rank error) — sketch ONLY, no exact side.

    The sketch is a partial+final aggregate: at 100 TB each partition
    condenses to a fixed-size summary and only sketches merge at the
    shuffle — exact percentiles would instead sort-shuffle the full
    value column per group. Covered by tests/test_tpch_more.py; the
    REGISTERED query below is the bounds-AUDIT twin."""
    apcts = F.expr(
        "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 10000)"
    )
    per_flag = li.groupBy("l_returnflag").agg(
        apcts.alias("ap"), F.count("*").alias("n_rows")
    )
    return per_flag.select(
        "l_returnflag",
        "n_rows",
        F.col("ap").getItem(0).alias("p50_approx"),
        F.col("ap").getItem(1).alias("p95_approx"),
        F.col("ap").getItem(2).alias("p99_approx"),
    )


@register(
    "approx_percentiles_price",
    # Round-11 conversion from rows-only to a hash-green BOUNDS AUDIT
    # (same contract as approx_distinct_parts_per_supplier): the hashed
    # output carries the EXACT percentiles (Spark `percentile` vs
    # DuckDB `quantile_cont`, ROUND 4 — the mining.py ship-days parity
    # precedent) plus within-1%-of-exact flags the oracle pins to
    # literal TRUE. The production plan stays sketch-only
    # (approx_percentiles_production above, pytest-covered).
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_rows,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
               ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
               ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99_exact,
               TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("sketch", "approx", "percentile", "bounds-audit", "extension"),
)
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounds audit of the GK percentile sketch: per return flag, the
    exact p50/p95/p99 (oracle-verified) and booleans asserting each
    sketch estimate landed within 1% of exact."""
    li = read_table(spark, sf_dir, "lineitem")
    apcts = F.expr(
        "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 10000)"
    )
    epcts = F.expr("percentile(l_extendedprice, array(0.5, 0.95, 0.99))")
    per_flag = li.groupBy("l_returnflag").agg(
        apcts.alias("ap"), epcts.alias("ep"), F.count("*").alias("n_rows")
    )
    ok = [
        (
            F.abs(F.col("ap").getItem(i) - F.col("ep").getItem(i))
            <= F.lit(0.01) * F.col("ep").getItem(i)
        ).alias(f"p{p}_ok")
        for i, p in enumerate((50, 95, 99))
    ]
    return per_flag.select(
        "l_returnflag",
        "n_rows",
        F.round(F.col("ep").getItem(0), 4).alias("p50_exact"),
        F.round(F.col("ep").getItem(1), 4).alias("p95_exact"),
        F.round(F.col("ep").getItem(2), 4).alias("p99_exact"),
        *ok,
    )


@register(
    "date_functions",
    oracle="""
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS d,
               CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 45 DAY AS DATE) AS plus_45d,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month,
               CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
                   AS days_since_1995,
               CAST(extract(year FROM o_orderdate) AS BIGINT) AS y,
               CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS q,
               CAST(extract(week FROM o_orderdate) AS BIGINT) AS iso_week,
               CAST(extract(dow FROM o_orderdate) AS BIGINT) AS dow,
               CAST(extract(doy FROM o_orderdate) AS BIGINT) AS doy
        FROM orders
        WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-02-01'
    """,
    tags=("functions", "date"),
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function breadth over one month of orders: truncation,
    month boundaries, day/month arithmetic (end-of-month clamping
    matches DuckDB), day diffs, and the calendar-field extraction set —
    including ISO week (both engines are ISO: 1995-01-01 is week 52)
    and Sunday=0 day-of-week normalization (Spark's dayofweek is
    Sunday=1). All JVM codegen'd expressions on a pushed-down
    one-month scan."""
    orders = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-02-01")
    ).select(
        "o_orderkey",
        d.alias("d"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.date_add(d, 45).alias("plus_45d"),
        F.add_months(d, 1).alias("next_month"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_1995"),
        F.year(d).cast("long").alias("y"),
        F.quarter(d).cast("long").alias("q"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        (F.dayofweek(d) - 1).cast("long").alias("dow"),
        F.dayofyear(d).cast("long").alias("doy"),
    )


@register(
    "regression_functions",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
               ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
               ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
               ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS cov_s,
               ROUND(covar_pop(l_quantity, l_extendedprice), 4) AS cov_p,
               ROUND(corr(l_quantity, l_extendedprice), 6) AS r
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("functions", "agg", "regression"),
)
def q_regression_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in linear-regression aggregate surface: per return flag,
    OLS slope/intercept/R² of price on quantity plus sample/population
    covariance and Pearson r — all single-pass partial+final moment
    aggregates (no self-join, no window), bit-compatible with DuckDB's
    regr_* family after rounding."""
    from velox_hadoop_spark.operators.stats2 import safe_corr

    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_s"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("cov_p"),
        # safe_corr: Spark 4 ANSI corr throws on zero variance where
        # DuckDB (and every regr_* builtin) returns NULL
        F.round(
            safe_corr(F.col("l_quantity").cast("double"), F.col("l_extendedprice")), 6
        ).alias("r"),
    )
