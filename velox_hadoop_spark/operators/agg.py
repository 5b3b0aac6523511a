"""Aggregation operators: grouped sums/counts, collect_list, TPC-H-style
analytics, rollup/grouping sets, distinct aggregates.

Re-expresses the reference's aggregation surface Spark-first:

  * partial+final grouped sum — reference: src/main/java/org/dicl/velox/
    benchmark/WordCount.java:54-82 (IntSumReducer as combiner AND
    reducer). Tungsten's HashAggregateExec does partial/final splitting
    automatically — shuffle carries pre-aggregated pairs only.
  * collect_list / string_agg — reference: Step1Reducer.java:11-28
    (outlinks gathered into a comma-joined string).
  * post-aggregate expressions — reference: Step2Reducer.java:17-41
    (damping formula applied after the grouped sum).

The TPC-H-style queries go beyond the reference (SURVEY §2.4 "not
present") — they cost nothing on Spark and define the benchmark corpus.

Scale notes: every aggregate here is a hash aggregate with map-side
combine; no collect, no single-task stage. Double-typed aggregates are
rounded at the output boundary (both in the Spark plan and the oracle)
so results are stable under any partition/reduction order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def sorted_csv_agg(value) -> "F.Column":
    """Aggregate expression: group values as a deterministic
    comma-joined string (reference Step1Reducer semantics, made
    order-stable; the repo-standard hashable form for collected
    lists). Single source for the expression so the registered queries
    cannot drift."""
    return F.array_join(
        F.transform(F.array_sort(F.collect_list(value)), lambda x: x.cast("string")),
        ",",
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "collect_orderkeys",
    oracle="""
        SELECT o_custkey,
               string_agg(o_orderkey, ',' ORDER BY o_orderkey) AS items,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
    """,
    tags=("agg", "reference:Step1Reducer.java:11-28"),
)
def q_collect_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list as deterministic csv per key (adjacency-list idiom)."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            sorted_csv_agg("o_orderkey").alias("items"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "tpch_q1_pricing_summary",
    oracle="""
        -- exact fixed-point money (round-9 review find): a 100 TB
        -- group's double sum has ulp ~1.0 — it cannot resolve cents
        -- and its value depends on accumulation order. Quantities sum
        -- as exact integers; prices as cents; disc_price/charge as
        -- 1e4/1e6 fixed point (their algebraic grids); DuckDB BIGINT
        -- sums promote to HUGEINT, the Spark twin rides decimal(38,0).
        SELECT l_returnflag, l_linestatus,
               ROUND(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE), 2) AS sum_qty,
               ROUND(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS sum_base_price,
               ROUND(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                         * 10000) AS BIGINT))
                          AS DOUBLE) / 10000.0, 2) AS sum_disc_price,
               ROUND(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                         * (1 + l_tax) * 1000000) AS BIGINT))
                          AS DOUBLE) / 1000000.0, 2) AS sum_charge,
               ROUND(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                     / count(*), 4) AS avg_qty,
               ROUND(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0 / count(*), 4) AS avg_price,
               ROUND(CAST(sum(CAST(round(l_discount * 100) AS BIGINT))
                          AS DOUBLE) / 100.0 / count(*), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "tpch"),
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the flagship wide aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    qty = F.sum(F.col("l_quantity").cast("long").cast("decimal(38,0)"))
    base_c = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
    )
    disc_fp = F.sum(F.round(disc_price * 10000).cast("decimal(38,0)"))
    charge_fp = F.sum(
        F.round(disc_price * (1 + F.col("l_tax")) * 1000000).cast("decimal(38,0)")
    )
    disc_c = F.sum(F.round(F.col("l_discount") * 100).cast("decimal(38,0)"))
    n = F.count("*")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # exact fixed-point money (round-9 review find) — see the
            # oracle comment; every sum is an exact integer in
            # decimal(38,0) and only the display divides to double
            F.round(qty.cast("double"), 2).alias("sum_qty"),
            F.round(base_c.cast("double") / 100.0, 2).alias("sum_base_price"),
            F.round(disc_fp.cast("double") / 10000.0, 2).alias("sum_disc_price"),
            F.round(charge_fp.cast("double") / 1000000.0, 2).alias("sum_charge"),
            F.round(qty.cast("double") / n, 4).alias("avg_qty"),
            F.round(base_c.cast("double") / 100.0 / n, 4).alias("avg_price"),
            F.round(disc_c.cast("double") / 100.0 / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
        -- the top-10 ranks on the EXACT 1e4-fixed-point revenue sum,
        -- not a free-order double (a boundary-straddling double sum
        -- could flip top-10 membership between engines at scale;
        -- round-9 review find); only the display divides to dollars
        SELECT o_orderkey,
               ROUND(CAST(rev_fp AS DOUBLE) / 10000.0, 2) AS revenue,
               o_orderdate
        FROM (
            SELECT o.o_orderkey, o.o_orderdate,
                   sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) AS BIGINT)) AS rev_fp
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY o.o_orderkey, o.o_orderdate
            ORDER BY rev_fp DESC, o_orderkey ASC
            LIMIT 10
        )
    """,
    tags=("agg", "tpch", "join"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: top-10 unshipped orders by revenue."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    return (
        li.where(F.col("l_shipdate") > cutoff)
        .join(
            orders.where(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.where(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(
                F.round(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
                ).cast("decimal(38,0)")
            ).alias("rev_fp")
        )
        .orderBy(F.desc("rev_fp"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.round(F.col("rev_fp").cast("double") / 10000.0, 2).alias("revenue"),
            "o_orderdate",
        )
    )


@register(
    "tpch_q5_local_volume",
    oracle="""
        SELECT n.n_name,
               ROUND(CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                         * 10000) AS BIGINT)) AS DOUBLE)
                     / 10000.0, 2) AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
    """,
    tags=("agg", "tpch", "join"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier volume per nation."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
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
    "tpch_q6_forecast_revenue",
    oracle="""
        SELECT ROUND(CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
                                    AS BIGINT)) AS DOUBLE) / 10000.0, 2)
                   AS revenue,
               count(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    tags=("agg", "tpch", "filter-pushdown"),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: tight-filter single-row aggregate (pushdown showcase)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * F.col("l_discount") * 10000
                    ).cast("decimal(38,0)")
                ).cast("double")
                / 10000.0,
                2,
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "stats_per_segment",
    oracle="""
        WITH g AS (
            SELECT c_mktsegment,
                   count(*) AS n,
                   CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
                   ROUND(min(c_acctbal), 2) AS min_bal,
                   ROUND(max(c_acctbal), 2) AS max_bal,
                   sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s,
                   sum(CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(c_acctbal * 100) AS BIGINT)) AS q
            FROM customer
            GROUP BY c_mktsegment
        )
        SELECT c_mktsegment,
               CAST(n AS BIGINT) AS n,
               n_nations, min_bal, max_bal,
               ROUND(CAST(s AS DOUBLE) / n / 100.0, 4) AS avg_bal,
               CASE WHEN n > 1 THEN
                   ROUND(sqrt(CAST(CAST(n AS HUGEINT) * q
                                   - CAST(s AS HUGEINT) * s AS DOUBLE)
                              / (CAST(n AS DOUBLE) * (n - 1))) / 100.0, 4)
               END AS sd_bal
        FROM g
    """,
    tags=("agg", "distinct"),
)
def q_stats_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate breadth: min/max/avg/stddev/count distinct per segment.

    Money-exactness (the round-9 sweep's last remainder): avg and
    sample-stddev over the money column ride EXACT integer-cent
    moments (Σx BIGINT, Σx² decimal-38/HUGEINT — the Cohen's-d
    pattern), with the variance numerator n·Σx² − (Σx)² formed in
    exact 128-bit integers (always ≥ 0, so no negative-residue guard)
    and ONE pinned double sequence in both engines. min/max are exact
    selections, not sums — they stay as-is."""
    customer = read_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    g = customer.withColumn("x", cents).groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
    )
    m = (
        F.col("n").cast("decimal(38,0)") * F.col("q")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    )
    return g.select(
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        "n_nations",
        "min_bal",
        "max_bal",
        F.round(F.col("s").cast("double") / F.col("n") / 100.0, 4).alias("avg_bal"),
        F.when(
            F.col("n") > 1,
            F.round(
                F.sqrt(
                    m.cast("double") / (F.col("n").cast("double") * (F.col("n") - 1))
                )
                / 100.0,
                4,
            ),
        ).alias("sd_bal"),
    )


@register(
    "rollup_returnflag_status",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               ROUND(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def q_rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (subtotals + grand total) — beyond-reference."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "damped_rank_formula",
    oracle="""
        SELECT l_suppkey AS node,
               -- sum THEN divide: l_quantity is integer-valued, so
               -- sum(l_quantity) is order-exact in double while the
               -- per-row /10.0 made every term inexact and the sum
               -- order-dependent — a cross-engine ROUND-flip class at
               -- billions of groups (round-9 review find)
               ROUND(0.15 + 0.85 * (sum(l_quantity) / 10.0), 6) AS rank
        FROM lineitem
        GROUP BY l_suppkey
    """,
    tags=("agg", "reference:Step2Reducer.java:17-41"),
)
def q_damped_rank_formula(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped float sum + post-aggregate damping expression (A5)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_suppkey").alias("node"))
        .agg((F.sum("l_quantity") / 10.0).alias("s"))
        .select("node", F.round(F.lit(0.15) + F.lit(0.85) * F.col("s"), 6).alias("rank"))
    )


@register(
    "histogram_order_totals",
    oracle="""
        WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
        SELECT CAST(CASE WHEN hi = lo THEN 0 ELSE
                    least(floor((o_totalprice - lo) / ((hi - lo) / 20)), 19)
               END AS INTEGER) AS bucket,
               count(*) AS n_orders,
               ROUND(min(o_totalprice), 2) AS bucket_min,
               ROUND(max(o_totalprice), 2) AS bucket_max
        FROM orders, b
        GROUP BY bucket
    """,
    tags=("agg", "histogram", "extension"),
)
def q_histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of order totals.

    The global min/max arrive as a broadcast 1-row aggregate (never a
    driver collect); binning is a pure projection, so at 100 TB this is
    two scans (bounds + bin) — or one, if bounds are known from table
    stats — and one partial+final count agg. The same shape backs
    approximate quantile sketches and data-profiling passes.
    """
    orders = read_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    # hi = lo (constant column / single row): zero bucket width — all
    # rows land in bucket 0 instead of an ANSI DIVIDE_BY_ZERO
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 20)
                ),
                F.lit(19),
            )
        )
        .cast("int")
        .alias("bucket"),
        "o_totalprice",
    )
    return binned.groupBy("bucket").agg(
        F.count("*").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("bucket_min"),
        F.round(F.max("o_totalprice"), 2).alias("bucket_max"),
    )


@register(
    "corr_quantity_price",
    oracle="""
        SELECT l_returnflag,
               ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "statistics", "extension"),
)
def q_corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance of quantity vs price per
    return flag — the statistical-profiling aggregates, partial+final
    like any Tungsten agg (each partition keeps (n, Σx, Σy, Σxy, ...)
    moments; only moments merge at the shuffle)."""
    from velox_hadoop_spark.operators.stats2 import safe_corr

    li = read_table(spark, sf_dir, "lineitem")
    # safe_corr, not F.corr: Spark 4's ANSI corr THROWS DIVIDE_BY_ZERO
    # on a zero-variance group where DuckDB returns NULL (degenerate
    # sweep); the moment form's 1e-12 noise is absorbed by the 6 dp round
    return li.groupBy("l_returnflag").agg(
        F.round(
            safe_corr(F.col("l_quantity").cast("double"), F.col("l_extendedprice")), 6
        ).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
    )


@register(
    "ols_price_trend",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n,
               ROUND(regr_slope(o_totalprice,
                     date_diff('day', DATE '1992-01-01', o_orderdate)), 6) AS slope,
               ROUND(regr_intercept(o_totalprice,
                     date_diff('day', DATE '1992-01-01', o_orderdate)), 4) AS intercept
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("agg", "statistics", "regression", "extension"),
)
def q_ols_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority least-squares trend of order value over time.

    ``regr_slope`` / ``regr_intercept`` are moment aggregates like
    corr/covar: each partition keeps (n, Σx, Σy, Σxy, Σx²) and only
    moments merge at the shuffle — a partial+final hash agg at any
    scale. x is integer days from a fixed epoch (small magnitude keeps
    the moment arithmetic well-conditioned; raw epoch-seconds x would
    lose the slope to catastrophic cancellation in doubles).
    """
    orders = read_table(spark, sf_dir, "orders")
    x = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
    y = F.col("o_totalprice")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
    )


@register(
    "conditional_agg_flags",
    oracle="""
        WITH ranked AS (
            SELECT o_orderstatus, o_orderkey, o_totalprice, o_orderpriority,
                   row_number() OVER (
                       PARTITION BY o_orderstatus
                       ORDER BY o_totalprice DESC, o_orderkey DESC
                   ) AS rb,
                   row_number() OVER (
                       PARTITION BY o_orderstatus
                       ORDER BY o_totalprice ASC, o_orderkey ASC
                   ) AS rw
            FROM orders
        )
        SELECT o_orderstatus,
               CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
               bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
               bool_and(o_totalprice > 0) AS all_positive,
               max(CASE WHEN rb = 1 THEN o_orderkey END) AS top_order,
               min(CASE WHEN rw = 1 THEN o_orderkey END) AS bottom_order
        FROM ranked
        GROUP BY o_orderstatus
    """,
    tags=("agg", "conditional", "functions", "extension"),
)
def q_conditional_agg_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate surface: count_if / bool_or / bool_and /
    max_by / min_by per order status — the predicate-aggregate family
    every SQL dialect ships. All are plain partial+final hash
    aggregates (each partition folds its predicate locally; only the
    per-group scalars shuffle). max_by/min_by ride a (price, orderkey)
    STRUCT key so price ties resolve deterministically — prices live on
    a 2-dp grid, so ties are pigeonhole-certain once a status group
    outgrows the distinct-price domain (~5e7), and a bare-price key let
    each engine pick an arbitrary orderkey (round-9 review find; the
    docstring's old 'ties are impossible' claim only held at tiny SFs).
    The oracle states the same tie rule as row_number CTEs (the
    argmax_order_extremes pattern — DuckDB's max_by takes no struct
    key).
    """
    orders = read_table(spark, sf_dir, "orders")
    key = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return orders.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.max_by("o_orderkey", key).alias("top_order"),
        F.min_by("o_orderkey", key).alias("bottom_order"),
    )


@register(
    "argmax_order_extremes",
    oracle="""
        WITH ranked AS (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey DESC
                   ) AS rb,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice ASC, o_orderkey ASC
                   ) AS rw
            FROM orders
        )
        SELECT o_custkey,
               max(CASE WHEN rb = 1 THEN o_orderkey END) AS best_order,
               max(CASE WHEN rw = 1 THEN o_orderkey END) AS worst_order,
               count(*) AS n_orders,
               ROUND(max(o_totalprice) - min(o_totalprice), 2) AS price_range
        FROM ranked GROUP BY o_custkey
    """,
    tags=("agg", "argmax", "extension"),
)
def q_argmax_order_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer argmax/argmin as PURE AGGREGATION: the orderkey of
    the most and least expensive order via ``max_by``/``min_by`` over a
    (price, key) struct — deterministic under price ties and computed
    in one partial+final hash aggregate with NO window sort.

    This is the scale-preferred form of "row of the max": a row_number
    window (the oracle's formulation) must shuffle AND sort every
    group; max_by keeps map-side partial aggregation (each partition
    forwards one candidate per group), so shuffle volume is group
    cardinality, not row count.
    """
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))").alias("best_order"),
        F.expr("min_by(o_orderkey, struct(o_totalprice, o_orderkey))").alias("worst_order"),
        F.count("*").alias("n_orders"),
        F.round(F.max("o_totalprice") - F.min("o_totalprice"), 2).alias("price_range"),
    )


@register(
    "topk_parts_per_supplier_agg",
    oracle="""
        WITH sp AS (
            SELECT l_suppkey AS s, l_partkey AS p,
                   CAST(SUM(l_quantity) AS DOUBLE) AS qty
            FROM lineitem GROUP BY 1, 2
        ),
        ranked AS (
            SELECT s, p, qty,
                   CAST(row_number() OVER (
                       PARTITION BY s ORDER BY qty DESC, p DESC
                   ) AS BIGINT) AS rnk
            FROM sp
        )
        SELECT s, p, ROUND(qty, 2) AS qty, rnk FROM ranked WHERE rnk <= 3
    """,
    tags=("agg", "topk-per-group", "extension"),
)
def q_topk_parts_per_supplier_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per supplier by shipped quantity, composed from
    aggregation primitives instead of a ranking window:
    ``sort_array(collect_list(struct), desc)`` → ``slice`` →
    ``posexplode``. Ties broken by part key inside the struct ordering,
    so the result is deterministic and window-oracle-reproducible.

    Scale shape: the per-group state is bounded by parts-per-supplier
    (data-model-bounded here); for unbounded groups the same plan gets
    a pre-aggregation guard (per-partition top-k before the final
    slice). Unlike the row_number window, nothing global sorts.
    """
    li = read_table(spark, sf_dir, "lineitem")
    sp = (
        li.groupBy(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .agg(F.sum("l_quantity").cast("double").alias("qty"))
    )
    topk = (
        sp.groupBy("s")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct(F.col("qty"), F.col("p"))), asc=False
                ),
                1,
                3,
            ).alias("top")
        )
        .select("s", F.posexplode("top").alias("pos", "entry"))
    )
    return topk.select(
        "s",
        F.col("entry.p").alias("p"),
        F.round(F.col("entry.qty"), 2).alias("qty"),
        (F.col("pos") + 1).cast("long").alias("rnk"),
    )


@register(
    "weighted_median_quantity",
    oracle="""
        WITH wq AS (
            SELECT l_returnflag, l_quantity,
                   SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w
            FROM lineitem GROUP BY l_returnflag, l_quantity
        ),
        cum AS (
            SELECT l_returnflag, l_quantity,
                   SUM(w) OVER (
                       PARTITION BY l_returnflag ORDER BY l_quantity
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cw,
                   SUM(w) OVER (PARTITION BY l_returnflag) AS tw
            FROM wq
        )
        SELECT l_returnflag,
               ROUND(min(l_quantity), 2) AS weighted_median
        FROM cum
        WHERE cw * 2 >= tw
        GROUP BY l_returnflag
    """,
    tags=("agg", "window", "weighted-percentile", "extension"),
)
def q_weighted_median_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median quantity per return flag: the smallest
    quantity whose cumulative revenue weight reaches half the group
    total — the weighted-percentile primitive neither engine ships as
    a builtin, composed from a pre-aggregate (one row per distinct
    value, so the window input is value-cardinality-bounded) and a
    cumulative-sum window.
    """
    li = read_table(spark, sf_dir, "lineitem")
    # weights in EXACT integer cents and the half-total membership as
    # cw * 2 >= tw: the median pick is a discrete jump, so a cumulative
    # double sum within ulps of tw/2 would shift the answer to the next
    # quantity in one engine only — integer arithmetic cannot
    wq = li.groupBy("l_returnflag", "l_quantity").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("w")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = wq.select(
        "l_returnflag",
        "l_quantity",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
    )
    return (
        cum.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.round(F.min("l_quantity"), 2).alias("weighted_median"))
    )


@register(
    "longest_order_streak",
    oracle="""
        WITH days AS (
            SELECT DISTINCT o_custkey AS ck, CAST(o_orderdate AS DATE) AS d
            FROM orders
        ),
        islands AS (
            SELECT ck,
                   d - CAST(row_number() OVER (
                       PARTITION BY ck ORDER BY d
                   ) AS INT) AS grp
            FROM days
        ),
        streaks AS (
            SELECT ck, grp, count(*) AS len FROM islands GROUP BY ck, grp
        )
        SELECT len AS streak_days,
               count(*) AS n_customers
        FROM (SELECT ck, max(len) AS len FROM streaks GROUP BY ck)
        GROUP BY len
    """,
    tags=("window", "gaps-and-islands", "extension"),
)
def q_longest_order_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day ordering streak per customer, reported
    as a streak-length histogram — the gaps-and-islands pattern: a
    date minus its per-customer row_number is constant exactly within
    a run of consecutive days, so one window plus two aggregates finds
    every maximal streak with a single shuffle on the customer key.
    """
    days = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("ck").orderBy("d")
    islands = days.select(
        "ck", F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp")
    )
    streaks = islands.groupBy("ck", "grp").agg(F.count("*").alias("len"))
    best = streaks.groupBy("ck").agg(F.max("len").alias("len"))
    return best.groupBy(F.col("len").alias("streak_days")).agg(
        F.count("*").alias("n_customers")
    )
