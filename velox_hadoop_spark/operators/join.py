"""Join operators: equi, broadcast, semi/anti, as-of, range.

Re-expresses the reference's join machinery Spark-first:

  * 1:N repartition equi-join — reference: src/main/java/org/dicl/velox/
    benchmark/LeanJoin.java:56-100 + PreMapper.java:11-54 +
    TextPair.java:10-58 (tagged union, partition by key, secondary sort
    on table tag, reducer pairs rows). All of that is one `df.join` —
    Catalyst picks broadcast-hash / shuffle-hash / sort-merge and AQE
    re-plans at runtime.
  * broadcast lookup — reference: Step3Mapper.java:22-76 (dormant
    in-memory HashMap per mapper) → explicit `F.broadcast`.
  * semi/anti/as-of/range joins — absent in the reference (SURVEY §2.3),
    exposed here as first-class operators.

Scale notes: dimension sides are broadcast so the fact table never
shuffles for lookups; the as-of join is a union + per-key window (one
shuffle, no point lookups); the range join keeps an equi component so
it stays a hash join with a residual predicate, never a nested loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def equi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Plain equi-join (reference J1's tagged-union dance collapses to this)."""
    return left.join(right, on=on)


def broadcast_lookup(fact: DataFrame, dim: DataFrame, on) -> DataFrame:
    """Map-side join: dim is replicated to every executor; fact stays put."""
    return fact.join(F.broadcast(dim), on=on)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str | list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right.ts <= left.ts`` on the same key (ties: right row wins, i.e.
    inclusive). Implemented as tagged union + forward-fill window — one
    shuffle on the key, linear in rows, no per-row lookups; this is the
    scale-correct pattern (a naive correlated max-subquery would be a
    join-per-row).

    ``key`` may be a single column or a composite key list (the grouped
    / multi-key as-of: per-symbol fills partition on every key column,
    which also bounds each window partition to one group's rows — the
    property that keeps the sort local at 100 TB).

    Two right rows on the SAME (key, ts) are a defined tie: the row
    with the greatest ``value_cols`` tuple wins. Without that ordering
    term the winner would be whichever row the shuffle happened to
    deliver last — a run-to-run nondeterminism that only shows up at
    scale (same-millisecond ticks), so the window order pins it.
    """
    keys = [key] if isinstance(key, str) else list(key)
    lcols = left.columns
    l = left.withColumn("__t", F.col(left_ts).cast("timestamp")).withColumn(
        "__tag", F.lit(1)
    )
    for v in value_cols:
        l = l.withColumn(f"__v_{v}", F.lit(None).cast(right.schema[v].dataType))
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).cast("timestamp").alias("__t"),
        F.lit(0).alias("__tag"),
        *[F.col(v).alias(f"__v_{v}") for v in value_cols],
    )
    for c in lcols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(l.schema[c].dataType))
    unioned = l.select(*lcols, "__t", "__tag", *[f"__v_{v}" for v in value_cols]).unionByName(
        r.select(*lcols, "__t", "__tag", *[f"__v_{v}" for v in value_cols])
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__t", "__tag", *[F.col(f"__v_{v}") for v in value_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        *lcols,
        "__tag",
        *[
            F.last(f"__v_{v}", ignorenulls=True).over(w).alias(f"asof_{v}")
            for v in value_cols
        ],
    )
    return filled.where(F.col("__tag") == 1).drop("__tag")


def range_join(
    left: DataFrame, right: DataFrame, equi_on: Column, range_cond: Column
) -> DataFrame:
    """Equi + range-predicate join. The equi component keeps Catalyst on a
    hash/sort-merge strategy with the range condition as a residual
    filter — never a broadcast-nested-loop over the fact table."""
    return left.join(right, equi_on & range_cond, "inner")


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "join_orders_customer",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("join", "reference:LeanJoin.java:56-100"),
)
def q_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 1:N repartition join as a single df.join."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    return equi_join(
        orders, customer, on=orders.o_custkey == customer.c_custkey
    ).select("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")


@register(
    "broadcast_region_rollup",
    oracle="""
        SELECT r.r_name, count(*) AS n_customers, ROUND(CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    tags=("join", "broadcast", "reference:Step3Mapper.java:22-76"),
)
def q_broadcast_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension chain via broadcast joins — fact side never shuffles."""
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    joined = broadcast_lookup(
        broadcast_lookup(
            customer, nation, on=customer.c_nationkey == nation.n_nationkey
        ),
        region,
        on=F.col("n_regionkey") == region.r_regionkey,
    )
    return joined.groupBy("r_name").agg(
        F.count("*").alias("n_customers"),
        F.round(
            F.sum(F.round(F.col("c_acctbal") * 100).cast("decimal(38,0)"))
            .cast("double")
            / 100.0,
            2,
        ).alias("total_acctbal"),
    )


@register(
    "semi_join_active_customers",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join", "semi"),
)
def q_semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return semi_join(
        customer, orders, on=customer.c_custkey == orders.o_custkey
    ).select("c_custkey", "c_name")


@register(
    "anti_join_no_urgent_orders",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
    """,
    tags=("join", "anti"),
)
def q_anti_join_no_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who never placed an urgent order (left anti join)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return anti_join(
        customer, urgent, on=customer.c_custkey == urgent.o_custkey
    ).select("c_custkey", "c_name")


@register(
    "asof_join_events",
    oracle="""
        WITH clicks AS (
            SELECT user_id, ts, max(value) AS click_value
            FROM events WHERE event_type = 'click'
            GROUP BY user_id, ts
        ),
        u AS (
            SELECT user_id, ts, 1 AS is_p, event_id, value, NULL::DOUBLE AS cv
            FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT user_id, ts, 0 AS is_p, NULL, NULL, click_value AS cv
            FROM clicks
        ),
        filled AS (
            SELECT event_id, user_id, ts, value, is_p,
                   last_value(cv IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, is_p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS asof_click_value
            FROM u
        )
        SELECT event_id, user_id, ts, value, asof_click_value
        FROM filled WHERE is_p = 1
    """,
    tags=("join", "asof"),
)
def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the value of the user's most recent click at or
    before the purchase timestamp (clicks deduped per (user, ts) by max)."""
    events = read_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["click_value"],
    )
    return out.select("event_id", "user_id", "ts", "value", "asof_click_value")


@register(
    "range_join_ship_window",
    oracle="""
        SELECT o.o_orderpriority,
               count(*) AS n_lineitems,
               ROUND(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS total_price
        FROM orders o
        JOIN lineitem l
          ON l.l_orderkey = o.o_orderkey
         AND l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
        GROUP BY o.o_orderpriority
    """,
    tags=("join", "range"),
)
def q_range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi+interval join: lineitems shipped within 30 days of order date."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    joined = range_join(
        orders,
        li,
        equi_on=li.l_orderkey == orders.o_orderkey,
        range_cond=(li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate <= F.timestamp_add("DAY", F.lit(30), orders.o_orderdate)),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lineitems"),
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)"))
            .cast("double")
            / 100.0,
            2,
        ).alias("total_price"),
    )
