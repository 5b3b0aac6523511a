"""Analytic window functions: running totals, lag/lead, moving averages,
partitioned ranking.

The reference's only windowing is the global rank counter in
LeanSort.java:99-108 (covered by operators/sort.py); partitioned
analytic windows are "not present" in SURVEY §2.5 and exposed here as
first-class operators.

Scale notes: every window below is partitioned (one shuffle on the
partition key, then a per-key sort); none uses an unpartitioned global
window, which would funnel all rows through one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def running_total(df: DataFrame, key: str, order: list[str], value: str, out: str) -> DataFrame:
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out, F.sum(value).over(w))


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "window_customer_orders",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate,
               -- running total in exact cents (per-customer sums are
               -- small today, but the cumulative double sum is the
               -- order-dependence class at scale)
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w_cum
                    AS DOUBLE) / 100.0 AS running_total,
               ROUND(lag(o_totalprice, 1) OVER w_ord, 2) AS prev_price,
               ROUND(lead(o_totalprice, 1) OVER w_ord, 2) AS next_price,
               ROUND(avg(o_totalprice) OVER w_ma3, 4) AS moving_avg3,
               CAST(row_number() OVER w_ord AS BIGINT) AS order_seq
        FROM orders
        WINDOW w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               w_cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_ma3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("window",),
)
def q_window_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order timeline: running total, lag/lead, 3-row moving
    average, sequence number — one shuffle on o_custkey serves all four."""
    orders = read_table(spark, sf_dir, "orders")
    w_ord = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_ma3 = w_ord.rowsBetween(-2, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .over(w_cum)
            .cast("double")
            / 100.0
        ).alias("running_total"),
        F.round(F.lag("o_totalprice", 1).over(w_ord), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice", 1).over(w_ord), 2).alias("next_price"),
        F.round(F.avg("o_totalprice").over(w_ma3), 4).alias("moving_avg3"),
        F.row_number().over(w_ord).cast("long").alias("order_seq"),
    )


@register(
    "window_rank_in_nation",
    oracle="""
        SELECT c_nationkey, c_custkey, c_acctbal,
               CAST(rank() OVER w AS BIGINT) AS bal_rank,
               CAST(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
               -- exact integer-cents algebra: bal − S/n as
               -- (n·bal_c − S_c)/(100n) — a free-order double AVG over
               -- a nation-sized partition shifts every row's diff by
               -- engine-dependent ulps across 4-dp ROUND boundaries
               -- (round-9 review find; the peer-avg kernel already
               -- used this form)
               ROUND(CAST(CAST(count(*) OVER nw AS HUGEINT)
                              * CAST(round(c_acctbal * 100) AS BIGINT)
                          - sum(CAST(round(c_acctbal * 100) AS BIGINT)) OVER nw
                          AS DOUBLE)
                     / (100.0 * count(*) OVER nw), 4) AS bal_vs_nation_avg
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
               nw AS (PARTITION BY c_nationkey)
    """,
    tags=("window", "rank"),
)
def q_window_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned rank/dense_rank + deviation from partition mean
    (the mean deviation rides exact integer cents — see the oracle
    comment)."""
    customer = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    w_all = Window.partitionBy("c_nationkey")
    bal_c = F.round(F.col("c_acctbal") * 100).cast("long")
    n = F.count("*").over(w_all)
    s_c = F.sum(bal_c).over(w_all)
    return customer.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
        F.round(
            (n.cast("decimal(38,0)") * bal_c - s_c).cast("double")
            / (F.lit(100.0) * n),
            4,
        ).alias("bal_vs_nation_avg"),
    )


@register(
    "window_trailing_30d_spend",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / 100.0 AS spend_30d
        FROM orders
    """,
    tags=("window", "range-frame", "extension"),
)
def q_window_trailing_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame: per-customer trailing-30-day spend.

    Spark has no INTERVAL range frames, so the idiomatic equivalent is
    rangeBetween over epoch seconds — value-based (all rows within 30
    days, not 30 ROWS), identical to the oracle's INTERVAL frame
    including duplicate-date handling (range frames include peers).
    """
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .over(w)
            .cast("double")
            / 100.0
        ).alias("spend_30d"),
    )


def latest_per_key(df: DataFrame, key: str, order: str, tiebreak: str) -> DataFrame:
    """Latest row per key — the CDC/SCD-1 compaction primitive.

    Expressed as ``max_by(struct(payload), struct(order, tiebreak))``:
    a partial+final aggregate (SortAggregate — struct buffers aren't
    hash-aggregatable), so each partition contributes a single
    candidate row per key before the shuffle. The window formulation
    (``row_number() = 1``) must instead shuffle EVERY row to its key
    partition and sort — strictly worse at 100 TB. The tiebreak column
    makes the winner total-ordered, hence deterministic across engines.
    """
    others = [c for c in df.columns if c != key]
    packed = F.max_by(
        F.struct(*[F.col(c) for c in others]),
        F.struct(F.col(order), F.col(tiebreak)),
    ).alias("w")
    out = df.groupBy(key).agg(packed)
    return out.select(key, *[F.col(f"w.{c}").alias(c) for c in others])


@register(
    "latest_event_per_user",
    oracle="""
        SELECT user_id, event_id, ts, event_type, ROUND(value, 2) AS value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    tags=("window", "cdc", "latest-per-key", "extension"),
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's most recent event (ties broken by event_id) — the
    one-aggregate CDC compaction, not a row_number window."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", F.round("value", 2).alias("value")
    )
    return latest_per_key(ev, "user_id", "ts", "event_id")


@register(
    "event_gaps_lead_lag",
    oracle="""
        WITH gaps AS (
            SELECT user_id, event_id,
                   epoch_ms(ts) - epoch_ms(lag(ts) OVER w) AS gap_ms,
                   lead(event_type) OVER w AS next_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               count(*) AS n_events,
               CAST(max(gap_ms) AS BIGINT) AS max_gap_ms,
               CAST(min(gap_ms) AS BIGINT) AS min_gap_ms,
               count(CASE WHEN next_type = 'purchase' THEN 1 END) AS n_before_purchase
        FROM gaps
        GROUP BY user_id
    """,
    tags=("window", "lead-lag", "extension"),
)
def q_event_gaps_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap stats via lag(ts), plus a lead()
    next-event predicate — the offset-window surface. One shuffle on
    user_id serves both window functions AND the final aggregate
    (subset-distribution reuse)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        "event_id",
        (
            # cast-to-LTZ first: parquet timestamps may arrive as NTZ or
            # LTZ depending on the writer's isAdjustedToUTC flag, and
            # unix_millis only accepts LTZ. The session is pinned UTC,
            # so the cast is instant-preserving either way and matches
            # DuckDB's epoch_ms over naive timestamps.
            F.unix_millis(F.col("ts").cast("timestamp_ltz"))
            - F.unix_millis(F.lag("ts").over(w).cast("timestamp_ltz"))
        ).cast("long").alias("gap_ms"),
        F.lead("event_type").over(w).alias("next_type"),
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max("gap_ms").alias("max_gap_ms"),
        F.min("gap_ms").alias("min_gap_ms"),
        F.count(F.when(F.col("next_type") == "purchase", 1)).alias("n_before_purchase"),
    )


@register(
    "customer_balance_quartiles",
    oracle="""
        WITH tiled AS (
            SELECT c_mktsegment, c_custkey, c_acctbal,
                   CAST(ntile(4) OVER (
                       PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
                   ) AS BIGINT) AS quartile
            FROM customer
        )
        SELECT c_mktsegment, quartile,
               count(*) AS n,
               ROUND(min(c_acctbal), 2) AS lo,
               ROUND(max(c_acctbal), 2) AS hi
        FROM tiled
        GROUP BY c_mktsegment, quartile
    """,
    tags=("window", "ntile", "extension"),
)
def q_customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance quartile boundaries per market segment (ntile
    surface; deterministic tiling via the custkey tiebreak)."""
    cust = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    tiled = cust.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )
    return tiled.groupBy("c_mktsegment", "quartile").agg(
        F.count("*").alias("n"),
        F.round(F.min("c_acctbal"), 2).alias("lo"),
        F.round(F.max("c_acctbal"), 2).alias("hi"),
    )


@register(
    "rolling_7d_active_users",
    # COUNT(DISTINCT) over a RANGE frame is not a supported window
    # aggregate (Spark or ANSI): the standard rewrite is day-grain
    # dedup first, then a bounded day-to-day range join (each day joins
    # at most 7 distinct-day rows), then a plain distinct count. The
    # (day, user) dedup bounds everything downstream by active-users ×
    # days, not event volume.
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
            FROM events
        ),
        days AS (SELECT DISTINCT d FROM du)
        SELECT days.d AS day,
               count(DISTINCT du.user_id) AS active_7d
        FROM days
        JOIN du ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
        GROUP BY days.d
    """,
    tags=("window", "rolling-distinct", "extension"),
)
def q_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per active day."""
    ev = read_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "user_id"
    ).distinct()
    days = du.select(F.col("d").alias("day")).distinct()
    joined = days.join(
        du,
        (F.col("d") <= F.col("day")) & (F.col("d") >= F.date_sub(F.col("day"), 6)),
    )
    return joined.groupBy("day").agg(
        F.countDistinct("user_id").alias("active_7d")
    )


def scd2_history(
    df: DataFrame, key: str, order: str, tiebreak: str, payload: list[str]
) -> DataFrame:
    """Build SCD-type-2 validity intervals from an append-only change
    stream: each row becomes a version valid from its own timestamp
    until the key's next change (NULL = still current).

    One shuffle on the key serves both lead() calls; this is the batch
    twin of the foreachBatch CDC upsert in ``streaming/upsert.py``
    (which keeps only the latest version — SCD-1).
    """
    w = Window.partitionBy(key).orderBy(order, tiebreak)
    return df.select(
        key,
        tiebreak,
        *payload,
        F.col(order).alias("valid_from"),
        F.lead(order).over(w).alias("valid_to"),
        F.lead(order).over(w).isNull().alias("is_current"),
    )


@register(
    "scd2_user_event_history",
    oracle="""
        SELECT user_id, event_id, event_type AS state,
               ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               lead(ts) OVER w IS NULL AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "scd2", "cdc", "extension"),
)
def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned user-state history: every event opens a validity
    interval closed by the user's next event."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.col("event_type").alias("state")
    )
    return scd2_history(ev, "user_id", "ts", "event_id", ["state"])


@register(
    "supplier_balance_distribution",
    oracle="""
        SELECT s_nationkey, s_suppkey, s_acctbal,
               ROUND(percent_rank() OVER w, 6) AS pct_rank,
               ROUND(cume_dist() OVER w, 6) AS cume,
               CAST(CASE WHEN cume_dist() OVER w >= 0.9 THEN 1 ELSE 0 END
                    AS BIGINT) AS top_decile
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
    tags=("window", "distribution", "extension"),
)
def q_supplier_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing of every supplier's balance within its nation:
    percent_rank + cume_dist (the distribution-window surface) and a
    top-decile flag derived in-plan. One shuffle on the nation key
    serves all three expressions."""
    sup = read_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    cume = F.cume_dist().over(w)
    return sup.select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(cume, 6).alias("cume"),
        F.when(cume >= 0.9, 1).otherwise(0).cast("long").alias("top_decile"),
    )


@register(
    "bitmap_daily_active_users",
    oracle="""
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               count(DISTINCT user_id) AS n_active
        FROM events
        GROUP BY CAST(CAST(ts AS DATE) AS VARCHAR)
    """,
    tags=("events", "bitmap", "distinct", "extension"),
)
def q_bitmap_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users via EXACT bitmap aggregation — the roaring-
    bitmap pattern for repeated distinct counts at scale.

    Ids land in fixed 32k-bit buckets (``bitmap_bucket_number``); each
    (day, bucket) group folds its ids into one bitmap map-side, so the
    shuffle carries <= 4 KB per group instead of every raw id, and the
    per-day count is a sum of per-bucket popcounts. Unlike
    count-distinct's Expand-free single path this stays EXACT while
    being re-mergeable: stored per-bucket bitmaps roll up to weekly/
    monthly actives with bitmap_or_agg and NO rescan — the property
    approx sketches (HLL) give up exactness for. Oracle: plain
    COUNT(DISTINCT).
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").cast("string").alias("day"), "user_id"
    )
    per_bucket = ev.groupBy(
        "day", F.bitmap_bucket_number("user_id").alias("bkt")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")
    )
    return per_bucket.groupBy("day").agg(
        F.sum(F.bitmap_count("bm")).alias("n_active")
    )


@register(
    "monthly_revenue_mom",
    oracle="""
        WITH m AS (
            -- integer cents: a month's double sum at 100 TB (~2.7e14,
            -- ulp 0.03) cannot even resolve cents and is order-
            -- dependent; the exact BIGINT sum is (round-9 review find)
            SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
                   CAST(month(o_orderdate) AS INTEGER) AS m,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
            FROM orders GROUP BY 1, 2
        )
        SELECT y, m,
               CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
               CAST(rev_c - lag(rev_c) OVER (ORDER BY y, m) AS DOUBLE) / 100.0
                   AS mom_delta
        FROM m
    """,
    tags=("window", "timeseries", "extension"),
)
def q_monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue delta: the window runs AFTER the
    monthly aggregate, over a frame of |months| rows — so the
    unpartitioned ORDER BY window (normally a scale smell) is fine
    here: the heavy partial+final agg reduces the fact table first and
    the single-task window sees ~100 rows regardless of input size.
    Revenue folds to exact integer cents (round-9 review find: at
    100 TB a month's double sum has ulp > a cent and is order-
    dependent), so the delta is an exact integer subtraction and only
    the display divides to dollars."""
    orders = read_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.year(F.col("o_orderdate").cast("date")).alias("y"),
            F.month(F.col("o_orderdate").cast("date")).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c")
        )
    )
    w = Window.orderBy("y", "m")
    return monthly.select(
        "y",
        "m",
        (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
        (
            (F.col("rev_c") - F.lag("rev_c").over(w)).cast("double") / 100.0
        ).alias("mom_delta"),
    )


@register(
    "nation_revenue_share",
    oracle="""
        WITH rev AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   -- DuckDB's BIGINT sum promotes to HUGEINT; the
                   -- /10000.0 divide converts to DOUBLE, so no cast
                   -- is needed here — the Spark twin widens to
                   -- decimal(38,0) for the same 128-bit headroom
                   ROUND(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                        * 10000) AS BIGINT)) / 10000.0, 4)
                       AS revenue
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        )
        SELECT region, nation, revenue,
               floor(revenue / SUM(revenue) OVER (PARTITION BY region)
                     * 1000000 + 0.5) / 1000000 AS share_in_region,
               floor(revenue / SUM(revenue) OVER () * 1000000 + 0.5) / 1000000
                   AS share_global
        FROM rev
    """,
    tags=("window", "ratio-to-report", "extension"),
)
def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report at two grouping levels: each nation's revenue as
    a share of its region and of the world — the window-over-aggregate
    report every BI layer ships. Both share windows run on the
    |nations|-row aggregate (the global window's single partition holds
    25 rows, not data-scale rows); revenue itself is summed as integer
    ten-thousandths and the shares use the engine-identical floor
    rounding, so no boundary tie can flip a digit.
    """
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    line_rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            # decimal(38,0) sum: the 1e4-scale fixed-point revenue of a
            # nation crosses int64 at the 100 TB target (~1.2e19; Spark
            # long sum wraps SILENTLY while DuckDB promotes to HUGEINT
            # — a guaranteed one-sided corruption; round-9 review find)
            F.round(
                F.sum(F.round(line_rev * 10000).cast("decimal(38,0)"))
                .cast("double")
                / 10000.0,
                4,
            ).alias("revenue")
        )
    )
    in_region = Window.partitionBy("region")
    win_all = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        "revenue",
        (
            F.floor(F.col("revenue") / F.sum("revenue").over(in_region) * 1000000 + 0.5)
            / 1000000
        ).alias("share_in_region"),
        (
            F.floor(F.col("revenue") / F.sum("revenue").over(win_all) * 1000000 + 0.5)
            / 1000000
        ).alias("share_global"),
    )
