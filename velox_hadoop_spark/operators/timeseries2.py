"""Time-series operators, round 5. [extension]

OHLC resampling, interval self-overlap joins, and cumulative
first-seen user accumulation — the remaining shapes a time-series
user expects after the round-3 family (gap fill, EWMA, seasonal
anomaly, interarrival, rollups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


@register(
    "resample_weekly_ohlc",
    oracle="""
        WITH px AS (
            SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS wk,
                   o_totalprice,
                   first_value(o_totalprice) OVER w AS open,
                   last_value(o_totalprice) OVER w AS close
            FROM orders
            WINDOW w AS (
                PARTITION BY date_trunc('week', CAST(o_orderdate AS DATE))
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
            )
        )
        SELECT wk, max(open) AS open, max(o_totalprice) AS high,
               min(o_totalprice) AS low, max(close) AS close,
               count(*) AS n_orders
        FROM px GROUP BY wk
    """,
    tags=("timeseries", "resample", "ohlc", "extension"),
)
def q_resample_weekly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC resample of order prices: open/close are the first/
    last order of the week under the total (date, orderkey) order,
    high/low the extremes. The open/close window and the final group
    both key on the week, so the table shuffles once on wk and the
    full-frame window never crosses partitions. Raw price values only
    — no sums, no rounding seams."""
    orders = read_table(spark, sf_dir, "orders")
    wk = F.date_trunc("week", F.col("o_orderdate").cast("date")).cast("date")
    w = (
        Window.partitionBy("wk")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    px = orders.withColumn("wk", wk).select(
        "wk",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("open"),
        F.last("o_totalprice").over(w).alias("close"),
    )
    return px.groupBy("wk").agg(
        F.max("open").alias("open"),
        F.max("o_totalprice").alias("high"),
        F.min("o_totalprice").alias("low"),
        F.max("close").alias("close"),
        F.count("*").alias("n_orders"),
    )


@register(
    "interval_overlap_pairs",
    oracle="""
        WITH iv AS (
            SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events
        )
        SELECT a.user_id, count(*) AS n_overlapping
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id
         AND a.event_id < b.event_id
         AND abs(a.t_us - b.t_us) < 300000000
        GROUP BY a.user_id
    """,
    tags=("timeseries", "interval-join", "extension"),
)
def q_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-overlap join: each event opens a 5-minute window;
    count per user the unordered pairs of events whose windows overlap
    (|t_a - t_b| < 5 min). The join is an EQUI-join on user_id with
    the overlap as a residual predicate — per-user work is bounded by
    that user's event count, never the table (the all-pairs danger of
    interval joins is confined to a key). Time arithmetic rides
    integer microseconds (unix_micros / epoch_us), so the strict
    boundary cannot wobble in double."""
    ev = read_table(spark, sf_dir, "events")
    # ts may arrive as TIMESTAMP_NTZ (parquet ns sources): unix_micros
    # requires an instant, and the driver contract pins the session to
    # UTC, so the cast is wall-clock-preserving in both engines.
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    a = iv.select(
        F.col("user_id"),
        F.col("event_id").alias("a_id"),
        F.col("t_us").alias("a_us"),
    )
    b = iv.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_id"),
        F.col("t_us").alias("b_us"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("a_id") < F.col("b_id"))
        & (F.abs(F.col("a_us") - F.col("b_us")) < 300_000_000),
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_overlapping"))


@register(
    "cumulative_distinct_users",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT d, count(*) AS new_users FROM first_seen GROUP BY d
        )
        SELECT d, new_users,
               CAST(sum(new_users) OVER (
                   ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_users
        FROM daily
    """,
    tags=("timeseries", "distinct-accumulation", "extension"),
)
def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user curve: each user counts once, on their
    first-seen day, and the running sum of those first-seen counts IS
    the distinct-to-date total — the decomposition that turns an
    unbounded running COUNT(DISTINCT) into two keyed aggregates plus
    a prefix sum over |days| rows (the only single-partition step is
    bounded by the calendar, not the data)."""
    ev = read_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    daily = first_seen.groupBy("d").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )
