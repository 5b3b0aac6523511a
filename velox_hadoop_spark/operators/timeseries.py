"""Time-series operators: spine generation, gap-fill, forward-fill.
[extension]

The hypertable/rollup pattern: aggregate events to a fixed grain, then
densify the result so every (entity, bucket) exists — missing buckets
get zero counts and a forward-filled carry of the last observed value.
The reference has no time semantics at all (its only timestamps are
profiling counters, reference: src/main/java/org/dicl/velox/mapreduce/
LeanRecordReader.java:88-91); this is the batch face of the streaming
windows in ``streaming/events.py``.

Scale notes: the spine is ``users × days`` — built from a broadcast
1-row min/max aggregate and an exploded ``sequence()``, so its size is
bounded by entity-count × grain and never by event volume. The dense
join is an equi-join on (entity, bucket) and the forward-fill is one
window shuffle on the entity key. Nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def daily_rollup(events: DataFrame) -> DataFrame:
    """Events → one row per (user, day) with count and rounded value sum."""
    from velox_hadoop_spark.functions.money import sum_money_cents

    return events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        sum_money_cents("value").alias("day_value"),
    )


def gap_fill_daily(events: DataFrame) -> DataFrame:
    """Densified per-user daily series over the global [min, max] day
    range: absent days appear with ``n_events = 0`` and ``day_value``
    NULL, and ``filled_value`` carries the last observed day_value
    forward (leading gaps stay NULL).
    """
    daily = daily_rollup(events)
    bounds = events.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    spine = events.select("user_id").distinct().crossJoin(F.broadcast(days))
    ffill = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            "day_value",
            F.last("day_value", ignorenulls=True).over(ffill).alias("filled_value"),
        )
    )


@register(
    "events_gap_fill_daily",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('day', min(ts)) AS d0,
                   date_trunc('day', max(ts)) AS d1
            FROM events
        ),
        days AS (
            SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM bounds
        ),
        spine AS (
            SELECT u.user_id, d.day
            FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN days d
        ),
        daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   count(*) AS n_events,
                   ROUND(CAST(sum(CAST(round(value * 100) AS BIGINT))
                              AS DOUBLE) / 100.0, 2) AS day_value
            FROM events GROUP BY user_id, day
        )
        SELECT s.user_id, s.day,
               coalesce(d.n_events, 0) AS n_events,
               d.day_value,
               last_value(d.day_value IGNORE NULLS) OVER (
                   PARTITION BY s.user_id ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value
        FROM spine s LEFT JOIN daily d
          ON s.user_id = d.user_id AND s.day = d.day
    """,
    tags=("timeseries", "gap-fill", "extension"),
)
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily event series with forward-filled values."""
    return gap_fill_daily(read_table(spark, sf_dir, "events"))


EPOCH = "2024-01-01"  # week-index origin (first event day in the corpus)


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted in every later week they return.

    Week index = floor(days-since-epoch / 7) — a pure arithmetic
    bucketing (no engine-specific week-truncation semantics). The
    (user, week) stream is deduped FIRST, so everything downstream is
    bounded by active-users × weeks, not event volume; the cohort
    lookup is one equi-join on user_id reusing the dedup's hash
    partitioning.
    """
    wk = events.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit(EPOCH).cast("date")) / 7
        ).cast("long").alias("w"),
    ).distinct()
    coh = wk.groupBy("user_id").agg(F.min("w").alias("cohort"))
    return (
        wk.join(coh, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            (F.col("w") - F.col("cohort")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "retention_cohorts",
    oracle=f"""
        WITH wk AS (
            SELECT DISTINCT user_id,
                   (CAST(ts AS DATE) - DATE '{EPOCH}') // 7 AS w
            FROM events
        ),
        coh AS (SELECT user_id, min(w) AS cohort FROM wk GROUP BY user_id)
        SELECT CAST(c.cohort AS BIGINT) AS cohort_week,
               CAST(w.w - c.cohort AS BIGINT) AS week_offset,
               count(DISTINCT w.user_id) AS n_users
        FROM wk w JOIN coh c ON w.user_id = c.user_id
        GROUP BY 1, 2
    """,
    tags=("timeseries", "retention", "extension"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the events table."""
    return retention_cohorts(read_table(spark, sf_dir, "events"))


@register(
    "retention_cohort_segment_matrix",
    oracle=f"""
        WITH wk AS (
            SELECT DISTINCT user_id,
                   (CAST(ts AS DATE) - DATE '{EPOCH}') // 7 AS w
            FROM events
        ),
        coh AS (SELECT user_id, min(w) AS cohort FROM wk GROUP BY user_id)
        SELECT CAST(c.cohort AS BIGINT) AS cohort_week,
               cu.c_mktsegment AS segment,
               CAST(w.w - c.cohort AS BIGINT) AS week_offset,
               count(DISTINCT w.user_id) AS n_users
        FROM wk w
        JOIN coh c ON w.user_id = c.user_id
        JOIN customer cu ON w.user_id = cu.c_custkey
        GROUP BY 1, 2, 3
    """,
    tags=("timeseries", "retention", "cohort", "extension"),
)
def q_retention_cohort_segment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional retention: acquisition-week cohort × customer
    market segment × week offset — the slice the BI layer asks for
    right after the 1-D matrix ("is week-4 retention worse for the
    BUILDING segment?"). Same arithmetic week bucketing and
    dedup-first shape as ``retention_cohorts``; the segment dimension
    arrives through one equi-join on user_id (SF-proportional dim, so
    the join strategy is left to the planner), and the output is
    bounded by cohorts × segments × offsets, never event volume."""
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    wk = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit(EPOCH).cast("date")) / 7
        ).cast("long").alias("w"),
    ).distinct()
    coh = wk.groupBy("user_id").agg(F.min("w").alias("cohort"))
    return (
        wk.join(coh, "user_id")
        .join(cust, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            "segment",
            (F.col("w") - F.col("cohort")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
