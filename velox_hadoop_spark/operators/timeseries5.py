"""Time-series operators, round 9. [extension]

Volume-weighted pricing, SSE changepoint detection, trailing-window
z-score anomalies, and interval-sweep order backlog — the remaining
standard members of the daily-revenue analytics family.

Numeric discipline (the r8 overflow/ordering classes, applied from the
start): every SF-proportional sum of squares rides decimal(38,0) /
HUGEINT, never int64; every rank/argmin membership decision rides
either exact integers or doubles derived from exact integers through a
PINNED op sequence (+,-,*,/ are IEEE-determined — no libm — so both
engines produce bit-identical doubles); z-score row membership uses
the repo's 4-dp floor-grid rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register

ZSCORE_WINDOW_D = 30  # trailing window (days), current day excluded
ZSCORE_MIN_DAYS = 10
ZSCORE_T = 2.5

_DAILY_ORACLE = """
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY 1
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "orders").groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"))


# ---------------------------------------------------------------------------
# Weekly VWAP
# ---------------------------------------------------------------------------


@register(
    "vwap_weekly_lineitem",
    oracle="""
        SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
               count(*) AS n_lines,
               CAST(sum(l_quantity) AS BIGINT) AS total_qty,
               ROUND(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                          AS DOUBLE)
                     / sum(l_quantity) / 100.0, 6) AS vwap
        FROM lineitem GROUP BY 1
    """,
    tags=("timeseries", "vwap", "extension"),
)
def q_vwap_weekly_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly volume-weighted average unit price over lineitem:
    Σ extendedprice / Σ quantity per ship week (extendedprice is
    qty × unit price, so the ratio IS the quantity-weighted price).
    Revenue folds to integer cents; quantities are integral doubles
    (≤ 2⁵³, so their sum is order-independent and exact), making the
    displayed ratio a deterministic double in both engines. One
    partial+final aggregate keyed by the calendar week."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("week_start")
    ).agg(
        F.count("*").alias("n_lines"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("double")
            / F.sum("l_quantity")
            / 100.0,
            6,
        ).alias("vwap"),
    )


# ---------------------------------------------------------------------------
# Single changepoint by SSE split (binary segmentation, first cut)
# ---------------------------------------------------------------------------


@register(
    "changepoint_sse_split_daily",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        cum AS (
            SELECT d, rev_c,
                   row_number() OVER (ORDER BY d) AS j,
                   sum(rev_c) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
                   sum(CAST(rev_c AS HUGEINT) * rev_c) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q
            FROM daily
        ),
        tot AS (
            SELECT count(*) AS n, sum(rev_c) AS sn,
                   sum(CAST(rev_c AS HUGEINT) * rev_c) AS qn
            FROM daily
        ),
        costs AS (
            SELECT c.d, c.j, t.n,
                   (CAST(c.q AS DOUBLE)
                    - CAST(c.s AS DOUBLE) * CAST(c.s AS DOUBLE) / c.j)
                   + (CAST(t.qn - c.q AS DOUBLE)
                      - CAST(t.sn - c.s AS DOUBLE) * CAST(t.sn - c.s AS DOUBLE)
                        / (t.n - c.j)) AS cost,
                   CAST(c.s AS DOUBLE) / c.j / 100.0 AS mean_left,
                   CAST(t.sn - c.s AS DOUBLE) / (t.n - c.j) / 100.0 AS mean_right
            FROM cum c CROSS JOIN tot t
            WHERE c.j < t.n
        )
        SELECT d AS split_day, CAST(j AS BIGINT) AS n_left,
               CAST(n - j AS BIGINT) AS n_right,
               ROUND(cost, 4) AS sse_cents2,
               ROUND(mean_left, 6) AS mean_left,
               ROUND(mean_right, 6) AS mean_right
        FROM (
            SELECT *, row_number() OVER (ORDER BY cost ASC, d ASC) AS rn
            FROM costs
        ) WHERE rn = 1
    """,
    tags=("timeseries", "changepoint", "extension"),
)
def q_changepoint_sse_split_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint of the daily-revenue series: the split
    day minimizing total within-segment SSE (binary segmentation's
    first cut). Costs come from exact integer prefix sums (Σx as
    BIGINT, Σx² as decimal(38,0)/HUGEINT — the int64-overflow class)
    converted once to double through the identical op sequence in both
    engines, so the argmin is bit-deterministic; ties break on the
    earlier day. Windows run over the calendar-bounded day spine."""
    daily = _daily(spark, sf_dir)
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sq = F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")
    cum = daily.select(
        "d",
        "rev_c",
        F.row_number().over(Window.orderBy("d")).alias("j"),
        F.sum("rev_c").over(wc).alias("s"),
        F.sum(sq).over(wc).alias("q"),
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum("rev_c").alias("sn"),
        F.sum(sq).alias("qn"),
    )
    sd, jd = F.col("s").cast("double"), F.col("j")
    rs = (F.col("sn") - F.col("s")).cast("double")
    cost = (
        F.col("q").cast("double") - sd * sd / jd
    ) + (
        (F.col("qn") - F.col("q")).cast("double") - rs * rs / (F.col("n") - jd)
    )
    costs = (
        cum.crossJoin(tot)
        .where(F.col("j") < F.col("n"))
        .select(
            "d",
            "j",
            "n",
            cost.alias("cost"),
            (sd / jd / 100.0).alias("mean_left"),
            (rs / (F.col("n") - jd) / 100.0).alias("mean_right"),
        )
    )
    w = Window.orderBy(F.asc("cost"), F.asc("d"))
    return (
        costs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("d").alias("split_day"),
            F.col("j").cast("long").alias("n_left"),
            (F.col("n") - F.col("j")).cast("long").alias("n_right"),
            F.round("cost", 4).alias("sse_cents2"),
            F.round("mean_left", 6).alias("mean_left"),
            F.round("mean_right", 6).alias("mean_right"),
        )
    )


# ---------------------------------------------------------------------------
# Trailing-30d z-score anomalies (current day excluded)
# ---------------------------------------------------------------------------


@register(
    "rolling_zscore_anomaly_days",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        od AS (
            SELECT d, rev_c, datediff('day', DATE '1970-01-01', d) AS od
            FROM daily
        ),
        win AS (
            SELECT d, rev_c,
                   count(*) OVER w AS n30,
                   sum(rev_c) OVER w AS s30,
                   sum(CAST(rev_c AS HUGEINT) * rev_c) OVER w AS q30
            FROM od
            WINDOW w AS (ORDER BY od
                RANGE BETWEEN {ZSCORE_WINDOW_D} PRECEDING AND 1 PRECEDING)
        ),
        z AS (
            SELECT d, rev_c, n30,
                   (rev_c - CAST(s30 AS DOUBLE) / n30)
                   / sqrt((CAST(q30 AS DOUBLE)
                           - CAST(s30 AS DOUBLE) * CAST(s30 AS DOUBLE) / n30)
                          / (n30 - 1)) AS z
            FROM win
            WHERE n30 >= {ZSCORE_MIN_DAYS}
              AND (CAST(q30 AS DOUBLE)
                   - CAST(s30 AS DOUBLE) * CAST(s30 AS DOUBLE) / n30) > 0
        )
        SELECT d, rev_c / 100.0 AS revenue,
               CAST(n30 AS BIGINT) AS n_days,
               ROUND(z, 4) AS z
        FROM z
        WHERE floor(abs(z) * 10000 + 0.5) / 10000 > {ZSCORE_T}
    """,
    tags=("timeseries", "anomaly", "z-score", "extension"),
)
def q_rolling_zscore_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose revenue sits more than 2.5 trailing sample standard
    deviations from the trailing 30-day mean (current day EXCLUDED —
    the anomaly is judged against its own past, the monitoring form).
    Moments come from exact integer window sums (Σx², decimal-38 /
    HUGEINT); membership rides the repo's 4-dp floor grid; a
    zero-variance window is skipped in both engines. The range window
    runs over the calendar-bounded day spine."""
    daily = _daily(spark, sf_dir).withColumn(
        "od", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    )
    w = Window.orderBy("od").rangeBetween(-ZSCORE_WINDOW_D, -1)
    sq = F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")
    win = daily.select(
        "d",
        "rev_c",
        F.count("*").over(w).alias("n30"),
        F.sum("rev_c").over(w).alias("s30"),
        F.sum(sq).over(w).alias("q30"),
    )
    mu = F.col("s30").cast("double") / F.col("n30")
    ss = F.col("q30").cast("double") - F.col("s30").cast("double") * F.col(
        "s30"
    ).cast("double") / F.col("n30")
    z = (F.col("rev_c") - mu) / F.sqrt(ss / (F.col("n30") - 1))
    zed = (
        win.where((F.col("n30") >= ZSCORE_MIN_DAYS) & (ss > 0))
        .select("d", "rev_c", "n30", z.alias("z"))
    )
    return zed.where(
        F.floor(F.abs(F.col("z")) * 10000 + F.lit(0.5)) / 10000 > ZSCORE_T
    ).select(
        "d",
        (F.col("rev_c") / 100.0).alias("revenue"),
        F.col("n30").cast("long").alias("n_days"),
        F.round("z", 4).alias("z"),
    )


# ---------------------------------------------------------------------------
# Open-order backlog (interval +1/-1 sweep)
# ---------------------------------------------------------------------------


@register(
    "open_order_backlog_daily",
    oracle="""
        WITH closes AS (
            SELECT l_orderkey, CAST(max(l_shipdate) AS DATE) AS cd
            FROM lineitem GROUP BY l_orderkey
        ),
        spans AS (
            SELECT CAST(o.o_orderdate AS DATE) AS od, c.cd
            FROM orders o JOIN closes c ON o.o_orderkey = c.l_orderkey
        ),
        opens AS (SELECT od AS d, count(*) AS n FROM spans GROUP BY od),
        closed AS (SELECT cd AS d, count(*) AS n FROM spans GROUP BY cd),
        days AS (
            SELECT coalesce(o.d, c.d) AS d,
                   coalesce(o.n, 0) AS n_opened,
                   coalesce(c.n, 0) AS n_closed
            FROM opens o FULL OUTER JOIN closed c ON o.d = c.d
        )
        SELECT d,
               CAST(n_opened AS BIGINT) AS n_opened,
               CAST(n_closed AS BIGINT) AS n_closed,
               CAST(sum(n_opened - n_closed) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS open_backlog
        FROM days
    """,
    tags=("timeseries", "interval-sweep", "backlog", "extension"),
)
def q_open_order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-day open-order backlog via the interval +1/−1 sweep: an
    order opens on its order date and closes when its last line ships
    (closed orders leave the backlog at end of close day). The sweep
    is two domain-bounded daily aggregates and one running sum over
    the calendar spine — never a day × open-order join, which is the
    quadratic trap at scale. Final backlog is 0 by construction (every
    order with lineitems eventually ships), pinned in tests."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    closes = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("cd")
    )
    spans = orders.join(
        closes, orders.o_orderkey == closes.l_orderkey
    ).select(F.to_date("o_orderdate").alias("od"), "cd")
    opens = spans.groupBy(F.col("od").alias("d")).agg(F.count("*").alias("n_o"))
    closed = spans.groupBy(F.col("cd").alias("d")).agg(F.count("*").alias("n_c"))
    days = (
        opens.join(closed, "d", "full_outer")
        .select(
            "d",
            F.coalesce("n_o", F.lit(0)).alias("n_opened"),
            F.coalesce("n_c", F.lit(0)).alias("n_closed"),
        )
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return days.select(
        "d",
        F.col("n_opened").cast("long").alias("n_opened"),
        F.col("n_closed").cast("long").alias("n_closed"),
        F.sum(F.col("n_opened") - F.col("n_closed")).over(wc).cast("long").alias(
            "open_backlog"
        ),
    )


# ---------------------------------------------------------------------------
# Peak trailing-1h event rate per user
# ---------------------------------------------------------------------------


@register(
    "peak_hourly_rate_per_user",
    oracle="""
        WITH e AS (
            -- floor(epoch(ts)): DuckDB's epoch() keeps fractional
            -- seconds while Spark's unix_timestamp truncates; an
            -- unfloored axis shifts the RANGE window bounds by the
            -- fraction and admits different rows per engine (the
            -- funcs2.py timestamp-parity rule; caught in the round-9
            -- review pass)
            SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
        ),
        rates AS (
            SELECT user_id,
                   count(*) OVER (
                       PARTITION BY user_id ORDER BY es
                       RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW
                   ) AS r
            FROM e
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(r) AS BIGINT) AS peak_1h
        FROM rates GROUP BY user_id
    """,
    tags=("timeseries", "events", "burst", "extension"),
)
def q_peak_hourly_rate_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak trailing-one-hour event rate per user: for every event, the
    count of that user's events in (t−3599s, t], maxed per user — the
    burst-detection number a rate-limiter or bot filter keys on. The
    range window is keyed per user (bounded by one user's activity) on
    integer epoch seconds; counts are exact, so the whole row is
    integer-deterministic. One shuffle on user_id."""
    ev = read_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", F.unix_timestamp(F.col("ts").cast("timestamp")).alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es").rangeBetween(-3599, 0)
    rates = e.select("user_id", F.count("*").over(w).alias("r"))
    return rates.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("r").cast("long").alias("peak_1h"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive backtest (forecast = value 7 calendar days earlier)
# ---------------------------------------------------------------------------


@register(
    "seasonal_naive_backtest",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        j AS (
            SELECT a.d, a.rev_c AS actual_c, b.rev_c AS forecast_c,
                   CAST(floor(1000000.0 * abs(a.rev_c - b.rev_c) / a.rev_c + 0.5)
                        AS BIGINT) AS ape_u
            FROM daily a JOIN daily b ON b.d = a.d - 7
            WHERE a.rev_c > 0
        )
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(CASE WHEN forecast_c > actual_c THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_over,
               CAST(sum(CASE WHEN forecast_c < actual_c THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_under,
               ROUND(sum(ape_u) / (count(*) * 1000000.0), 6) AS mape
        FROM j
    """,
    tags=("timeseries", "forecast", "backtest", "extension"),
)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's revenue as
    the SAME WEEKDAY one week earlier (the benchmark every real
    forecaster must beat — if Holt/ARIMA can't out-MAPE naive-7, ship
    naive-7), scored by in-sample MAPE plus over/under-forecast day
    counts. The lag is a CALENDAR self-join on d−7, not a row lag, so
    missing days never misalign the season. Revenues are exact integer
    cents; each day's absolute percentage error is quantized to integer
    micro-units (floor ·1e6 + 0.5 of a double computed from exact
    integers — bit-identical in both engines), so the MAPE numerator is
    an exact integer sum with no free-order float accumulation. One
    grouped aggregate + one calendar-bounded self-join (day-domain
    sized: ~2.4k rows at ANY SF), one scalar aggregate."""
    daily = _daily(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    j = (
        a.join(F.broadcast(b), F.col("b.d") == F.date_sub(F.col("a.d"), 7))
        .where(F.col("a.rev_c") > 0)
        .select(
            F.col("a.rev_c").alias("actual_c"),
            F.col("b.rev_c").alias("forecast_c"),
            F.floor(
                1000000.0
                * F.abs(F.col("a.rev_c") - F.col("b.rev_c"))
                / F.col("a.rev_c")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("ape_u"),
        )
    )
    return j.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.when(F.col("forecast_c") > F.col("actual_c"), 1).otherwise(0))
        .cast("long")
        .alias("n_over"),
        F.sum(F.when(F.col("forecast_c") < F.col("actual_c"), 1).otherwise(0))
        .cast("long")
        .alias("n_under"),
        F.round(F.sum("ape_u") / (F.count("*") * F.lit(1000000.0)), 6).alias("mape"),
    )


# ---------------------------------------------------------------------------
# Weekday seasonality strength (variance decomposition, eta-squared)
# ---------------------------------------------------------------------------


@register(
    "weekday_seasonality_strength",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        g AS (
            SELECT dayofweek(d) + 1 AS dow,
                   count(*) AS ng,
                   CAST(sum(rev_c) AS BIGINT) AS sg
            FROM daily GROUP BY 1
        ),
        t AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(rev_c) AS BIGINT) AS s,
                   sum(CAST(rev_c AS HUGEINT) * rev_c) AS ssq
            FROM daily
        ),
        terms AS (
            SELECT CAST(floor(
                       1000000.0 * ng
                       * ((CAST(sg AS DOUBLE) / ng - CAST(t.s AS DOUBLE) / t.n)
                          / (CAST(t.s AS DOUBLE) / t.n))
                       * ((CAST(sg AS DOUBLE) / ng - CAST(t.s AS DOUBLE) / t.n)
                          / (CAST(t.s AS DOUBLE) / t.n))
                       + 0.5) AS BIGINT) AS ssb_u
            FROM g CROSS JOIN t
        ),
        agg AS (
            SELECT (SELECT CAST(sum(ssb_u) AS BIGINT) FROM terms) AS ssb_rel_u,
                   CAST(floor(1000000.0
                              * (CAST(t.ssq AS DOUBLE)
                                 / ((CAST(t.s AS DOUBLE) / t.n)
                                    * (CAST(t.s AS DOUBLE) / t.n))
                                 - t.n) + 0.5)
                        AS BIGINT) AS sst_rel_u,
                   t.n AS n_days
            FROM t
        )
        SELECT n_days, ssb_rel_u, sst_rel_u,
               ROUND(CAST(ssb_rel_u AS DOUBLE) / sst_rel_u, 6) AS eta_squared
        FROM agg
        WHERE sst_rel_u > 0
    """,
    tags=("timeseries", "seasonality", "variance-decomposition", "extension"),
)
def q_weekday_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of daily-revenue variance the weekday explains:
    η² = SS_between(weekday) / SS_total over the daily series — the
    seasonality-strength number that decides whether a forecaster needs
    a weekly component at all (read next to ``seasonal_naive_backtest``:
    high η² ⇒ naive-7 is hard to beat). Exactness discipline: group
    sums and the total sum-of-squares are exact integers (cents /
    HUGEINT-cents²); each of the 7 between-group terms is computed in
    double FROM those exact integers, NORMALIZED by the mean daily
    revenue (η² is scale-free, so relative terms never outgrow int64
    at any SF — raw cents² already overflow int64 at sf0.01, which the
    gate caught), then quantized to integer micro-units BEFORE the
    cross-group sum — both engines sum 7 exact BIGINTs, no free-order
    float accumulation. The quantized relative SSB and SST are
    THEMSELVES output columns (hash-exact), with the ratio as the
    single displayed double."""
    daily = _daily(spark, sf_dir)
    g = daily.groupBy(F.dayofweek("d").alias("dow")).agg(
        F.count("*").alias("ng"), F.sum("rev_c").alias("sg")
    )
    t = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev_c").alias("s"),
        F.sum(F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")).alias("ssq"),
    )
    m = F.col("s").cast("double") / F.col("n")
    rel = (F.col("sg").cast("double") / F.col("ng") - m) / m
    terms = g.crossJoin(F.broadcast(t)).select(
        F.floor(F.lit(1000000.0) * F.col("ng") * rel * rel + F.lit(0.5))
        .cast("long")
        .alias("ssb_u")
    )
    ssb = terms.agg(F.sum("ssb_u").cast("long").alias("ssb_rel_u"))
    return (
        t.crossJoin(F.broadcast(ssb))
        .select(
            F.col("n").alias("n_days"),
            F.col("ssb_rel_u"),
            F.floor(
                F.lit(1000000.0)
                * (F.col("ssq").cast("double") / (m * m) - F.col("n"))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("sst_rel_u"),
        )
        .where(F.col("sst_rel_u") > 0)
        .select(
            "n_days",
            "ssb_rel_u",
            "sst_rel_u",
            F.round(F.col("ssb_rel_u").cast("double") / F.col("sst_rel_u"), 6).alias(
                "eta_squared"
            ),
        )
    )
