"""Time-series operators, round 8. [extension]

Grouped / multi-key as-of joins (the per-symbol fill family a market-
data or feature-store pipeline runs constantly), tolerance-bounded
as-of, LOCF gap fill onto a per-group daily spine, MACD smoothing, and
Kendall rank correlation over the day domain.

Reference parity: the reference engine's join surface is the
repartition/broadcast equi-join family (LeanJoin.java.bak:105-140,
Step3Mapper.java:22-76); the as-of variants here are the standard
extension of that surface to ordered keys, expressed as tagged-union +
fill windows (one shuffle, no per-row lookups) rather than a
correlated lookup per probe row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.join import asof_join
from velox_hadoop_spark.plans.registry import register

# MACD spans (classic 12/26/9) expressed as smoothing factors
# alpha = 2/(span+1); the EMA is evaluated in truncated-window form
# over the daily spine (horizon below), like ewma_daily_revenue —
# the exact recursive form is not a relational expression, and the
# truncated form is what both engines can state identically.
MACD_FAST = 2.0 / 13.0
MACD_SLOW = 2.0 / 27.0
MACD_SIGNAL = 2.0 / 10.0
MACD_HORIZON = 60  # days; residual tail weight (1-a)^60 < 0.5% for all three

ASOF_TOLERANCE_S = 600  # tolerance-bounded as-of: 10 minutes


# ---------------------------------------------------------------------------
# Multi-key (grouped) backward as-of join
# ---------------------------------------------------------------------------


@register(
    "asof_join_grouped_backward",
    oracle="""
        WITH views AS (
            SELECT user_id, CAST(ts AS DATE) AS d, ts, max(value) AS v
            FROM events WHERE event_type = 'view'
            GROUP BY user_id, CAST(ts AS DATE), ts
        ),
        p AS (
            SELECT event_id, user_id, CAST(ts AS DATE) AS d, ts, value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, p.d, p.ts, p.value,
               (SELECT v.v FROM views v
                WHERE v.user_id = p.user_id AND v.d = p.d AND v.ts <= p.ts
                ORDER BY v.ts DESC, v.v DESC LIMIT 1) AS asof_view_value
        FROM p
    """,
    tags=("timeseries", "asof-join", "multi-key", "extension"),
)
def q_asof_join_grouped_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-KEY backward as-of join: for each purchase, the most
    recent view value at-or-before its timestamp within the same
    (user, calendar day) — the per-symbol/per-session variant of
    ``asof_join_events``. The composite key goes straight into the
    shared tagged-union kernel (``join.asof_join``), whose fill window
    now partitions on BOTH key columns: each window partition is one
    user-day, so the sort is local and bounded no matter how long the
    user's full history grows — the property the single-key form loses
    on multi-year hot users. The oracle is a correlated subquery
    (independent formulation, not a mirror of the fill window). Views
    on the same (user, day, ts) are pre-collapsed by max value, the
    kernel's documented tie rule."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "ts",
        "value",
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").cast("date").alias("d"), "ts")
        .agg(F.max("value").alias("v"))
    )
    out = asof_join(
        purchases,
        views,
        key=["user_id", "d"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["v"],
    )
    return out.select(
        "event_id", "user_id", "d", "ts", "value", F.col("asof_v").alias("asof_view_value")
    )


# ---------------------------------------------------------------------------
# Tolerance-bounded backward as-of join
# ---------------------------------------------------------------------------


@register(
    "asof_join_tolerance",
    oracle=f"""
        WITH clicks AS (
            SELECT user_id, ts, max(value) AS v
            FROM events WHERE event_type = 'click'
            GROUP BY user_id, ts
        ),
        p AS (
            SELECT event_id, user_id, ts, value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, p.ts, p.value,
               (SELECT c.v FROM clicks c
                WHERE c.user_id = p.user_id
                  AND c.ts <= p.ts
                  AND c.ts >= p.ts - INTERVAL {ASOF_TOLERANCE_S} SECOND
                ORDER BY c.ts DESC, c.v DESC LIMIT 1) AS click_value_10m
        FROM p
    """,
    tags=("timeseries", "asof-join", "tolerance", "extension"),
)
def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded backward as-of: each purchase gets the user's
    most recent click value, but only if it is at most 10 minutes
    stale — older state is NULL (the staleness contract every
    feature-store point-in-time join carries). Same tagged-union +
    fill-window shape as the unbounded kernel, except the fill carries
    a (ts, value) STRUCT so the staleness of the carried click is
    known at the probe row, where one comparison nulls out expired
    state — no second join, no correlated lookup. The oracle is the
    independent correlated-subquery formulation with the window bound
    in the WHERE clause."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v"))
    )
    l = purchases.withColumn("__tag", F.lit(1)).withColumn(
        "__cv", F.lit(None).cast("struct<ts:timestamp,v:double>")
    )
    r = clicks.select(
        "user_id",
        "ts",
        F.lit(0).alias("__tag"),
        F.struct(F.col("ts"), F.col("v")).alias("__cv"),
    ).select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("value"),
        "__tag",
        "__cv",
    )
    unioned = l.select("event_id", "user_id", "ts", "value", "__tag", "__cv").unionByName(r)
    # click (tag 0) sorts before the purchase at equal ts → inclusive;
    # struct order (ts, v) makes the max-value same-ts click the carried
    # one, matching the pre-collapse + ORDER BY v DESC tie rule
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "__tag", "__cv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "__tag",
        F.last("__cv", ignorenulls=True).over(w).alias("__last"),
    ).where(F.col("__tag") == 1)
    fresh = F.col("__last.ts") >= F.col("ts") - F.expr(
        f"INTERVAL {ASOF_TOLERANCE_S} SECOND"
    )
    return carried.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(fresh, F.col("__last.v")).alias("click_value_10m"),
    )


# ---------------------------------------------------------------------------
# Grouped LOCF gap fill onto a per-group daily spine
# ---------------------------------------------------------------------------


@register(
    "grouped_locf_daily_fill",
    oracle="""
        WITH obs AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   ROUND(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                         / 100.0 / count(value), 6) AS day_avg
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        spine AS (
            SELECT t.event_type, dd.d
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events) dd
        ),
        filled AS (
            SELECT s.event_type, s.d, o.day_avg,
                   last_value(o.day_avg IGNORE NULLS) OVER (
                       PARTITION BY s.event_type ORDER BY s.d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS filled_avg,
                   last_value(o.d IGNORE NULLS) OVER (
                       PARTITION BY s.event_type ORDER BY s.d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS src_d
            FROM spine s LEFT JOIN obs o
              ON o.event_type = s.event_type AND o.d = s.d
        )
        SELECT event_type, d, filled_avg,
               CAST(date_diff('day', src_d, d) AS BIGINT) AS gap_days
        FROM filled WHERE filled_avg IS NOT NULL
    """,
    tags=("timeseries", "gap-fill", "locf", "grouped", "extension"),
)
def q_grouped_locf_daily_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group LOCF (last observation carried forward) onto a daily
    spine: every (event_type, day) cell of the observed calendar gets
    the group's latest daily average at-or-before that day, plus how
    stale it is (gap_days) — the forward-fill every per-symbol price
    or sensor table needs before resampling. Scale shape: the fact
    table collapses to the (group × day) grain FIRST, so the spine is
    |groups| × |calendar| — bounded by the calendar, independent of
    fact rows — and the LOCF window partitions per group over that
    spine (a few thousand rows per group even at decades of days).
    Leading days before a group's first observation are dropped (no
    value to carry), exactly as the oracle's IS NOT NULL does."""
    ev = read_table(spark, sf_dir, "events")
    # round-11 money completion: the daily mean folds exact integer
    # cents (free-order-safe), one pinned double divide chain mirrored
    # in the oracle
    obs = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.round(
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / F.lit(100.0)
            / F.count("value"),
            6,
        ).alias("day_avg")
    )
    types = ev.select("event_type").distinct()
    days = ev.select(F.col("ts").cast("date").alias("d")).distinct()
    spine = types.crossJoin(days)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        spine.join(obs, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.last("day_avg", ignorenulls=True).over(w).alias("filled_avg"),
            F.last(F.when(F.col("day_avg").isNotNull(), F.col("d")), ignorenulls=True)
            .over(w)
            .alias("src_d"),
        )
    )
    return filled.where(F.col("filled_avg").isNotNull()).select(
        "event_type",
        "d",
        "filled_avg",
        F.datediff("d", "src_d").cast("long").alias("gap_days"),
    )


# ---------------------------------------------------------------------------
# MACD over daily revenue
# ---------------------------------------------------------------------------


def _duck_trunc_ema(
    value: str,
    alpha: float,
    src: str = "daily",
    horizon: int = MACD_HORIZON,
    decay: float | None = None,
) -> str:
    """Truncated-window EMA fragment (DuckDB): weights (1-a)^age over a
    MACD_HORIZON-day lookback, adaptively normalized (same early-window
    behavior as pandas ewm(adjust=True)).

    Evaluated as an ORDERED SEQUENTIAL FOLD — list(… ORDER BY d) over
    the range frame, then list_sum(list_transform(…)) — never a plain
    SUM over join rows: double addition is non-associative, and a
    free-order SUM left each engine within one ulp of the other, which
    flipped a 4dp floor-rounding exactly on a .00005 boundary (caught
    at sf0.01 in the Brown smoother's second pass). The Spark twin
    folds the same frame in the same ascending-day order (collect_list
    + aggregate), so both engines execute the IDENTICAL float-op
    sequence — bit-equal results, no rounding luck. The decay constant
    is interpolated from one Python double (a textual ``1 - 0.3``
    would parse as DECIMAL arithmetic here)."""
    decay = (1.0 - alpha) if decay is None else decay
    wexpr = f"power({decay!r}, date_diff('day', r.bd, d))"
    return f"""
        SELECT d,
               list_sum(list_transform(lst, r -> r.x * {wexpr}))
                   / list_sum(list_transform(lst, r -> {wexpr})) AS ema
        FROM (
            SELECT d,
                   list({{'bd': d, 'x': {value}}}) OVER (
                       ORDER BY d
                       RANGE BETWEEN INTERVAL {horizon - 1} DAY PRECEDING
                       AND CURRENT ROW
                   ) AS lst
            FROM {src}
        )
    """


def trunc_ema_ordered(
    src: DataFrame,
    value: str,
    alpha: float,
    out: str,
    horizon: int = MACD_HORIZON,
    decay: float | None = None,
) -> DataFrame:
    """Spark twin of ``_duck_trunc_ema``: the same truncated EMA as an
    ordered fold over a range-frame window. collect_list over the
    ordered frame accumulates in ascending-day order; F.aggregate folds
    sequentially — the float-op sequence matches DuckDB's list_sum
    exactly (see the DuckDB fragment's docstring for why a free-order
    SUM cannot be used). The window is global over the DAY SPINE —
    calendar-bounded rows, the same single-partition class as the
    other spine windows (yoy, extrema), never fact-row-sized."""
    decay = (1.0 - alpha) if decay is None else decay
    od = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    w = Window.orderBy(od).rangeBetween(-(horizon - 1), 0)
    frame = src.select(
        "d",
        F.collect_list(
            F.struct(F.col("d").alias("bd"), F.col(value).alias("x"))
        )
        .over(w)
        .alias("lst"),
    )
    wexp = lambda r: F.pow(  # noqa: E731
        F.lit(decay), F.datediff(F.col("d"), r["bd"])
    )
    num = F.aggregate(
        F.col("lst"), F.lit(0.0), lambda acc, r: acc + r["x"] * wexp(r)
    )
    den = F.aggregate(F.col("lst"), F.lit(0.0), lambda acc, r: acc + wexp(r))
    return frame.select("d", (num / den).alias(out))


@register(
    "macd_daily_revenue",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       / 100.0 AS rev
            FROM orders GROUP BY 1
        ),
        fast AS ({_duck_trunc_ema("rev", MACD_FAST)}),
        slow AS ({_duck_trunc_ema("rev", MACD_SLOW)}),
        macd AS (
            SELECT f.d,
                   floor((f.ema - s.ema) * 10000 + 0.5) / 10000 AS macd
            FROM fast f JOIN slow s ON f.d = s.d
        ),
        sig AS (
            SELECT d, floor(ema * 10000 + 0.5) / 10000 AS signal
            FROM ({_duck_trunc_ema("macd", MACD_SIGNAL, src="macd")})
        )
        SELECT m.d, m.macd, g.signal,
               floor((m.macd - g.signal) * 10000 + 0.5) / 10000 AS histogram
        FROM macd m JOIN sig g ON m.d = g.d
    """,
    tags=("timeseries", "finance", "macd", "extension"),
)
def q_macd_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (12/26/9) over daily order revenue: fast EMA minus slow
    EMA, a 9-span signal EMA over the MACD line, and their histogram —
    the standard momentum triple. EMAs are evaluated in truncated-
    window form (60-day horizon, adaptive normalization; residual tail
    weight < 0.5%) because the exact recursive form is not relational;
    both engines state the identical formula, and a plain-Python
    brute-force recompute pins it independently of the mirrored
    oracle (tests/test_round8_parity.py).

    Scale shape: revenue collapses to the day grain FIRST, so every
    window here runs on the calendar-bounded day spine (≈2.4k rows
    regardless of fact volume). Both engines evaluate every EMA as the
    SAME ordered sequential fold (see trunc_ema_ordered /
    _duck_trunc_ema) — bit-identical doubles end to end, so the 4dp
    rounding is pure display, not a parity crutch."""
    daily = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("rev")
    )
    fast = trunc_ema_ordered(daily, "rev", MACD_FAST, "ema_f")
    slow = trunc_ema_ordered(daily, "rev", MACD_SLOW, "ema_s")
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    macd = fast.join(slow, "d").select(
        "d", r4(F.col("ema_f") - F.col("ema_s")).alias("macd")
    )
    sig = trunc_ema_ordered(macd, "macd", MACD_SIGNAL, "sig_raw").select(
        "d", r4(F.col("sig_raw")).alias("signal")
    )
    return macd.join(sig, "d").select(
        "d",
        "macd",
        "signal",
        r4(F.col("macd") - F.col("signal")).alias("histogram"),
    )


# ---------------------------------------------------------------------------
# Kendall rank correlation (tau-b) over the day domain
# ---------------------------------------------------------------------------


@register(
    "kendall_tau_daily",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c,
                   count(*) AS n_orders
            FROM orders GROUP BY 1
        ),
        pairs AS (
            SELECT CASE WHEN sign(a.rev_c - b.rev_c) = sign(a.n_orders - b.n_orders)
                         AND a.rev_c <> b.rev_c AND a.n_orders <> b.n_orders
                        THEN 1 ELSE 0 END AS conc,
                   CASE WHEN sign(a.rev_c - b.rev_c) = -sign(a.n_orders - b.n_orders)
                         AND a.rev_c <> b.rev_c AND a.n_orders <> b.n_orders
                        THEN 1 ELSE 0 END AS disc,
                   CASE WHEN a.rev_c = b.rev_c AND a.n_orders <> b.n_orders
                        THEN 1 ELSE 0 END AS tie_x,
                   CASE WHEN a.rev_c <> b.rev_c AND a.n_orders = b.n_orders
                        THEN 1 ELSE 0 END AS tie_y
            FROM daily a JOIN daily b ON a.d < b.d
        )
        SELECT CAST(sum(conc) AS BIGINT) AS n_concordant,
               CAST(sum(disc) AS BIGINT) AS n_discordant,
               ROUND(
                   (sum(conc) - sum(disc))
                   / sqrt((sum(conc) + sum(disc) + sum(tie_x))
                          * (sum(conc) + sum(disc) + sum(tie_y))),
                   6) AS tau_b
        FROM pairs
    """,
    tags=("stats", "rank-correlation", "kendall", "extension"),
)
def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily revenue and daily order count:
    concordant minus discordant day pairs over the tie-corrected
    geometric mean (the rank correlation robust to the heavy ties a
    count column has). All comparisons run on INTEGER cents and
    counts, so concordance is exact — no float membership predicate.

    Scale shape: like spearman_rank_corr, the statistic is computed
    over the DAY domain, not the fact rows — the self-join is
    calendar-bounded (≈2.4k days → ~3M pairs at any SF) with one side
    broadcast, after a single grouped aggregate over the fact table.
    A plain-Python brute-force recompute pins the formula
    independently of the mirrored oracle."""
    daily = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"),
        F.count("*").alias("n_orders"),
    )
    a, b = daily.alias("a"), daily.alias("b")
    dx = F.col("a.rev_c") - F.col("b.rev_c")
    dy = F.col("a.n_orders") - F.col("b.n_orders")
    # concordance via SIGN comparison, never dx*dy: the product of two
    # BIGINT deltas overflows int64 once daily revenue reaches ~1e13
    # cents (ANSI aborts; non-ANSI silently flips the sign) — the same
    # overflow class the Jarque-Bera kernel designs out
    both = (dx != 0) & (dy != 0)
    pairs = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d")).select(
        F.when(both & (F.signum(dx) == F.signum(dy)), 1).otherwise(0).alias("conc"),
        F.when(both & (F.signum(dx) == -F.signum(dy)), 1).otherwise(0).alias("disc"),
        F.when((dx == 0) & (dy != 0), 1).otherwise(0).alias("tie_x"),
        F.when((dx != 0) & (dy == 0), 1).otherwise(0).alias("tie_y"),
    )
    agg = pairs.agg(
        F.sum("conc").alias("C"),
        F.sum("disc").alias("D"),
        F.sum("tie_x").alias("TX"),
        F.sum("tie_y").alias("TY"),
    )
    return agg.select(
        F.col("C").cast("long").alias("n_concordant"),
        F.col("D").cast("long").alias("n_discordant"),
        F.round(
            (F.col("C") - F.col("D"))
            / F.sqrt(
                (F.col("C") + F.col("D") + F.col("TX"))
                * (F.col("C") + F.col("D") + F.col("TY"))
            ),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Brown double exponential smoothing (level + trend)
# ---------------------------------------------------------------------------

BROWN_ALPHA = 0.3  # smoothing factor for both EMA passes
# the trend gain is computed ONCE in Python and interpolated verbatim
# into BOTH engines: a textual "0.3 / 0.7" parses as DECIMAL division
# in DuckDB (0.428571...) vs the Python double in Spark — enough to
# flip the 4dp floor rounding exactly on a boundary
BROWN_K = BROWN_ALPHA / (1.0 - BROWN_ALPHA)


@register(
    "brown_double_smoothing_daily",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       / 100.0 AS rev
            FROM orders GROUP BY 1
        ),
        s1 AS ({_duck_trunc_ema("rev", BROWN_ALPHA)}),
        s1r AS (SELECT d, floor(ema * 10000 + 0.5) / 10000 AS s1 FROM s1),
        s2 AS ({_duck_trunc_ema("s1", BROWN_ALPHA, src="s1r")}),
        s2r AS (SELECT d, floor(ema * 10000 + 0.5) / 10000 AS s2 FROM s2)
        SELECT s1r.d,
               floor((2 * s1 - s2) * 10000 + 0.5) / 10000 AS level,
               floor({BROWN_K!r} * (s1 - s2)
                     * 10000 + 0.5) / 10000 AS trend,
               floor((2 * s1 - s2
                      + {BROWN_K!r} * (s1 - s2))
                     * 10000 + 0.5) / 10000 AS forecast_1d
        FROM s1r JOIN s2r ON s1r.d = s2r.d
    """,
    tags=("timeseries", "smoothing", "brown", "extension"),
)
def q_brown_double_smoothing_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown double exponential smoothing of daily revenue: two
    stacked truncated-window EMAs give level = 2·S1 − S2, trend =
    α/(1−α)·(S1 − S2), and the one-day-ahead forecast — the
    trend-aware smoother a demand-forecast pipeline runs after plain
    EWMA (the exact recursive Holt form is not relational; Brown's
    double-EMA variant is, under the same 60-day truncation as MACD).
    Both EMA passes run through the shared ordered-fold kernel
    (trunc_ema_ordered — bit-identical to the oracle's list fold; a
    free-order SUM flipped this query's second pass on a 4dp rounding
    boundary at sf0.01, which is why the kernel exists). Brute-force
    recompute in tests/test_round8_parity.py."""
    daily = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("rev")
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    s1 = trunc_ema_ordered(daily, "rev", BROWN_ALPHA, "e1").select(
        "d", r4(F.col("e1")).alias("s1")
    )
    s2 = trunc_ema_ordered(s1, "s1", BROWN_ALPHA, "e2").select(
        "d", r4(F.col("e2")).alias("s2")
    )
    k = BROWN_K
    return s1.join(s2, "d").select(
        "d",
        r4(2 * F.col("s1") - F.col("s2")).alias("level"),
        r4(F.lit(k) * (F.col("s1") - F.col("s2"))).alias("trend"),
        r4(
            2 * F.col("s1")
            - F.col("s2")
            + F.lit(k) * (F.col("s1") - F.col("s2"))
        ).alias("forecast_1d"),
    )


# ---------------------------------------------------------------------------
# Local extrema (turning points) of daily revenue
# ---------------------------------------------------------------------------


@register(
    "local_extrema_daily",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS rev_c
            FROM orders GROUP BY 1
        ),
        ctx AS (
            SELECT d, rev_c,
                   lag(rev_c) OVER (ORDER BY d) AS prv,
                   lead(rev_c) OVER (ORDER BY d) AS nxt
            FROM daily
        )
        SELECT d, rev_c / 100.0 AS revenue,
               CASE WHEN rev_c > prv AND rev_c > nxt THEN 'max'
                    ELSE 'min' END AS kind
        FROM ctx
        WHERE (rev_c > prv AND rev_c > nxt)
           OR (rev_c < prv AND rev_c < nxt)
    """,
    tags=("timeseries", "turning-points", "extension"),
)
def q_local_extrema_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning points of the daily revenue series: days STRICTLY above
    (local max) or below (local min) both calendar neighbors — the
    peak/trough detector behind drawdown and changepoint reports.
    Comparisons run on integer cents (exact; a one-cent plateau is a
    tie and correctly NOT an extremum); boundary days with a NULL
    neighbor never qualify in either engine (NULL comparisons are
    not-true). One calendar-bounded ordered window over the day
    spine."""
    daily = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c")
    )
    w = Window.orderBy("d")
    ctx = daily.select(
        "d",
        "rev_c",
        F.lag("rev_c").over(w).alias("prv"),
        F.lead("rev_c").over(w).alias("nxt"),
    )
    is_max = (F.col("rev_c") > F.col("prv")) & (F.col("rev_c") > F.col("nxt"))
    is_min = (F.col("rev_c") < F.col("prv")) & (F.col("rev_c") < F.col("nxt"))
    return ctx.where(is_max | is_min).select(
        "d",
        (F.col("rev_c") / 100.0).alias("revenue"),
        F.when(is_max, "max").otherwise("min").alias("kind"),
    )


# ---------------------------------------------------------------------------
# Time-to-convert percentiles (first view → first purchase)
# ---------------------------------------------------------------------------


@register(
    "time_to_convert_percentiles",
    oracle="""
        WITH fv AS (
            SELECT user_id, min(ts) AS v_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        fp AS (
            SELECT f.user_id,
                   (epoch_us(min(p.ts)) - epoch_us(f.v_ts)) // 1000000 AS gap_s
            FROM fv f JOIN events p
              ON p.user_id = f.user_id
             AND p.event_type = 'purchase'
             AND p.ts >= f.v_ts
            GROUP BY f.user_id, f.v_ts
        ),
        gaps AS (SELECT CAST(gap_s AS BIGINT) AS g, count(*) AS c FROM fp GROUP BY 1),
        cum AS (
            SELECT g,
                   SUM(c) OVER (ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                   SUM(c) OVER () AS tw
            FROM gaps
        )
        SELECT CAST(any_value(tw) AS BIGINT) AS n_converters,
               CAST(min(g) FILTER (WHERE cw * 4 >= tw) AS BIGINT) AS p25_s,
               CAST(min(g) FILTER (WHERE cw * 2 >= tw) AS BIGINT) AS p50_s,
               CAST(min(g) FILTER (WHERE cw * 4 >= tw * 3) AS BIGINT) AS p75_s
        FROM cum
    """,
    tags=("timeseries", "funnel", "percentiles", "extension"),
)
def q_time_to_convert_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency quartiles: seconds from each user's FIRST
    view to their first purchase at-or-after it, summarized as
    p25/p50/p75 — the funnel-health number the per-stage counts
    (funnel_view_click_purchase) don't give. Percentile picks use the
    integer cumulative-count rule over the distinct-gap frame (the
    weighted_median membership discipline: cw·4 ≥ tw never rides a
    float, and both engines agree exactly — unlike interpolated
    quantiles whose midpoints differ per engine). Two grouped
    aggregates and one gap-domain window; no correlated per-user
    lookup (the first-purchase-after-view is a groupBy over the
    range-joined pairs, which AQE keeps a broadcast of the small
    first-view side)."""
    ev = read_table(spark, sf_dir, "events")
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    fp = (
        fv.join(p, "user_id")
        .where(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id", "v_ts")
        .agg(
            (
                F.unix_micros(F.min("ts").cast("timestamp"))
                - F.unix_micros(F.col("v_ts").cast("timestamp"))
            ).alias("gap_us")
        )
        # integer floor division in BOTH engines: a double divide +
        # cast would TRUNCATE here but ROUND in DuckDB's BIGINT cast
        .select(F.expr("gap_us DIV 1000000").alias("g"))
    )
    gaps = fp.groupBy("g").agg(F.count("*").alias("c"))
    wcum = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = gaps.select(
        "g",
        F.sum("c").over(wcum).alias("cw"),
        F.sum("c").over(Window.partitionBy()).alias("tw"),
    )
    pick = lambda cond, name: F.min(F.when(cond, F.col("g"))).cast("long").alias(name)  # noqa: E731
    return cum.agg(
        F.any_value("tw").cast("long").alias("n_converters"),
        pick(F.col("cw") * 4 >= F.col("tw"), "p25_s"),
        pick(F.col("cw") * 2 >= F.col("tw"), "p50_s"),
        pick(F.col("cw") * 4 >= F.col("tw") * 3, "p75_s"),
    )


# ---------------------------------------------------------------------------
# Rolling 30-day OLS slope of daily revenue
# ---------------------------------------------------------------------------

OLS_WINDOW_D = 30
# x anchor near the TPC-H date midpoint: keeps |x| ~1e3 so x*x and
# n*sxx-sx*sx stay deep inside int64 at any SF (x*y still rides
# decimal/HUGEINT — y alone is SF-proportional)
OLS_X_ANCHOR = "1995-06-01"


@register(
    "rolling_ols_slope_30d",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   date_diff('day', DATE '{OLS_X_ANCHOR}', CAST(o_orderdate AS DATE))
                       AS x,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS y
            FROM orders GROUP BY 1, 2
        ),
        win AS (
            SELECT d,
                   count(*) OVER w AS n,
                   sum(x) OVER w AS sx,
                   sum(CAST(y AS HUGEINT)) OVER w AS sy,
                   sum(CAST(x AS HUGEINT) * y) OVER w AS sxy,
                   sum(x * x) OVER w AS sxx
            FROM daily
            WINDOW w AS (ORDER BY d
                RANGE BETWEEN INTERVAL {OLS_WINDOW_D - 1} DAY PRECEDING
                AND CURRENT ROW)
        )
        SELECT d, CAST(n AS BIGINT) AS n_days,
               ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                     / 100.0, 6) AS slope_per_day
        FROM win
        WHERE n >= 2 AND n * sxx - sx * sx > 0
    """,
    tags=("timeseries", "regression", "rolling", "extension"),
)
def q_rolling_ols_slope_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day OLS trend slope of daily revenue (dollars/day):
    the windowed least-squares fit a monitoring dashboard draws under
    the revenue line. The five sufficient statistics (n, Σx, Σy, Σxy,
    Σx²) are EXACT integer window sums (x = days since epoch, y =
    integer cents), so both engines feed the closed-form slope
    identical integers — the only doubles are two single divisions,
    not order-dependent accumulations (the ordered-fold concern the
    EMA kernel handles does not arise). One calendar-bounded range
    window over the day spine; single-day windows emit nothing (zero
    x-variance guard, both engines)."""
    daily = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
    ).withColumn(
        "x", F.datediff(F.col("d"), F.lit(OLS_X_ANCHOR).cast("date")).cast("long")
    )
    w = (
        Window.orderBy("x")
        .rangeBetween(-(OLS_WINDOW_D - 1), 0)
    )
    # Σxy and Σy ride decimal(38,0): x is anchored near the data's
    # midpoint (|x| stays ~1e3), but y is SF-proportional cents, so
    # the raw x*y window sum overflows int64 around 10 TB; decimal
    # sums stay exact (DuckDB twin: HUGEINT) and both engines feed
    # the closed-form slope identical integers
    win = daily.select(
        "d",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).over(w).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    return win.where(
        (F.col("n") >= 2)
        & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
    ).select(
        "d",
        F.col("n").cast("long").alias("n_days"),
        F.round(
            (
                F.col("n") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / denom
            / 100.0,
            6,
        ).alias("slope_per_day"),
    )
