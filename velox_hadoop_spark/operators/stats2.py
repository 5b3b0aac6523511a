"""Statistical-test breadth, round 6 continuation. [extension]

The inference/diagnostic statistics an analyst reaches for after the
first-moment families (``mining.py``'s chi2 / KS / Benford / Gini,
``funcs2.py``'s regression / moment functions): rank correlation
(Spearman), one-way ANOVA F, autocorrelation of a daily series, max
drawdown, an exact integer-arithmetic CUSUM changepoint, the Theil
inequality index, and the Mann-Whitney U rank-sum test.

Determinism rules (same as the rest of the repo):
  * money always rides as integer cents; rank sums are exact multiples
    of 0.5 (< 2^53, exact in double); the CUSUM statistic is kept in
    scaled-integer space (n·Σx − t·S) so the argmax is an int64
    comparison, never a float one.
  * ratio statistics (rho, F, acf, theil, z) are display-rounded at
    6 dp in BOTH engines — the accepted ROUND(aggregate-of-double)
    class; no membership predicate rides a raw double.
  * rank statistics never sort the ROW set: average ranks come from
    the distinct-VALUE frame (count per value → prefix sum → avg rank,
    joined back to rows), so the one ordered window runs over the
    value domain — bounded by the generator's price/quantity domains,
    not by SF. The date filters on the Spearman / Mann-Whitney inputs
    are semantic (a month's snapshot), not the scale mechanism. The
    series statistics run over the per-DAY aggregate, whose length is
    calendar-bounded (~2.4k rows regardless of SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def safe_corr(x, y):
    """Pearson correlation as an aggregate expression with DuckDB's
    degenerate contract: NULL when either side has zero variance.

    Spark 4's ``F.corr`` THROWS DIVIDE_BY_ZERO under ANSI mode on a
    zero-variance input (DuckDB returns NULL), and an aggregate cannot
    be conditionally skipped — so the correlation is built from moment
    sums with the variance guard applied after aggregation. Pairs with
    a NULL on either side are excluded (the same pairwise-deletion rule
    ``corr`` uses in both engines). Inputs must already be DOUBLE: a
    long input would overflow int64 in the x² sum under ANSI. The
    moment form carries ~1e-12 relative cancellation noise vs the
    engines' one-pass co-moment kernels — absorbed by the callers'
    6 dp display round (accepted class)."""
    both = x.isNotNull() & y.isNotNull()
    xv = F.when(both, x)
    yv = F.when(both, y)
    n = F.count(xv).cast("double")
    sx, sy = F.sum(xv), F.sum(yv)
    cov = n * F.sum(xv * yv) - sx * sy
    vx = n * F.sum(xv * xv) - sx * sx
    vy = n * F.sum(yv * yv) - sy * sy
    return F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))


def _daily_rev_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, rev_cents) — total order revenue per calendar day, integer
    cents. The shared spine of the series statistics below; its length
    is bounded by the order-date calendar (~7 years), not by SF, so a
    global ORDER BY day window over it is scale-safe."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )


_DUCK_DAILY = """
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM orders GROUP BY 1
    )
"""

# Semantic input slices for the rank tests (one ship month / one order
# half-year): they pick WHICH snapshot is tested, not how it scales —
# a calendar slice of TPC-H still grows linearly with SF, which is why
# the rank machinery below is domain-bounded, not slice-bounded.
_SPEAR_LO, _SPEAR_HI = "1995-03-01", "1995-04-01"
_MW_LO, _MW_HI = "1995-01-01", "1995-07-01"


def avg_rank_map(df: DataFrame, part_cols: list[str], val_col: str) -> DataFrame:
    """Average pooled rank per DISTINCT value — the scale-safe rank
    kernel of the Spearman / Mann-Whitney statistics.

    ``rank() + (|ties|−1)/2`` over the row set needs a total order over
    every row of the partition — a single-task sort that grows with SF.
    The identical average ranks come from the distinct-value frame:
    count per value, ordered prefix sum, ``avg_rank = cum_before +
    (n+1)/2`` (min-rank is ``cum_before + 1``; the tie block's average
    adds ``(n−1)/2``). The one ordered window here runs over DISTINCT
    values, bounded by the column's generator domain (quantity: 50
    values; prices: the fixed cent range), not by the corpus; rows then
    re-acquire their rank by a plain value equi-join. Ranks are exact
    multiples of 0.5 at any size (int prefix + half)."""
    vals = df.groupBy(*part_cols, val_col).agg(F.count("*").alias("_n"))
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("_n").over(w), F.lit(0))
    return vals.select(
        *part_cols,
        val_col,
        (cum_before + (F.col("_n") + 1) / 2.0).alias("avg_rank"),
    )


@register(
    "spearman_rank_corr",
    oracle=f"""
        WITH x AS (
            SELECT l_returnflag AS flag, l_quantity AS a, l_extendedprice AS b
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{_SPEAR_LO} 00:00:00'
              AND l_shipdate <  TIMESTAMP '{_SPEAR_HI} 00:00:00'
        ),
        r AS (
            SELECT flag,
                   rank() OVER (PARTITION BY flag ORDER BY a)
                     + (count(*) OVER (PARTITION BY flag, a) - 1) / 2.0 AS ra,
                   rank() OVER (PARTITION BY flag ORDER BY b)
                     + (count(*) OVER (PARTITION BY flag, b) - 1) / 2.0 AS rb
            FROM x
        )
        SELECT flag, count(*) AS n,
               round(corr(ra, rb), 6) AS spearman_rho
        FROM r GROUP BY flag
    """,
    tags=("stats", "rank", "correlation", "extension"),
)
def q_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price per
    return flag, over one ship month.

    Average ranks for ties, the textbook definition, computed by the
    domain-bounded ``avg_rank_map`` kernel (the oracle's row-level
    ``rank() + (|ties|−1)/2`` windows express the same ranks — a
    row-sort is fine in a single-node reference, not in the
    distributed plan); rows re-acquire their two ranks by per-flag
    value joins, no row-ordered window anywhere. Rank values are exact
    multiples of 0.5, so the only float aggregate is the final
    correlation, display-rounded at 6 dp in both engines."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(_SPEAR_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_SPEAR_HI).cast("timestamp"))
    )
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("a"),
        F.col("l_extendedprice").alias("b"),
    )
    ra = avg_rank_map(x, ["flag"], "a").withColumnRenamed("avg_rank", "ra")
    rb = avg_rank_map(x, ["flag"], "b").withColumnRenamed("avg_rank", "rb")
    return (
        x.join(ra, ["flag", "a"])
        .join(rb, ["flag", "b"])
        .groupBy("flag")
        .agg(
            F.count("*").alias("n"),
            F.round(safe_corr(F.col("ra"), F.col("rb")), 6).alias(
                "spearman_rho"
            ),
        )
    )


@register(
    "anova_f_priority",
    oracle="""
        WITH g AS (
            SELECT o_orderpriority AS p,
                   count(*) AS n,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s,
                   sum(CAST(round(o_totalprice * 100) AS DOUBLE)
                       * CAST(round(o_totalprice * 100) AS DOUBLE)) AS ss
            FROM orders GROUP BY 1
        ),
        t AS (
            SELECT CAST(sum(n) AS BIGINT) AS big_n,
                   CAST(count(*) AS BIGINT) AS k,
                   sum(s) AS total
            FROM g
        ),
        parts AS (
            SELECT sum(n * power(CAST(s AS DOUBLE) / n
                                 - CAST(total AS DOUBLE) / big_n, 2)) AS ssb,
                   sum(CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * s / n) AS ssw
            FROM g, t
        )
        SELECT big_n AS n_rows, k AS n_groups,
               CAST(big_n - k AS BIGINT) AS df_within,
               CASE WHEN k > 1 AND big_n > k AND ssw > 0 THEN
                   round((ssb / (k - 1)) / (ssw / (big_n - k)), 6)
               END AS f_stat
        FROM t CROSS JOIN parts
    """,
    tags=("stats", "anova", "extension"),
)
def q_anova_f_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic of order value across the five order
    priorities — does priority explain any of the price variance?

    Pure two-level aggregation, no windows: per-group n and Σx in exact
    integer cents; Σx² accumulates in DOUBLE (squared cents overflow
    int64 past ~10⁴ rows·group — ANSI mode fails loudly on the exact
    variant), feeding SSB/(k−1) over SSW/(n−k) from the group frame —
    k = 5 rows, so the final reduction is driver-trivial and the only
    shuffle is the groupBy. SSW's Σx² − (Σx)²/n cancellation leaves
    ~1e-12 relative noise between the engines, absorbed by the 6 dp
    display round on F — the accepted ROUND(aggregate-of-double)
    class; no membership predicate rides it."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cents_d = cents.cast("double")
    g = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("p"))
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("s"),
            F.sum(cents_d * cents_d).alias("ss"),
        )
    )
    t = g.agg(
        F.sum("n").alias("big_n"),
        F.count("*").alias("k"),
        F.sum("s").alias("total"),
    )
    # t is one row (global totals); no broadcast hint needed — AQE
    # broadcasts a 1-row side unconditionally (lint_plans rule)
    joined = g.crossJoin(t)
    parts = joined.agg(
        F.sum(
            F.col("n")
            * F.pow(
                F.col("s").cast("double") / F.col("n")
                - F.col("total").cast("double") / F.col("big_n"),
                2,
            )
        ).alias("ssb"),
        F.sum(
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("ssw"),
    )
    # Final row comes from t (the totals frame), NOT from an aggregate
    # over the possibly-EMPTY joined frame: on an empty input DuckDB's
    # `SELECT ... FROM t` still sees k = 0 where a first()-over-empty
    # would yield NULL. F is guarded NULL when it is undefined: fewer
    # than two groups, no within degrees of freedom, or zero
    # within-group variance — identical CASE in the oracle.
    return t.crossJoin(parts).select(
        F.col("big_n").alias("n_rows"),
        F.col("k").alias("n_groups"),
        (F.col("big_n") - F.col("k")).alias("df_within"),
        F.when(
            (F.col("k") > 1) & (F.col("big_n") > F.col("k")) & (F.col("ssw") > 0),
            F.round(
                (F.col("ssb") / (F.col("k") - 1))
                / (F.col("ssw") / (F.col("big_n") - F.col("k"))),
                6,
            ),
        ).alias("f_stat"),
    )


_ACF_LAGS = 7


@register(
    "acf_daily_revenue",
    oracle=f"""
        WITH {_DUCK_DAILY},
        lagged AS (
            SELECT rev_cents AS x,
                   {", ".join(f"lag(rev_cents, {k}) OVER (ORDER BY day) AS x{k}" for k in range(1, _ACF_LAGS + 1))}
            FROM daily
        )
        {" UNION ALL ".join(
            f"SELECT CAST({k} AS BIGINT) AS lag, "
            f"CAST(count(x{k}) AS BIGINT) AS n_pairs, "
            f"round(corr(x, x{k}), 6) AS acf FROM lagged"
            for k in range(1, _ACF_LAGS + 1)
        )}
    """,
    tags=("stats", "timeseries", "autocorrelation", "extension"),
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at lags 1..7 — the weekly-
    seasonality diagnostic read before fitting any forecast.

    Positional lag over the day-ordered series (gap days shift the
    alignment identically in both engines), all seven lag columns from
    ONE window pass over the calendar-bounded daily frame, all seven
    correlations from ONE aggregate, then ``stack`` to long form — no
    per-lag rescan. ``corr`` drops the NULL head of each lag column in
    both engines; n_pairs records how many pairs each estimate used."""
    w = Window.orderBy("day")
    daily = _daily_rev_cents(spark, sf_dir)
    lagged = daily.select(
        F.col("rev_cents").alias("x"),
        *[
            F.lag("rev_cents", k).over(w).alias(f"x{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    aggs = []
    for k in range(1, _ACF_LAGS + 1):
        aggs.append(F.count(f"x{k}").alias(f"n{k}"))
        aggs.append(
            F.round(
                safe_corr(
                    F.col("x").cast("double"), F.col(f"x{k}").cast("double")
                ),
                6,
            ).alias(f"a{k}")
        )
    one = lagged.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), n{k}, a{k}" for k in range(1, _ACF_LAGS + 1)
    )
    return one.select(
        F.expr(f"stack({_ACF_LAGS}, {stack_args}) AS (lag, n_pairs, acf)")
    )


@register(
    "max_drawdown_daily_revenue",
    oracle=f"""
        WITH {_DUCK_DAILY},
        dd AS (
            SELECT day, rev_cents,
                   max(rev_cents) OVER (
                       ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS peak_cents
            FROM daily
        )
        SELECT day, CAST(rev_cents AS BIGINT) AS rev_cents,
               CAST(peak_cents AS BIGINT) AS peak_cents,
               round((peak_cents - rev_cents) / CAST(peak_cents AS DOUBLE), 6)
                   AS drawdown
        FROM dd
        ORDER BY (peak_cents - rev_cents) / CAST(peak_cents AS DOUBLE) DESC,
                 day
        LIMIT 1
    """,
    tags=("stats", "timeseries", "drawdown", "extension"),
)
def q_max_drawdown_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst drawdown of the daily-revenue series: the day whose revenue
    sits furthest (relatively) below the running peak.

    Running peak via a ROWS UNBOUNDED PRECEDING max over the calendar-
    bounded daily frame; peak and value stay integer cents, so the one
    double is a single int64/int64 division — bit-identical IEEE in
    both engines, safe to ORDER BY (day tiebreak pins equal ratios)."""
    daily = _daily_rev_cents(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.withColumn("peak_cents", F.max("rev_cents").over(w))
    ratio = (F.col("peak_cents") - F.col("rev_cents")) / F.col(
        "peak_cents"
    ).cast("double")
    return (
        dd.select(
            "day",
            "rev_cents",
            "peak_cents",
            F.round(ratio, 6).alias("drawdown"),
        )
        .orderBy(ratio.desc(), "day")
        .limit(1)
    )


@register(
    "cusum_changepoint_daily",
    oracle=f"""
        WITH {_DUCK_DAILY},
        t AS (SELECT count(*) AS n, sum(rev_cents) AS s FROM daily),
        c AS (
            SELECT day,
                   (SELECT n FROM t)
                     * sum(rev_cents) OVER (
                           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND CURRENT ROW)
                     - row_number() OVER (ORDER BY day) * (SELECT s FROM t)
                       AS cusum_scaled
            FROM daily
        )
        SELECT day AS change_day,
               CAST(cusum_scaled AS DOUBLE) AS cusum_scaled,
               CAST((SELECT n FROM t) AS BIGINT) AS n_days
        FROM c
        ORDER BY abs(cusum_scaled) DESC, day
        LIMIT 1
    """,
    tags=("stats", "timeseries", "changepoint", "extension"),
)
def q_cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint of the daily-revenue series: the day where the
    cumulative deviation from the global mean peaks in magnitude — the
    classic single-changepoint estimator.

    The statistic is kept in scaled-integer space: n·Σᵗx − t·S (n days,
    S total cents) is the textbook Σᵗ(x−μ) multiplied through by n, so
    the argmax is an EXACT wide-integer comparison — no float summation
    order anywhere. The products ride decimal(38,0) (DuckDB's windowed
    sum is already HUGEINT): n·Σx ≈ 2.4k × total-cents crosses int64
    near SF ≈ 170, far below the 100 TB target — int64 here wrapped in
    Spark while DuckDB's CAST threw (round-9 review find; the original
    docstring's "~10⁴ beyond" bound was wrong). Only the DISPLAYED
    statistic converts to double; the argmax ordering stays exact."""
    daily = _daily_rev_cents(spark, sf_dir)
    t = daily.agg(
        F.count("*").alias("n_days"), F.sum("rev_cents").alias("s")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    # t is one row (n_days, total cents); AQE broadcasts it unhinted
    c = (
        daily.crossJoin(t)
        .withColumn("cum", F.sum("rev_cents").over(w))
        .withColumn("t_idx", F.row_number().over(Window.orderBy("day")))
        .select(
            F.col("day").alias("change_day"),
            (
                F.col("n_days").cast("decimal(38,0)") * F.col("cum")
                - F.col("t_idx").cast("decimal(38,0)") * F.col("s")
            ).alias("cusum_x"),
            "n_days",
        )
    )
    return (
        c.orderBy(F.abs(F.col("cusum_x")).desc(), "change_day")
        .limit(1)
        .select(
            "change_day",
            F.col("cusum_x").cast("double").alias("cusum_scaled"),
            "n_days",
        )
    )


_BB_WIN = 20


@register(
    "bollinger_breakout_days",
    oracle=f"""
        WITH {_DUCK_DAILY},
        rolled AS (
            SELECT day, rev_cents / 100.0 AS rev,
                   avg(rev_cents / 100.0) OVER w AS m,
                   stddev_samp(rev_cents / 100.0) OVER w AS sd,
                   count(*) OVER w AS nwin
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN {_BB_WIN - 1} PRECEDING
                                              AND CURRENT ROW)
        )
        SELECT day, rev, ROUND((rev - m) / sd, 4) AS z
        FROM rolled
        WHERE nwin = {_BB_WIN} AND sd > 0
          AND floor(abs((rev - m) / sd) * 10000 + 0.5) / 10000 > 2
    """,
    tags=("stats", "timeseries", "anomaly", "extension"),
)
def q_bollinger_breakout_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days breaking out of their trailing 20-day Bollinger band
    (|z| > 2 vs the rolling mean/σ) — the rolling cousin of
    ``seasonal_weekday_anomaly``'s weekday-profile z.

    One window pass over the calendar-bounded daily spine computes
    mean, σ, and the full-window count (a partial leading window must
    not emit — its σ is not a 20-day σ). Membership uses the repo's
    4-dp floor-grid rule, never the raw double z: the rolling avg and
    stddev accumulate in different orders across engines, so a z
    within ulps of 2.0 must not decide row membership."""
    daily = _daily_rev_cents(spark, sf_dir).select(
        "day", (F.col("rev_cents") / 100.0).alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(-(_BB_WIN - 1), 0)
    rolled = daily.select(
        "day",
        "rev",
        F.avg("rev").over(w).alias("m"),
        F.stddev_samp("rev").over(w).alias("sd"),
        F.count("*").over(w).alias("nwin"),
    )
    z = (F.col("rev") - F.col("m")) / F.col("sd")
    return (
        rolled.where(
            (F.col("nwin") == _BB_WIN)
            & (F.col("sd") > 0)
            & (F.floor(F.abs(z) * 10000 + F.lit(0.5)) / 10000 > 2)
        )
        .select("day", "rev", F.round(z, 4).alias("z"))
    )


_RSI_WIN = 14


@register(
    "rsi_14_daily",
    oracle=f"""
        WITH {_DUCK_DAILY},
        deltas AS (
            SELECT day,
                   rev_cents - lag(rev_cents) OVER (ORDER BY day) AS d
            FROM daily
        ),
        gl AS (
            SELECT day,
                   sum(greatest(d, 0)) OVER w AS g,
                   sum(greatest(-d, 0)) OVER w AS l,
                   count(d) OVER w AS nwin
            FROM deltas WHERE d IS NOT NULL
            WINDOW w AS (ORDER BY day ROWS BETWEEN {_RSI_WIN - 1} PRECEDING
                                              AND CURRENT ROW)
        ),
        full_win AS (SELECT * FROM gl WHERE nwin = {_RSI_WIN})
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(count(*) FILTER (WHERE 3 * g > 7 * l) AS BIGINT)
                   AS n_overbought,
               CAST(count(*) FILTER (WHERE 7 * g < 3 * l) AS BIGINT)
                   AS n_oversold,
               CAST(count(*) FILTER (WHERE g + l = 0) AS BIGINT) AS n_flat,
               round(avg(CASE WHEN g + l > 0
                              THEN 100.0 * g / (g + l) END), 6) AS avg_rsi
        FROM full_win
    """,
    tags=("stats", "timeseries", "indicator", "extension"),
)
def q_rsi_14_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI (simple-average form) of daily revenue, with the
    overbought/oversold census done in EXACT integer arithmetic:
    RSI > 70 ⟺ 100g > 70(g+l) ⟺ 3g > 7l and RSI < 30 ⟺ 7g < 3l, where
    g/l are int64 window sums of the positive/negative day-over-day
    cent deltas — so the classification counts can never ride a float
    boundary. Only the reported average RSI is a double (display-
    rounded). Days without a full 14-delta window are excluded; a
    zero-movement window (g+l=0, RSI undefined) is counted as flat and
    excluded from the average in both engines."""
    daily = _daily_rev_cents(spark, sf_dir)
    d = daily.select(
        "day",
        (
            F.col("rev_cents")
            - F.lag("rev_cents").over(Window.orderBy("day"))
        ).alias("d"),
    ).where(F.col("d").isNotNull())
    w = Window.orderBy("day").rowsBetween(-(_RSI_WIN - 1), 0)
    gl = d.select(
        F.sum(F.greatest(F.col("d"), F.lit(0))).over(w).alias("g"),
        F.sum(F.greatest(-F.col("d"), F.lit(0))).over(w).alias("l"),
        F.count("d").over(w).alias("nwin"),
    ).where(F.col("nwin") == _RSI_WIN)
    return gl.agg(
        F.count("*").alias("n_days"),
        F.count(F.when(3 * F.col("g") > 7 * F.col("l"), 1)).alias(
            "n_overbought"
        ),
        F.count(F.when(7 * F.col("g") < 3 * F.col("l"), 1)).alias("n_oversold"),
        F.count(F.when(F.col("g") + F.col("l") == 0, 1)).alias("n_flat"),
        F.round(
            F.avg(
                F.when(
                    F.col("g") + F.col("l") > 0,
                    100.0 * F.col("g") / (F.col("g") + F.col("l")),
                )
            ),
            6,
        ).alias("avg_rsi"),
    )


@register(
    "theil_index_spend",
    oracle="""
        WITH spend AS (
            SELECT c.c_nationkey AS nationkey,
                   sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_nationkey
        ),
        named AS (
            SELECT n.n_name AS nation, s.cents
            FROM spend s JOIN nation n ON n.n_nationkey = s.nationkey
        ),
        terms AS (
            SELECT nation,
                   (cents / avg(cents) OVER (PARTITION BY nation))
                     * ln(cents / avg(cents) OVER (PARTITION BY nation)) AS term
            FROM named
        )
        SELECT nation,
               CAST(count(*) AS BIGINT) AS n_customers,
               round(avg(term), 6) AS theil
        FROM terms GROUP BY nation
    """,
    tags=("stats", "inequality", "extension"),
)
def q_theil_index_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil inequality index of customer spend within each nation —
    the decomposable cousin of ``gini_spend_by_nation``: T = mean of
    (x/μ)·ln(x/μ) over the nation's buying customers.

    Spend is exact integer cents per customer (one groupBy); the
    per-nation mean comes from a window over the customer-spend frame
    partitioned by nation, so each element's (x/μ)ln(x/μ) term is a
    deterministic scalar and the final mean is the accepted
    ROUND(aggregate-of-double) class. Buying customers only — an inner
    join, so x > 0 and ln is always finite."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    spend = (
        read_table(spark, sf_dir, "orders")
        .join(
            read_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum(cents).alias("cents"))
    )
    nation = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation")
    )
    mu = F.avg("cents").over(Window.partitionBy("nation"))
    term = (F.col("cents") / mu) * F.log(F.col("cents") / mu)
    return (
        spend.join(F.broadcast(nation), "c_nationkey")
        .select("nation", term.alias("term"))
        .groupBy("nation")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("term"), 6).alias("theil"),
        )
    )


@register(
    "mann_whitney_u",
    oracle=f"""
        WITH x AS (
            SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
              AND o_orderdate >= TIMESTAMP '{_MW_LO} 00:00:00'
              AND o_orderdate <  TIMESTAMP '{_MW_HI} 00:00:00'
        ),
        r AS (
            -- DOUBLED rank units (2*rank + ties - 1 = 2*avg_rank): the
            -- rank sum stays an exact wide integer instead of a
            -- free-order double sum of 0.5-multiples, which loses
            -- exactness past 2^53 and diverges between engines
            -- (round-9 review find)
            SELECT g1,
                   rank() OVER (ORDER BY v) * 2
                     + count(*) OVER (PARTITION BY v) - 1 AS ar2
            FROM x
        ),
        agg AS (
            SELECT CAST(sum(g1) AS BIGINT) AS n1,
                   CAST(count(*) - sum(g1) AS BIGINT) AS n2,
                   CAST(sum(CASE WHEN g1 = 1 THEN ar2 ELSE 0 END) AS HUGEINT)
                       AS r1_2
            FROM r
        ),
        u AS (
            SELECT n1, n2,
                   r1_2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS u1_2
            FROM agg
        )
        SELECT n1, n2,
               CAST(u1_2 AS DOUBLE) / 2.0 AS u1,
               CAST(2 * CAST(n1 AS HUGEINT) * n2 - u1_2 AS DOUBLE) / 2.0 AS u2,
               round((CAST(u1_2 AS DOUBLE) / 2.0
                      - CAST(n1 AS DOUBLE) * n2 / 2)
                     / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12.0),
                     6) AS z
        FROM u
    """,
    tags=("stats", "rank", "hypothesis-test", "extension"),
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: do URGENT orders run larger than
    LOW orders (first half of 1995)?

    Average pooled ranks via the distinct-value form: per distinct
    cent value, (total count, group-1 count) in one groupBy, the
    domain-bounded prefix sum gives the value's average rank, and
    R₁ = Σ n1(v)·avg_rank(v) — algebraically identical to summing each
    group-1 row's rank (a tie block's ranks sum to count × average),
    which is what the oracle's row-level window computes. R₁ is an
    exact multiple of 0.5 so U₁/U₂ are exact; the normal-approximation
    z (no tie correction — documented) is the only display-rounded
    double, and it is NULL when either group is empty (σ_U = 0 —
    guarded: ANSI raises on the zero division where DuckDB yields
    NULL)."""
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
        & (F.col("o_orderdate") >= F.lit(_MW_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_MW_HI).cast("timestamp"))
    )
    x = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("g1"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    vals = x.groupBy("v").agg(
        F.count("*").alias("_n"), F.sum("g1").alias("_n1")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    # DOUBLED rank units: ar2 = 2*cum_before + n + 1 = 2*avg_rank is an
    # exact integer, so the rank sum rides decimal(38,0)/HUGEINT as an
    # exact wide integer instead of a free-order double sum of
    # 0.5-multiples (exactness lost past 2^53; round-9 review find)
    ranked = vals.select(
        "_n",
        "_n1",
        (
            2 * F.coalesce(F.sum("_n").over(w), F.lit(0))
            + F.col("_n")
            + 1
        ).alias("ar2"),
    )
    agg = ranked.agg(
        F.sum("_n1").cast("long").alias("n1"),
        (F.sum("_n") - F.sum("_n1")).cast("long").alias("n2"),
        F.sum(F.col("_n1").cast("decimal(38,0)") * F.col("ar2")).alias("r1_2"),
    )
    u1_2 = F.col("r1_2") - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
    u1d = u1_2.cast("double") / 2.0
    return agg.select(
        "n1",
        "n2",
        u1d.alias("u1"),
        (
            (
                2 * F.col("n1").cast("decimal(38,0)") * F.col("n2") - u1_2
            ).cast("double")
            / 2.0
        ).alias("u2"),
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.round(
                (u1d - F.col("n1").cast("double") * F.col("n2") / 2)
                / F.sqrt(
                    F.col("n1").cast("double")
                    * F.col("n2")
                    * (F.col("n1") + F.col("n2") + 1)
                    / 12.0
                ),
                6,
            ),
        ).alias("z"),
    )
