"""Hypothesis tests and effect sizes, round 9. [extension]

Goodness-of-fit (chi² vs uniform weekdays), the Wald–Wolfowitz runs
test, Grubbs' max-outlier statistic, permutation entropy, and Cohen's
d — extending the stats battery past the r8 set (Kruskal-Wallis,
Jarque-Bera, Brown-Forsythe, Cramér's V).

Numeric discipline carried forward: all moments fold from EXACT
integer sums (Σx BIGINT, Σx² decimal-38/HUGEINT — the int64-overflow
class); argmax membership rides exact integers (|n·x − S|); the only
free-order double reduction (permutation-entropy Σ p·log2 p) is an
ORDERED fold over the ≤ 8-row pattern domain in both engines (the r8
Brown/EWMA rule); everything else is display-rounded doubles derived
through pinned IEEE op sequences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.timeseries5 import _DAILY_ORACLE, _daily
from velox_hadoop_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Chi-squared goodness-of-fit: weekday uniformity of order arrivals
# ---------------------------------------------------------------------------


@register(
    "chi2_gof_weekday_uniform",
    oracle="""
        WITH wd AS (
            SELECT dayname(o_orderdate) AS weekday, count(*) AS o
            FROM orders GROUP BY 1
        )
        SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_weekdays,
               ROUND(7.0 * CAST(sum(CAST(o AS HUGEINT) * o) AS DOUBLE)
                     / sum(o) - sum(o), 6) AS chi2
        FROM wd
        HAVING count(*) = 7
    """,
    tags=("stats", "chi-squared", "goodness-of-fit", "extension"),
)
def q_chi2_gof_weekday_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared goodness-of-fit of order arrivals against a uniform
    weekday distribution (df = 6). Algebraic form: with e = n/7,
    Σ(o−e)²/e collapses to 7·Σo²/n − n — Σo² is an EXACT integer
    (HUGEINT/decimal-38), so the statistic is one deterministic double
    expression instead of a free-order sum of seven per-cell doubles.
    Emits nothing unless all 7 weekdays are populated (degenerate
    corpora skip the test in both engines)."""
    wd = read_table(spark, sf_dir, "orders").groupBy(
        F.date_format("o_orderdate", "EEEE").alias("weekday")
    ).agg(F.count("*").alias("o"))
    agg = wd.agg(
        F.sum("o").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_weekdays"),
        F.sum(F.col("o").cast("decimal(38,0)") * F.col("o")).alias("q"),
    )
    return agg.where(F.col("n_weekdays") == 7).select(
        "n",
        "n_weekdays",
        F.round(
            7.0 * F.col("q").cast("double") / F.col("n") - F.col("n"), 6
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test on daily revenue (above/below median)
# ---------------------------------------------------------------------------


@register(
    "runs_test_daily_revenue",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        med AS (SELECT median(rev_c) AS m FROM daily),
        signs AS (
            SELECT d, CASE WHEN rev_c > m THEN 1 ELSE -1 END AS sgn
            FROM daily, med WHERE rev_c <> m
        ),
        marked AS (
            SELECT sgn,
                   CASE WHEN sgn <> lag(sgn) OVER (ORDER BY d)
                         OR lag(sgn) OVER (ORDER BY d) IS NULL
                        THEN 1 ELSE 0 END AS new_run
            FROM signs
        ),
        runs AS (
            SELECT sum(new_run) AS r,
                   sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS n2
            FROM marked
        )
        SELECT CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
               CAST(r AS BIGINT) AS n_runs,
               ROUND((r - (CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1))
                     / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                            * CAST(2 * n1 * n2 - n1 - n2 AS DOUBLE)
                            / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)
                                   AS DOUBLE)),
                     6) AS z
        FROM runs
        WHERE n1 >= 1 AND n2 >= 1 AND 2 * n1 * n2 > n1 + n2
    """,
    tags=("stats", "runs-test", "randomness", "extension"),
)
def q_runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of daily revenue around
    its median: days strictly above/below the exact median form a ±1
    sequence; the run count's normal approximation z is reported.
    Median-equal days are excluded (the standard treatment; the median
    of BIGINT cents is the midpoint average, exactly representable).
    R, n₁, n₂ are exact integers; z is one pinned double expression.
    Degenerate corpora (all-equal, one-sided, σ=0) emit nothing in
    both engines."""
    daily = _daily(spark, sf_dir)
    med = daily.agg(F.median("rev_c").alias("m"))
    signs = (
        daily.crossJoin(med)
        .where(F.col("rev_c") != F.col("m"))
        .select("d", F.when(F.col("rev_c") > F.col("m"), 1).otherwise(-1).alias("sgn"))
    )
    w = Window.orderBy("d")
    runs = signs.select(
        F.when(
            F.lag("sgn").over(w).isNull() | (F.col("sgn") != F.lag("sgn").over(w)), 1
        )
        .otherwise(0)
        .alias("new_run"),
        "sgn",
    ).agg(
        F.sum("new_run").alias("r"),
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0)).alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    # all products fold as exact integers first, ONE cast to double per
    # factor, pinned op order (A*B)/C — the z must be the identical
    # IEEE sequence in both engines (textual 2.0 in DuckDB would fold
    # DECIMAL arithmetic instead)
    mu = (2 * n1 * n2).cast("double") / (n1 + n2) + 1
    var = (
        (2 * n1 * n2).cast("double")
        * (2 * n1 * n2 - n1 - n2).cast("double")
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)).cast("double")
    )
    return runs.where(
        (n1 >= 1) & (n2 >= 1) & (2 * n1 * n2 > n1 + n2)
    ).select(
        n1.cast("long").alias("n_up"),
        n2.cast("long").alias("n_down"),
        r.cast("long").alias("n_runs"),
        F.round((r - mu) / F.sqrt(var), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# Grubbs' max-outlier statistic on daily revenue
# ---------------------------------------------------------------------------


@register(
    "grubbs_statistic_daily",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        tot AS (
            SELECT count(*) AS n, sum(rev_c) AS s,
                   sum(CAST(rev_c AS HUGEINT) * rev_c) AS q
            FROM daily
        ),
        dev AS (
            SELECT d, rev_c, n, s, q,
                   abs(CAST(n AS HUGEINT) * rev_c - s) AS idev
            FROM daily, tot
        )
        SELECT d AS peak_day, rev_c / 100.0 AS revenue,
               CAST(n AS BIGINT) AS n,
               ROUND((CAST(idev AS DOUBLE) / n)
                     / sqrt((CAST(q AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                            / (n - 1)), 6) AS g
        FROM (
            SELECT *, row_number() OVER (ORDER BY idev DESC, d ASC) AS rn
            FROM dev
            WHERE n >= 3 AND CAST(q AS HUGEINT) * n > CAST(s AS HUGEINT) * s
        ) WHERE rn = 1
    """,
    tags=("stats", "outlier", "grubbs", "extension"),
)
def q_grubbs_statistic_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' statistic G = max|x−x̄|/s over daily revenue, with the
    flagged day. The argmax rides the EXACT integer |n·x − S| (never a
    double deviation — the membership rule), ties to the earliest day;
    G itself is the displayed double from exact moment sums. The
    zero-variance guard n·Σx² > (Σx)² compares exact wide integers,
    the same form as moment_stats' skew guard."""
    daily = _daily(spark, sf_dir)
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum("rev_c").alias("s"),
        F.sum(F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")).alias("q"),
    )
    dev = daily.crossJoin(tot).select(
        "d",
        "rev_c",
        "n",
        "s",
        "q",
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("rev_c") - F.col("s")
        ).alias("idev"),
    )
    guarded = dev.where(
        (F.col("n") >= 3)
        & (
            F.col("q").cast("decimal(38,0)") * F.col("n")
            > F.col("s").cast("decimal(38,0)") * F.col("s")
        )
    )
    w = Window.orderBy(F.desc("idev"), F.asc("d"))
    sd = F.sqrt(
        (
            F.col("q").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    return (
        guarded.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("d").alias("peak_day"),
            (F.col("rev_c") / 100.0).alias("revenue"),
            F.col("n").cast("long").alias("n"),
            F.round((F.col("idev").cast("double") / F.col("n")) / sd, 6).alias("g"),
        )
    )


# ---------------------------------------------------------------------------
# Permutation entropy (order-3 ordinal patterns) of daily revenue
# ---------------------------------------------------------------------------


@register(
    "permutation_entropy_daily",
    oracle=f"""
        WITH {_DAILY_ORACLE},
        tri AS (
            SELECT rev_c AS x0,
                   lead(rev_c, 1) OVER (ORDER BY d) AS x1,
                   lead(rev_c, 2) OVER (ORDER BY d) AS x2
            FROM daily
        ),
        pat AS (
            SELECT 4 * (CASE WHEN x0 <= x1 THEN 1 ELSE 0 END)
                 + 2 * (CASE WHEN x0 <= x2 THEN 1 ELSE 0 END)
                 + (CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS p
            FROM tri WHERE x2 IS NOT NULL
        ),
        cnt AS (SELECT p, count(*) AS c FROM pat GROUP BY p),
        folded AS (
            SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   list(CAST(c AS DOUBLE) ORDER BY p) AS cs
            FROM cnt
        )
        SELECT n AS n_triples, k AS n_patterns,
               ROUND(-list_sum(list_transform(
                   cs, x -> x / n * log2(x / n))), 6) + 0.0 AS entropy
        FROM folded
        WHERE n > 0
    """,
    tags=("stats", "entropy", "ordinal-pattern", "extension"),
)
def q_permutation_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy of daily revenue (order-3 ordinal patterns,
    Bandt–Pompe): each consecutive day triple maps to its rank pattern
    (ties broken by position via <=, giving a deterministic 6-pattern
    code), and the Shannon entropy of the pattern distribution is the
    complexity score. Pattern counts are exact integers; the entropy
    reduction is an ORDERED fold over the ≤ 8-row pattern domain in
    both engines (free-order Σ p·log2 p is the r8 rounding-flip
    class)."""
    daily = _daily(spark, sf_dir)
    w = Window.orderBy("d")
    tri = daily.select(
        F.col("rev_c").alias("x0"),
        F.lead("rev_c", 1).over(w).alias("x1"),
        F.lead("rev_c", 2).over(w).alias("x2"),
    ).where(F.col("x2").isNotNull())
    pat = tri.select(
        (
            4 * (F.col("x0") <= F.col("x1")).cast("int")
            + 2 * (F.col("x0") <= F.col("x2")).cast("int")
            + (F.col("x1") <= F.col("x2")).cast("int")
        ).alias("p")
    )
    cnt = pat.groupBy("p").agg(F.count("*").alias("c"))
    agg = cnt.agg(
        F.sum("c").alias("n"),
        F.count("*").alias("k"),
        F.sort_array(F.collect_list(F.struct("p", "c"))).alias("pcs"),
    )
    ent = -F.aggregate(
        F.col("pcs"),
        F.lit(0.0),
        lambda acc, r: acc
        + r["c"].cast("double") / F.col("n") * F.log2(r["c"].cast("double") / F.col("n")),
    )
    return agg.where(F.col("n") > 0).select(
        F.col("n").cast("long").alias("n_triples"),
        F.col("k").cast("long").alias("n_patterns"),
        # +0.0 pins −0.0 → +0.0 (a constant series has ONE pattern, so
        # the negated zero fold keeps DuckDB's sign bit where Spark
        # normalizes — the degenerate-sweep class)
        (F.round(ent, 6) + F.lit(0.0)).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# Cohen's d: effect size between return flags
# ---------------------------------------------------------------------------


@register(
    "cohens_d_returnflag",
    oracle="""
        WITH g AS (
            SELECT l_returnflag AS f,
                   count(*) AS n,
                   sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s,
                   sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                            AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)) AS q
            FROM lineitem WHERE l_returnflag IN ('A', 'R')
            GROUP BY l_returnflag
        ),
        two AS (
            SELECT a.n AS na, a.s AS sa, a.q AS qa,
                   r.n AS nr, r.s AS sr, r.q AS qr
            FROM (SELECT * FROM g WHERE f = 'A') a,
                 (SELECT * FROM g WHERE f = 'R') r
        )
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nr AS BIGINT) AS n_r,
               ROUND(CAST(sa AS DOUBLE) / na / 100.0, 6) AS mean_a,
               ROUND(CAST(sr AS DOUBLE) / nr / 100.0, 6) AS mean_r,
               ROUND((CAST(sa AS DOUBLE) / na - CAST(sr AS DOUBLE) / nr)
                     / sqrt(((CAST(qa AS DOUBLE)
                              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na)
                             + (CAST(qr AS DOUBLE)
                                - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / nr))
                            / (na + nr - 2)), 6) AS cohens_d
        FROM two
        WHERE na >= 2 AND nr >= 2
          AND (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na)
            + (CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / nr)
              > 0
    """,
    tags=("stats", "effect-size", "cohens-d", "extension"),
)
def q_cohens_d_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between returned ('R') and accepted ('A')
    line prices: (x̄_A − x̄_R) / s_pooled with the pooled sample
    variance from exact integer-cent moment sums (Σx BIGINT, Σx²
    decimal-38/HUGEINT). Both the mean difference and the pooled spread
    are in cents, so their ratio is ALREADY scale-free — no unit
    conversion belongs in d (a stray /100 here once reported d/100;
    caught in the round-9 review pass — oracle parity is blind to a
    formula error both engines share, which is why the means are also
    displayed for a dimensional sanity check). Zero-pooled-variance and
    singleton groups emit nothing in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    g = (
        li.where(F.col("l_returnflag").isin("A", "R"))
        .select(F.col("l_returnflag").alias("f"), cents.alias("x"))
        .groupBy("f")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
        )
    )
    a = g.where(F.col("f") == "A").select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("q").alias("qa")
    )
    r = g.where(F.col("f") == "R").select(
        F.col("n").alias("nr"), F.col("s").alias("sr"), F.col("q").alias("qr")
    )
    two = a.crossJoin(r)
    ssa = F.col("qa").cast("double") - F.col("sa").cast("double") * F.col(
        "sa"
    ).cast("double") / F.col("na")
    ssr = F.col("qr").cast("double") - F.col("sr").cast("double") * F.col(
        "sr"
    ).cast("double") / F.col("nr")
    sp = F.sqrt((ssa + ssr) / (F.col("na") + F.col("nr") - 2))
    return two.where(
        (F.col("na") >= 2) & (F.col("nr") >= 2) & ((ssa + ssr) > 0)
    ).select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nr").cast("long").alias("n_r"),
        F.round(F.col("sa").cast("double") / F.col("na") / 100.0, 6).alias("mean_a"),
        F.round(F.col("sr").cast("double") / F.col("nr") / 100.0, 6).alias("mean_r"),
        F.round(
            (F.col("sa").cast("double") / F.col("na") - F.col("sr").cast("double") / F.col("nr"))
            / sp,
            6,
        ).alias("cohens_d"),
    )
