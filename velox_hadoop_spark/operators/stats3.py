"""Statistical tests, round 8. [extension]

Kruskal-Wallis (the k-group extension of Mann-Whitney), Jarque-Bera
normality, Brown-Forsythe variance equality, and Cramér's V effect
size — the remaining hypothesis-test surface an analytics engine's
stats tail needs beyond round 6/7's Spearman/ANOVA/MW/KS family.

All kernels follow the stats2 conventions: money as integer cents,
rank statistics over the distinct-VALUE domain (generator-bounded,
not corpus-bounded), divide-by-zero guards mirrored in both engines,
display rounding only on final ratios. Each mirrored-oracle statistic
ships with a plain-Python brute-force recompute
(tests/test_round8_parity.py) — the round-7 program's rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


# ---------------------------------------------------------------------------
# Kruskal-Wallis H across all order priorities
# ---------------------------------------------------------------------------


@register(
    "kruskal_wallis_priority",
    oracle="""
        WITH x AS (
            SELECT o_orderpriority AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
        ),
        r AS (
            SELECT g, v,
                   rank() OVER (ORDER BY v)
                     + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS ar
            FROM x
        ),
        per_g AS (
            SELECT g, count(*) AS n_g, sum(ar) AS r_g FROM r GROUP BY g
        ),
        ties AS (
            SELECT sum(t * t * t - t) AS tie3
            FROM (SELECT count(*) AS t FROM x GROUP BY v)
        ),
        tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   sum(r_g * r_g / n_g) AS s
            FROM per_g
        )
        SELECT n, k,
               ROUND(12.0 / (n * (n + 1.0)) * s - 3 * (n + 1), 6) AS h,
               ROUND((12.0 / (n * (n + 1.0)) * s - 3 * (n + 1))
                     / (1 - tie3 / (CAST(n AS DOUBLE) * n * n - n)), 6)
                   AS h_tie_corrected
        FROM tot, ties
        WHERE n > 0 AND k >= 2
          AND tie3 < CAST(n AS DOUBLE) * n * n - n
    """,
    tags=("stats", "rank", "hypothesis-test", "kruskal-wallis", "extension"),
)
def q_kruskal_wallis_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: do order totals differ across the five order
    priorities? The k-group rank test, with the tie-corrected variant
    (ties are heavy on a cent grid).

    Rank kernel: the distinct-value average-rank form (stats2's
    ``avg_rank_map`` algebra) — per distinct cent value, total and
    per-group counts in one aggregate, a domain-bounded prefix window
    for the pooled average rank, and R_g = Σ n_gv · avg_rank(v). The
    oracle instead ranks ROW-WISE with a global window — an
    independent formulation of the same statistic, so the hash check
    validates the distinct-domain algebra, not a mirror of it. Tie
    term Σ(t³−t) and all counts are exact integers; the only doubles
    are the two final display-rounded ratios (guard: the all-ties
    corpus where the correction denominator hits zero emits nothing,
    both engines)."""
    x = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    gv = x.groupBy("g", "v").agg(F.count("*").alias("n_gv"))
    vals = gv.groupBy("v").agg(F.sum("n_gv").alias("_n"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "v",
        "_n",
        (
            F.coalesce(F.sum("_n").over(w), F.lit(0)) + (F.col("_n") + 1) / 2.0
        ).alias("avg_rank"),
    )
    per_g = (
        gv.join(ranked.select("v", "avg_rank"), "v")
        .groupBy("g")
        .agg(
            F.sum("n_gv").alias("n_g"),
            F.sum(F.col("n_gv") * F.col("avg_rank")).alias("r_g"),
        )
    )
    ties = vals.agg(
        F.sum(F.col("_n") * F.col("_n") * F.col("_n") - F.col("_n")).alias("tie3")
    )
    tot = per_g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("r_g") * F.col("r_g") / F.col("n_g")).alias("s"),
    )
    h = 12.0 / (F.col("n") * (F.col("n") + F.lit(1.0))) * F.col("s") - 3 * (
        F.col("n") + 1
    )
    n3n = F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")
    return (
        tot.crossJoin(ties)
        .where(
            (F.col("n") > 0) & (F.col("k") >= 2) & (F.col("tie3") < n3n)
        )
        .select(
            "n",
            "k",
            F.round(h, 6).alias("h"),
            F.round(h / (1 - F.col("tie3") / n3n), 6).alias("h_tie_corrected"),
        )
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality per priority
# ---------------------------------------------------------------------------


@register(
    "jarque_bera_order_values",
    oracle="""
        WITH x AS (
            SELECT o_orderpriority AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
        ),
        mu AS (SELECT g, avg(v) AS m, count(*) AS n FROM x GROUP BY g),
        cm AS (
            SELECT x.g,
                   CAST(any_value(mu.n) AS BIGINT) AS n,
                   sum((v - m) * (v - m)) / any_value(mu.n) AS m2,
                   sum((v - m) * (v - m) * (v - m)) / any_value(mu.n) AS m3,
                   sum((v - m) * (v - m) * (v - m) * (v - m))
                       / any_value(mu.n) AS m4
            FROM x JOIN mu ON x.g = mu.g GROUP BY x.g
        )
        SELECT g, n,
               ROUND(m3 / POWER(m2, 1.5), 6) AS skewness,
               ROUND(m4 / (m2 * m2), 6) AS kurtosis,
               ROUND(n / 6.0 * (POWER(m3 / POWER(m2, 1.5), 2)
                     + POWER(m4 / (m2 * m2) - 3, 2) / 4.0), 6) AS jb
        FROM cm WHERE n >= 2 AND m2 > 0
    """,
    tags=("stats", "normality", "jarque-bera", "extension"),
)
def q_jarque_bera_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic of order totals per priority:
    population skewness and kurtosis from CENTERED moments, combined
    into JB = n/6·(S² + (K−3)²/4). Two-pass centered form instead of
    raw power sums: Σv⁴ on a cent grid overflows int64 (and strains
    decimal(38)) by sf1, while centered deviations stay ~10⁶ so their
    fourth powers sum safely in doubles at any SF — the overflow class
    the round-7 review caught in moment_stats is designed out rather
    than guarded. The group-mean join is a 5-row broadcast; everything
    else is one conditional aggregate per group. Zero-variance groups
    emit nothing (m2 > 0 guard, both engines)."""
    x = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    mu = x.groupBy("g").agg(F.avg("v").alias("m"), F.count("*").alias("n"))
    d = F.col("v") - F.col("m")
    cm = (
        x.join(mu, "g")
        .groupBy("g")
        .agg(
            F.any_value("n").cast("long").alias("n"),
            (F.sum(d * d) / F.any_value("n")).alias("m2"),
            (F.sum(d * d * d) / F.any_value("n")).alias("m3"),
            (F.sum(d * d * d * d) / F.any_value("n")).alias("m4"),
        )
    )
    skew = F.col("m3") / F.pow(F.col("m2"), 1.5)
    kurt = F.col("m4") / (F.col("m2") * F.col("m2"))
    return cm.where((F.col("n") >= 2) & (F.col("m2") > 0)).select(
        "g",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(
            F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(kurt - 3, 2) / 4.0), 6
        ).alias("jb"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-equality test across priorities
# ---------------------------------------------------------------------------


@register(
    "brown_forsythe_priority",
    oracle="""
        WITH x AS (
            SELECT o_orderpriority AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
        ),
        med AS (SELECT g, median(v) AS md FROM x GROUP BY g),
        z AS (
            SELECT x.g, abs(v - md) AS z FROM x JOIN med ON x.g = med.g
        ),
        per_g AS (
            SELECT g, count(*) AS n_g, avg(z) AS zbar_g, sum(z) AS zsum_g
            FROM z GROUP BY g
        ),
        tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   sum(zsum_g) / sum(n_g) AS zbar
            FROM per_g
        ),
        between_ AS (
            SELECT sum(n_g * (zbar_g - zbar) * (zbar_g - zbar)) AS ssb
            FROM per_g, tot
        ),
        within_ AS (
            SELECT sum((z.z - p.zbar_g) * (z.z - p.zbar_g)) AS ssw
            FROM z JOIN per_g p ON z.g = p.g
        )
        SELECT n, k,
               ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat
        FROM tot, between_, within_
        WHERE k >= 2 AND n > k AND ssw > 0
    """,
    tags=("stats", "variance", "brown-forsythe", "extension"),
)
def q_brown_forsythe_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-equality test: one-way ANOVA F computed
    on z = |v − group median| — the robust (median-centered) Levene
    variant. Group medians interpolate identically in both engines
    (exact .0/.5 values on the cent grid); the z frame is exact halves
    so every sum is FP-safe. Same staged shape as anova_f_priority:
    a 5-row median table broadcast back, one grouped aggregate, one
    1-row cross join; the zero-within-variance and k<2 degenerate
    corpora emit nothing in both engines (the guard class the round-7
    degenerate sweep pinned)."""
    x = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    med = x.groupBy("g").agg(F.expr("percentile(v, 0.5)").alias("md"))
    z = x.join(med, "g").select("g", F.abs(F.col("v") - F.col("md")).alias("z"))
    per_g = z.groupBy("g").agg(
        F.count("*").alias("n_g"),
        F.avg("z").alias("zbar_g"),
        F.sum("z").alias("zsum_g"),
    )
    tot = per_g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        (F.sum("zsum_g") / F.sum("n_g")).alias("zbar"),
    )
    ssb = per_g.crossJoin(tot.select("zbar")).agg(
        F.sum(
            F.col("n_g")
            * (F.col("zbar_g") - F.col("zbar"))
            * (F.col("zbar_g") - F.col("zbar"))
        ).alias("ssb")
    )
    ssw = (
        z.join(per_g.select("g", "zbar_g"), "g")
        .agg(
            F.sum(
                (F.col("z") - F.col("zbar_g")) * (F.col("z") - F.col("zbar_g"))
            ).alias("ssw")
        )
    )
    return (
        tot.crossJoin(ssb)
        .crossJoin(ssw)
        .where((F.col("k") >= 2) & (F.col("n") > F.col("k")) & (F.col("ssw") > 0))
        .select(
            "n",
            "k",
            F.round(
                (F.col("ssb") / (F.col("k") - 1))
                / (F.col("ssw") / (F.col("n") - F.col("k"))),
                6,
            ).alias("f_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Cramér's V between order status and priority
# ---------------------------------------------------------------------------


@register(
    "cramers_v_status_priority",
    oracle="""
        WITH obs AS (
            SELECT o_orderstatus AS r, o_orderpriority AS c,
                   count(*) AS o
            FROM orders GROUP BY 1, 2
        ),
        rt AS (SELECT r, sum(o) AS rtot FROM obs GROUP BY r),
        ct AS (SELECT c, sum(o) AS ctot FROM obs GROUP BY c),
        n AS (SELECT sum(o) AS n FROM obs),
        full_grid AS (
            SELECT rt.r, ct.c, rt.rtot, ct.ctot, coalesce(obs.o, 0) AS o
            FROM rt CROSS JOIN ct
            LEFT JOIN obs ON obs.r = rt.r AND obs.c = ct.c
        ),
        chi AS (
            SELECT sum(POWER(o - CAST(rtot AS DOUBLE) * ctot / n.n, 2)
                       / (CAST(rtot AS DOUBLE) * ctot / n.n)) AS chi2,
                   CAST(any_value(n.n) AS BIGINT) AS n,
                   CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT c) AS BIGINT) AS n_cols
            FROM full_grid, n
        )
        SELECT n, n_rows, n_cols,
               ROUND(chi2, 6) AS chi2,
               ROUND(sqrt(chi2 / (n * (least(n_rows, n_cols) - 1))), 6)
                   AS cramers_v
        FROM chi
        WHERE n > 0 AND least(n_rows, n_cols) >= 2
    """,
    tags=("stats", "association", "cramers-v", "extension"),
)
def q_cramers_v_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between order status and priority: the
    full chi-squared over the r×c contingency table — INCLUDING
    zero-observation cells, which the plain groupBy misses and which
    bias chi² low if dropped (the grid is rebuilt as margins
    cross-join ⟕ observed) — normalized to [0,1] by n·(min(r,c)−1).
    The margins are dimension-bounded (statuses × priorities), so the
    grid build is a broadcast cross join of two tiny aggregates;
    single-category corpora emit nothing in both engines."""
    obs = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderstatus").alias("r"), F.col("o_orderpriority").alias("c")
    ).agg(F.count("*").alias("o"))
    rt = obs.groupBy("r").agg(F.sum("o").alias("rtot"))
    ct = obs.groupBy("c").agg(F.sum("o").alias("ctot"))
    n = obs.agg(F.sum("o").alias("n"))
    grid = (
        rt.crossJoin(ct)
        .join(obs, ["r", "c"], "left")
        .select("r", "c", "rtot", "ctot", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
    )
    # one margin in DOUBLE before the product: rtot*ctot as BIGINT×BIGINT
    # overflows int64 once orders reach ~1e10 rows (several-TB SF) and
    # ANSI Spark would abort — the same overflow class the Kendall /
    # Jarque-Bera / rolling-OLS kernels design out. Expected counts only
    # feed the double chi², so no exactness is lost; the oracle mirrors
    # CAST(rtot AS DOUBLE) so both engines run the identical op sequence.
    exp = F.col("rtot").cast("double") * F.col("ctot") / F.col("n")
    chi = grid.crossJoin(n).agg(
        F.sum(F.pow(F.col("o") - exp, 2) / exp).alias("chi2"),
        F.any_value("n").cast("long").alias("n"),
        F.countDistinct("r").cast("long").alias("n_rows"),
        F.countDistinct("c").cast("long").alias("n_cols"),
    )
    return chi.where(
        (F.col("n") > 0) & (F.least("n_rows", "n_cols") >= 2)
    ).select(
        "n",
        "n_rows",
        "n_cols",
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2") / (F.col("n") * (F.least("n_rows", "n_cols") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )
