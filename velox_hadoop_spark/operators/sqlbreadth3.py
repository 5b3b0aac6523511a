"""SQL breadth, round 8. [extension]

Regexp count/position functions, per-user event path n-grams,
position-based multi-touch attribution, year-over-year quarter growth,
and weighted quartiles — the remaining everyday-SQL surface after
sqlbreadth/sqlbreadth2.

Reference parity: the regex surface extends the reference's Grep
pipeline (Grep.java:62-100 — match count per line) to count/position
aggregates; the rest is the window/aggregate breadth the reference's
aggregation framework implies (Wordcount.java semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register

ATTR_FIRST_W = 0.4  # position-based attribution: 40% first touch
ATTR_LAST_W = 0.4   # 40% last touch, middles share the remaining 20%


@register(
    "regexp_count_positions",
    oracle=r"""
        WITH m AS (
            SELECT source,
                   len(regexp_extract_all(text, '[aeiou][aeiou]+')) AS n_vruns,
                   strpos(text, 'table') AS first_table_pos
            FROM documents
        )
        SELECT source,
               CAST(sum(n_vruns) AS BIGINT) AS total_vowel_runs,
               CAST(count(*) FILTER (WHERE first_table_pos > 0) AS BIGINT)
                   AS docs_with_table,
               ROUND(avg(first_table_pos) FILTER (WHERE first_table_pos > 0), 6)
                   AS avg_first_table_pos
        FROM m GROUP BY source
    """,
    tags=("sql-breadth", "regexp", "extension"),
)
def q_regexp_count_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_count / regexp_instr breadth: per source, total multi-
    vowel runs (a real regex count), how many docs mention a literal
    term, and the average first-match position among them. DuckDB has
    no regexp_count/regexp_instr, so the oracle states the equivalent
    len(regexp_extract_all) and strpos forms — the literal-pattern
    case where instr and regexp_instr provably coincide. Pure
    one-scan codegen'd expressions; avg over an empty match set is
    NULL in both engines (FILTER vs conditional aggregate)."""
    m = read_table(spark, sf_dir, "documents").select(
        "source",
        F.expr("regexp_count(text, '[aeiou][aeiou]+')").alias("n_vruns"),
        F.expr("regexp_instr(text, 'table')").alias("first_table_pos"),
    )
    matched = F.col("first_table_pos") > 0
    return m.groupBy("source").agg(
        F.sum("n_vruns").cast("long").alias("total_vowel_runs"),
        F.count(F.when(matched, 1)).cast("long").alias("docs_with_table"),
        F.round(F.avg(F.when(matched, F.col("first_table_pos"))), 6).alias(
            "avg_first_table_pos"
        ),
    )


@register(
    "event_path_3grams",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS t2,
                   lead(event_type, 2) OVER w AS t3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_type || '>' || t2 || '>' || t3 AS path,
               count(*) AS n_occurrences
        FROM seq WHERE t3 IS NOT NULL
        GROUP BY 1
    """,
    tags=("sql-breadth", "sequence", "path-analysis", "extension"),
)
def q_event_path_3grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: every consecutive 3-step event-type
    path per user journey, counted corpus-wide — the n-gram view of
    event_type_transitions (which is the 2-step matrix). Order within
    a user is pinned to (ts, event_id) — the repo's island-window
    lesson: ties on ts alone would make lead() nondeterministic. One
    user-keyed window (per-partition sort bounded by a user's
    journey), one |types|³-bounded aggregate."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.where(F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_occurrences"))
    )


@register(
    "attribution_position_based",
    oracle=f"""
        WITH touches AS (
            SELECT user_id, event_type,
                   row_number() OVER w AS pos,
                   count(*) OVER (PARTITION BY user_id) AS k
            FROM events
            WHERE event_type IN ('view', 'click')
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        converters AS (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        ),
        ct AS (
            SELECT t.event_type, t.pos, t.k
            FROM touches t JOIN converters c ON t.user_id = c.user_id
        ),
        base AS (
            SELECT event_type,
                   count(*) AS n_touches,
                   count(*) FILTER (WHERE k = 1) AS n_k1,
                   count(*) FILTER (WHERE k = 2) AS n_k2,
                   count(*) FILTER (WHERE k >= 3 AND (pos = 1 OR pos = k))
                       AS n_ends
            FROM ct GROUP BY event_type
        ),
        mids AS (
            SELECT event_type, k, count(*) AS m
            FROM ct WHERE k >= 3 AND pos > 1 AND pos < k
            GROUP BY event_type, k
        ),
        midfold AS (
            SELECT event_type,
                   list_sum(list_transform(
                       list({{'k': k, 'm': m}} ORDER BY k),
                       r -> r.m * CAST({(1.0 - ATTR_FIRST_W - ATTR_LAST_W)!r} AS DOUBLE)
                            / (r.k - 2)
                   )) AS mid_credit
            FROM mids GROUP BY event_type
        )
        SELECT b.event_type,
               CAST(b.n_touches AS BIGINT) AS n_touches,
               ROUND(b.n_k1 + 0.5 * b.n_k2
                     + CAST({ATTR_FIRST_W!r} AS DOUBLE) * b.n_ends
                     + coalesce(f.mid_credit, 0.0), 6) AS total_credit
        FROM base b LEFT JOIN midfold f ON b.event_type = f.event_type
    """,
    tags=("sql-breadth", "attribution", "position-based", "extension"),
)
def q_attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: converting
    users' view/click touches share conversion credit 40% first /
    40% last / 20% split across the middle (k=1 → 1.0, k=2 → .5/.5) —
    beside the existing last-touch model, this is the other standard
    the marketing-analytics surface needs. Total credit conserves to
    the converter count (pinned by a brute-force recompute).

    Numeric shape: total_credit is NEVER a free-order SUM of per-row
    double credits (the accumulation-order class that flipped the
    Brown smoother's 4dp rounding) — the aggregate collapses to EXACT
    integer counters (k=1, k=2, first/last) plus a per-(type, k)
    middle count, and the only non-trivial double sum is an ORDERED
    fold over the tiny k-ascending (k, m) list, so both engines
    execute the identical float-op sequence. One user-keyed window
    for positions, a converters semi-join, domain-bounded aggregates."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(Window.partitionBy("user_id")).alias("k"),
    )
    converters = (
        ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    ct = touches.join(converters, "user_id").select("event_type", "pos", "k")
    base = ct.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.count(F.when(F.col("k") == 1, 1)).alias("n_k1"),
        F.count(F.when(F.col("k") == 2, 1)).alias("n_k2"),
        F.count(
            F.when(
                (F.col("k") >= 3)
                & ((F.col("pos") == 1) | (F.col("pos") == F.col("k"))),
                1,
            )
        ).alias("n_ends"),
    )
    mids = (
        ct.where((F.col("k") >= 3) & (F.col("pos") > 1) & (F.col("pos") < F.col("k")))
        .groupBy("event_type", "k")
        .agg(F.count("*").alias("m"))
    )
    mid_w = 1.0 - ATTR_FIRST_W - ATTR_LAST_W
    midfold = mids.groupBy("event_type").agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("k"), F.col("m")))
            ),
            F.lit(0.0),
            lambda acc, r: acc + r["m"] * F.lit(mid_w) / (r["k"] - 2),
        ).alias("mid_credit")
    )
    return base.join(midfold, "event_type", "left").select(
        "event_type",
        "n_touches",
        F.round(
            F.col("n_k1")
            + 0.5 * F.col("n_k2")
            + ATTR_FIRST_W * F.col("n_ends")
            + F.coalesce(F.col("mid_credit"), F.lit(0.0)),
            6,
        ).alias("total_credit"),
    )


@register(
    "yoy_quarter_growth",
    oracle="""
        WITH q AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                   CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS rev_c
            FROM orders GROUP BY 1, 2
        )
        SELECT yr, qtr, rev_c / 100.0 AS revenue,
               ROUND((rev_c - lag(rev_c, 4) OVER (ORDER BY yr, qtr))
                     / (lag(rev_c, 4) OVER (ORDER BY yr, qtr) / 100.0) / 100.0,
                     6) AS yoy_growth
        FROM q
    """,
    tags=("sql-breadth", "window", "yoy", "extension"),
)
def q_yoy_quarter_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year quarterly revenue growth: lag(4) over the
    quarter spine (the seasonal-offset lag the MoM query doesn't
    cover). Revenue folds to integer cents first; the growth ratio is
    the only display-rounded double, NULL for the first year in both
    engines. The ordered window runs over the quarter spine —
    calendar-bounded rows regardless of fact volume."""
    q = read_table(spark, sf_dir, "orders").groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c")
    )
    w = Window.orderBy("yr", "qtr")
    prev = F.lag("rev_c", 4).over(w)
    return q.select(
        "yr",
        "qtr",
        (F.col("rev_c") / 100.0).alias("revenue"),
        F.round(
            (F.col("rev_c") - prev) / (prev / 100.0) / 100.0, 6
        ).alias("yoy_growth"),
    )


@register(
    "weighted_quartiles_quantity",
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
               ROUND(min(l_quantity) FILTER (WHERE cw * 4 >= tw), 2) AS p25,
               ROUND(min(l_quantity) FILTER (WHERE cw * 2 >= tw), 2) AS p50,
               ROUND(min(l_quantity) FILTER (WHERE cw * 4 >= tw * 3), 2) AS p75
        FROM cum GROUP BY l_returnflag
    """,
    tags=("sql-breadth", "weighted-percentile", "extension"),
)
def q_weighted_quartiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted quantity quartiles per return flag — the
    quartile generalization of weighted_median_quantity, all three
    cuts from ONE cumulative-weight window (the membership predicates
    cw·4 ≥ tw / cw·2 ≥ tw / cw·4 ≥ 3·tw are exact integer-cents
    arithmetic, the repo's no-float-membership rule). The p50 column
    must equal weighted_median_quantity's answer — pinned by a
    cross-query test. Window input is the distinct-value frame
    (quantity domain ≤ 50 rows/flag), not the fact rows."""
    li = read_table(spark, sf_dir, "lineitem")
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
    pick = lambda cond, name: F.round(  # noqa: E731
        F.min(F.when(cond, F.col("l_quantity"))), 2
    ).alias(name)
    return cum.groupBy("l_returnflag").agg(
        pick(F.col("cw") * 4 >= F.col("tw"), "p25"),
        pick(F.col("cw") * 2 >= F.col("tw"), "p50"),
        pick(F.col("cw") * 4 >= F.col("tw") * 3, "p75"),
    )


@register(
    "revenue_share_two_level",
    oracle="""
        WITH rn AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        )
        SELECT region, nation,
               cents / 100.0 AS revenue,
               ROUND(cents / CAST(sum(cents) OVER (PARTITION BY region) AS DOUBLE),
                     6) AS share_in_region,
               ROUND(sum(cents) OVER (PARTITION BY region)
                     / CAST(sum(cents) OVER () AS DOUBLE), 6) AS region_share,
               ROUND(cents / CAST(sum(cents) OVER () AS DOUBLE), 6)
                   AS share_of_total
        FROM rn
    """,
    tags=("sql-breadth", "ratio-to-report", "two-level", "extension"),
)
def q_revenue_share_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level ratio-to-report: each nation's revenue share WITHIN
    its region, the region's share of the total, and the nation's
    share of the total — the nested percent-of-parent layout every BI
    drilldown renders (the single-level nation_revenue_share only
    gives the last column). The fact table folds to integer cents at
    the (region, nation) grain FIRST, so both window sums run over the
    125-row dimension grid; each ratio is one double division of
    identical exact integers. Multiplicative consistency
    (share_in_region × region_share ≈ share_of_total) is pinned by a
    brute-force test."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    rn = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    w_reg = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return rn.select(
        "region",
        "nation",
        (F.col("cents") / 100.0).alias("revenue"),
        F.round(
            F.col("cents") / F.sum("cents").over(w_reg).cast("double"), 6
        ).alias("share_in_region"),
        F.round(
            F.sum("cents").over(w_reg) / F.sum("cents").over(w_all).cast("double"),
            6,
        ).alias("region_share"),
        F.round(
            F.col("cents") / F.sum("cents").over(w_all).cast("double"), 6
        ).alias("share_of_total"),
    )


@register(
    "conversion_paths_top",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS t2,
                   lead(event_type, 2) OVER w AS t3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        conv AS (
            SELECT event_type || '>' || t2 AS prefix
            FROM seq WHERE t3 = 'purchase'
        ),
        tot AS (SELECT count(*) AS n FROM conv)
        SELECT prefix, count(*) AS n_conversions,
               ROUND(count(*) / CAST((SELECT n FROM tot) AS DOUBLE), 6)
                   AS share
        FROM conv GROUP BY prefix
    """,
    tags=("sql-breadth", "funnel", "path-analysis", "extension"),
)
def q_conversion_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-path mining: the two events immediately PRECEDING
    each purchase in a user's journey, counted and shared — which
    approach paths actually convert (the directed complement of
    event_path_3grams, which counts all paths). Same (ts, event_id)-
    pinned user window; the share denominator is a broadcast scalar.
    Share conservation (Σ shares = 1) is pinned in tests."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = read_table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    conv = seq.where(F.col("t3") == "purchase").select(
        F.concat_ws(">", "event_type", "t2").alias("prefix")
    )
    tot = conv.agg(F.count("*").alias("n"))
    return (
        conv.groupBy("prefix")
        .agg(F.count("*").alias("n_conversions"))
        .crossJoin(F.broadcast(tot))
        .select(
            "prefix",
            "n_conversions",
            F.round(F.col("n_conversions") / F.col("n").cast("double"), 6).alias(
                "share"
            ),
        )
    )
