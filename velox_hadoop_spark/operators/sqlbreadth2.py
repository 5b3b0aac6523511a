"""SQL-surface breadth, round 7. [extension]

The next ring of forms a SQL user reaches for after round 6's
grouping/window/set families: multi-aggregate PIVOT, higher-order
array lambdas (filter / exists / forall / transform+aggregate /
zip_with), hypothetical-set rank, ISO week calendars, null-safe
equality joins, gaps-and-islands interval union, nearest-direction
as-of join, Pareto cumulative-share cuts, change-event counting,
set-signature grouping, peer averages excluding self, a correlation
matrix, an exact rolling median, and parameterized sessionization.

Parity rules (repo standard): money as integer cents; BIGINT-cast
counts; identical aliases in plan and oracle; collected lists
CSV-joined; derived doubles display-rounded; timestamps compared in
integer microseconds (``unix_micros`` ↔ ``epoch_us``); every window
order is a TOTAL order (ties pinned by key columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def _cents():
    return F.round(F.col("o_totalprice") * 100).cast("long")


# ---------------------------------------------------------------------------
# Pivot / arrays / rank breadth
# ---------------------------------------------------------------------------


@register(
    "pivot_multi_agg_status",
    oracle="""
        SELECT o_orderpriority AS priority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
               CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT) AS f_cents,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
               CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'O'), 0) AS BIGINT) AS o_cents,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS p_n,
               CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'P'), 0) AS BIGINT) AS p_cents
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("reshape", "pivot", "multi-agg", "extension"),
)
def q_pivot_multi_agg_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate PIVOT: count AND revenue cents per order status,
    one output column pair per status. Explicit pivot values keep the
    plan a single Expand+HashAggregate (no extra distinct-values job —
    the two-scan pitfall of `pivot(col)` without a value list), and
    empty cells are coalesced to the oracle's FILTER-count zeros."""
    piv = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_cents()).alias("cents"))
    )
    cols = [F.col("priority")]
    for s in ("F", "O", "P"):
        cols.append(F.coalesce(F.col(f"{s}_n"), F.lit(0)).alias(f"{s.lower()}_n"))
        cols.append(
            F.coalesce(F.col(f"{s}_cents"), F.lit(0)).cast("long").alias(f"{s.lower()}_cents")
        )
    return piv.select(*cols)


@register(
    "array_lambda_breadth",
    oracle="""
        WITH arrs AS (
            SELECT l_orderkey AS orderkey,
                   list_sort(list(CAST(l_quantity AS BIGINT))) AS l
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT orderkey,
               CAST(len(l) AS BIGINT) AS n_items,
               CAST(len(list_filter(l, x -> x >= 25)) AS BIGINT) AS n_ge25,
               len(list_filter(l, x -> x >= 49)) > 0 AS any_49,
               len(list_filter(l, x -> x <= 0)) = 0 AS all_pos,
               CAST(list_sum(list_transform(l, x -> x * 2)) AS BIGINT) AS doubled_sum,
               CASE WHEN len(l) >= 2 THEN
                   CAST(list_max(list_transform(range(2, len(l) + 1),
                                                i -> l[i] - l[i - 1])) AS BIGINT)
               END AS max_gap
        FROM arrs
    """,
    tags=("functions", "array", "lambda", "extension"),
)
def q_array_lambda_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas over per-order sorted quantity lists:
    filter (conditional count), exists / forall (quantified
    predicates), transform+aggregate (map-fold without exploding), and
    zip_with against the array's own tail (max adjacent gap in the
    sorted list). Everything after the one grouped collect is a pure
    JVM projection — the lambda surface SURVEY §2.8 maps to native
    Spark; no explode, no second shuffle. Quantities ride as BIGINT so
    the fold and gaps are exact in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    arrs = li.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.array_sort(F.collect_list(F.col("l_quantity").cast("long"))).alias("l")
    )
    l = F.col("l")
    n = F.size(l)
    gaps = F.zip_with(
        F.slice(l, 2, n - 1), F.slice(l, 1, n - 1), lambda a, b: a - b
    )
    return arrs.select(
        "orderkey",
        n.cast("long").alias("n_items"),
        F.size(F.filter(l, lambda x: x >= 25)).cast("long").alias("n_ge25"),
        F.exists(l, lambda x: x >= 49).alias("any_49"),
        F.forall(l, lambda x: x > 0).alias("all_pos"),
        F.aggregate(
            F.transform(l, lambda x: x * 2), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("doubled_sum"),
        F.when(n >= 2, F.array_max(gaps).cast("long")).alias("max_gap"),
    )


@register(
    "hypothetical_rank_price",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n,
               count(*) FILTER (WHERE CAST(l_quantity AS BIGINT) < 25) + 1 AS hyp_rank,
               CAST(count(DISTINCT CASE WHEN CAST(l_quantity AS BIGINT) < 25
                                        THEN CAST(l_quantity AS BIGINT) END) + 1
                    AS BIGINT) AS hyp_dense_rank,
               round(count(*) FILTER (WHERE CAST(l_quantity AS BIGINT) < 25)
                     / CAST(count(*) AS DOUBLE), 6) AS hyp_percent_rank
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "hypothetical-rank", "extension"),
)
def q_hypothetical_rank_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypothetical-set rank: the RANK / DENSE_RANK / PERCENT_RANK a
    constant quantity (25) WOULD take inside each return-flag group —
    the ANSI `RANK(v) WITHIN GROUP (ORDER BY x)` family, which neither
    engine ships, restated as pure conditional aggregates (count of
    strictly-smaller rows + 1). One hash aggregate, no window, no sort:
    the form that stays a single shuffle at any scale."""
    q = F.col("l_quantity").cast("long")
    below = F.count(F.when(q < 25, 1))
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            (below + 1).alias("hyp_rank"),
            (F.count_distinct(F.when(q < 25, q)) + 1).cast("long").alias("hyp_dense_rank"),
            F.round(below / F.count("*").cast("double"), 6).alias("hyp_percent_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Calendar / change events / signatures
# ---------------------------------------------------------------------------


@register(
    "iso_week_revenue",
    oracle="""
        SELECT CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year,
               CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1, 2
    """,
    tags=("timeseries", "calendar", "iso-week", "extension"),
)
def q_iso_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by ISO year + ISO week. The tricky parity cell is the
    year boundary (Jan 1 can belong to ISO week 52/53 of the PREVIOUS
    iso-year): Spark has ISO `weekofyear` but no isoyear, so the ISO
    year is derived as the calendar year of the week's THURSDAY
    (date − weekday + 3, weekday 0 = Monday) — the ISO-8601 definition
    itself, exact for every date. Pure projection + one hash agg."""
    o = read_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    thursday = F.date_add(F.date_sub(d, F.weekday(d)), 3)
    return (
        o.select(
            F.year(thursday).cast("long").alias("iso_year"),
            F.weekofyear(d).cast("long").alias("iso_week"),
            _cents().alias("cents"),
        )
        .groupBy("iso_year", "iso_week")
        .agg(F.count("*").alias("n_orders"), F.sum("cents").alias("rev_cents"))
    )


@register(
    "status_change_count",
    oracle="""
        WITH seq AS (
            SELECT o_custkey,
                   o_orderstatus,
                   lag(o_orderstatus) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) AS prev_status
            FROM orders
        )
        SELECT o_custkey, count(*) AS n_orders,
               count(*) FILTER (
                   WHERE prev_status IS NOT NULL AND prev_status <> o_orderstatus
               ) AS n_changes
        FROM seq GROUP BY o_custkey
    """,
    tags=("window", "change-event", "extension"),
)
def q_status_change_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDITIONAL_CHANGE_EVENT, restated: per customer, how many times
    the order status flips across the date-ordered order sequence. Tie
    dates are pinned by orderkey so the lag is a total order in both
    engines. One shuffle on custkey serves window and aggregate."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.lag("o_orderstatus").over(w).alias("prev_status"),
    )
    return seq.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.count(
            F.when(
                F.col("prev_status").isNotNull()
                & (F.col("prev_status") != F.col("o_orderstatus")),
                1,
            )
        ).alias("n_changes"),
    )


@register(
    "status_set_signature",
    oracle="""
        WITH sig AS (
            SELECT o_custkey,
                   string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS signature,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey
        )
        SELECT signature,
               count(*) AS n_customers,
               round(avg(CAST(n_orders AS DOUBLE)), 4) AS avg_orders
        FROM sig GROUP BY signature
    """,
    tags=("agg", "set-signature", "extension"),
)
def q_status_set_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group customers by their EXACT set of order statuses — the
    set-signature (sorted distinct CSV) becomes the grouping key, the
    cohorting idiom behind 'customers who have both open and finished
    orders'. collect_set dedups inside the aggregate (one shuffle);
    the second aggregate groups the handful of signatures."""
    sig = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
                "signature"
            ),
            F.count("*").alias("n_orders"),
        )
    )
    return sig.groupBy("signature").agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg(F.col("n_orders").cast("double")), 4).alias("avg_orders"),
    )


# ---------------------------------------------------------------------------
# Null-safe joins / intervals / as-of
# ---------------------------------------------------------------------------


@register(
    "null_safe_join_events",
    oracle="""
        WITH a AS (
            SELECT nullif(event_type, 'view') AS k, count(*) AS n_all
            FROM events GROUP BY 1
        ),
        b AS (
            SELECT nullif(event_type, 'view') AS k, count(*) AS n_high
            FROM events WHERE value > 50 GROUP BY 1
        )
        SELECT a.k AS event_key, a.n_all,
               CAST(coalesce(b.n_high, 0) AS BIGINT) AS n_high
        FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    tags=("join", "null-safe", "extension"),
)
def q_null_safe_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the key
    is NULLIF-derived, so one group IS the NULL key, and a plain
    equi-join would silently drop it — the classic bug this operator
    exists to avoid. Both sides are pre-aggregated (≤ |event-type
    domain| rows), so the join is broadcast-sized by construction."""
    ev = read_table(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("view")).alias("k")
    a = ev.groupBy(k).agg(F.count("*").alias("n_all"))
    b = ev.where(F.col("value") > 50).groupBy(k).agg(F.count("*").alias("n_high"))
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]), "left")
        .select(
            a["k"].alias("event_key"),
            "n_all",
            F.coalesce(F.col("n_high"), F.lit(0)).cast("long").alias("n_high"),
        )
    )


@register(
    "interval_union_coverage",
    oracle="""
        WITH iv AS (
            SELECT user_id, event_id,
                   CAST(epoch_us(ts) AS BIGINT) AS s,
                   CAST(epoch_us(ts) AS BIGINT) + 600000000 AS e
            FROM events
        ),
        flagged AS (
            SELECT user_id, event_id, s, e,
                   CASE WHEN max(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR s > max(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        )
                   THEN 1 ELSE 0 END AS new_island
            FROM iv
        ),
        islands AS (
            SELECT user_id, s, e,
                   sum(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        ),
        merged AS (
            SELECT user_id, island, min(s) AS ms, max(e) AS me
            FROM islands GROUP BY user_id, island
        )
        SELECT user_id,
               count(*) AS n_islands,
               CAST(sum(me - ms) AS BIGINT) AS covered_us
        FROM merged GROUP BY user_id
    """,
    tags=("timeseries", "gaps-islands", "interval-union", "extension"),
)
def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage (gaps-and-islands union): each event
    opens a 10-minute activity interval; overlapping intervals merge,
    and the answer is the UNION length per user — the classic 'total
    active time' that a naive sum of durations double-counts. A row
    starts a new island iff it begins after the running max end of all
    preceding intervals; island id = running flag sum; an island's
    union length is exactly max(end) − min(start) because by
    construction it has no internal gap. Microsecond integers end to
    end; one shuffle on user_id serves both windows and the final
    aggregates. BOTH windows order by (s, event_id) — the same total
    order — because a running ROWS sum is order-sensitive per row
    within a tie group: under an (s, e)-only order, a same-timestamp
    row sorted ahead of its group's flag-1 row would join the previous
    island and overcount coverage."""
    ev = read_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + F.lit(600_000_000)).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(
            F.max("e").over(w_prev).isNull() | (F.col("s") > F.max("e").over(w_prev)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("me") - F.col("ms")).alias("covered_us"),
    )


@register(
    "asof_join_nearest",
    oracle="""
        WITH u AS (
            SELECT user_id, event_id,
                   CAST(epoch_us(ts) AS BIGINT) AS t,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
                   CASE WHEN event_type = 'click' THEN CAST(epoch_us(ts) AS BIGINT) END AS ct,
                   CASE WHEN event_type = 'click' THEN value END AS cv
            FROM events WHERE event_type IN ('click', 'purchase')
        ),
        filled AS (
            SELECT user_id, event_id, t, is_p,
                   last_value(ct IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY t, is_p, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS back_t,
                   last_value(cv IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY t, is_p, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS back_v,
                   first_value(ct IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY t, is_p, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS fwd_t,
                   first_value(cv IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY t, is_p, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS fwd_v
            FROM u
        )
        SELECT event_id, user_id,
               CASE WHEN fwd_t IS NULL
                         OR (back_t IS NOT NULL AND t - back_t <= fwd_t - t)
                    THEN back_t ELSE fwd_t END AS click_t,
               CASE WHEN fwd_t IS NULL
                         OR (back_t IS NOT NULL AND t - back_t <= fwd_t - t)
                    THEN back_v ELSE fwd_v END AS click_value,
               CASE WHEN fwd_t IS NULL
                         OR (back_t IS NOT NULL AND t - back_t <= fwd_t - t)
                    THEN t - back_t ELSE fwd_t - t END AS dt_us
        FROM filled WHERE is_p = 1
    """,
    tags=("join", "asof", "nearest", "extension"),
)
def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: each purchase pairs with its
    CLOSEST click (either direction), ties to the earlier (backward)
    side — the variant timeseries stores call `asof nearest` (backward
    and forward already exist in join.py / timeseries3.py). Same
    single-shuffle tagged-union shape as ``asof_join``: one sort per
    user serves BOTH the backward last-fill and the forward first-fill
    (same window order, two frames), never a per-row lookup. Clicks
    sort before purchases at equal timestamps (tag order), so a
    same-instant click is 'backward' with dt 0; same-(user, ts) click
    duplicates are pinned by event_id (the forward frame takes the
    smallest id, the backward frame the largest — stated in the oracle
    by the identical window order)."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    u = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        F.when(F.col("event_type") == "click", F.unix_micros(F.col("ts").cast("timestamp"))).alias("ct"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("cv"),
    )
    order = [F.col("t"), F.col("is_p"), F.col("event_id")]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    filled = u.select(
        "event_id",
        "user_id",
        "t",
        "is_p",
        F.last("ct", ignorenulls=True).over(w_back).alias("back_t"),
        F.last("cv", ignorenulls=True).over(w_back).alias("back_v"),
        F.first("ct", ignorenulls=True).over(w_fwd).alias("fwd_t"),
        F.first("cv", ignorenulls=True).over(w_fwd).alias("fwd_v"),
    )
    take_back = F.col("fwd_t").isNull() | (
        F.col("back_t").isNotNull()
        & (F.col("t") - F.col("back_t") <= F.col("fwd_t") - F.col("t"))
    )
    return filled.where(F.col("is_p") == 1).select(
        "event_id",
        "user_id",
        F.when(take_back, F.col("back_t")).otherwise(F.col("fwd_t")).alias("click_t"),
        F.when(take_back, F.col("back_v")).otherwise(F.col("fwd_v")).alias("click_value"),
        F.when(take_back, F.col("t") - F.col("back_t"))
        .otherwise(F.col("fwd_t") - F.col("t"))
        .alias("dt_us"),
    )


# ---------------------------------------------------------------------------
# Distribution cuts / heatmaps / correlation
# ---------------------------------------------------------------------------


@register(
    "pareto_80_20_customers",
    oracle="""
        WITH spend AS (
            SELECT c.c_nationkey, o.o_custkey,
                   CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT c_nationkey, cents,
                   row_number() OVER (
                       PARTITION BY c_nationkey ORDER BY cents DESC, o_custkey
                   ) AS rn,
                   sum(cents) OVER (
                       PARTITION BY c_nationkey ORDER BY cents DESC, o_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum,
                   sum(cents) OVER (PARTITION BY c_nationkey) AS total,
                   count(*) OVER (PARTITION BY c_nationkey) AS n
            FROM spend
        )
        SELECT c_nationkey,
               CAST(min(n) AS BIGINT) AS n_customers,
               CAST(min(rn) FILTER (WHERE cum * 5 >= total * 4) AS BIGINT) AS k_for_80pct,
               round(min(rn) FILTER (WHERE cum * 5 >= total * 4)
                     / CAST(min(n) AS DOUBLE), 6) AS share_of_customers
        FROM ranked GROUP BY c_nationkey
    """,
    tags=("window", "pareto", "cumulative-share", "extension"),
)
def q_pareto_80_20_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto cut: per nation, the smallest number of (top-spending)
    customers covering ≥ 80 % of revenue. The membership predicate is
    pure integer arithmetic (cum·5 ≥ total·4) — never a raw double
    comparison. The per-nation window sorts |customers|/25 rows in one
    task — same accepted class as ntile_decile_customer_spend
    (SF-proportional per-key sort; at extreme SF this wants a
    range-partitioned prefix sum, documented not hidden)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    spend = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(_cents()).alias("cents"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("cents"), F.asc("o_custkey"))
    ranked = spend.select(
        "c_nationkey",
        "cents",
        F.row_number().over(w).cast("long").alias("rn"),
        F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cents").over(Window.partitionBy("c_nationkey")).alias("total"),
        F.count("*").over(Window.partitionBy("c_nationkey")).alias("n"),
    )
    return ranked.groupBy("c_nationkey").agg(
        F.min("n").cast("long").alias("n_customers"),
        F.min(F.when(F.col("cum") * 5 >= F.col("total") * 4, F.col("rn")))
        .cast("long")
        .alias("k_for_80pct"),
        F.round(
            F.min(F.when(F.col("cum") * 5 >= F.col("total") * 4, F.col("rn")))
            / F.min("n").cast("double"),
            6,
        ).alias("share_of_customers"),
    )


@register(
    "weekday_hour_heatmap",
    oracle="""
        SELECT CAST(isodow(ts) AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT) AS hr,
               count(*) AS n,
               round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                     / 100.0 / count(value), 4) AS avg_value
        FROM events GROUP BY 1, 2
    """,
    tags=("timeseries", "calendar", "heatmap", "extension"),
)
def q_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (ISO weekday 1 = Monday).
    Pure projection + one hash agg onto a ≤ 168-cell grid — the
    map-side partial aggregate collapses each task to the grid size,
    so the shuffle is constant-width at any SF."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.weekday("ts") + 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hr"),
            "value",
        )
        .groupBy("dow", "hr")
        .agg(
            F.count("*").alias("n"),
            # round-11 money completion: exact-cents mean, one pinned
            # double divide chain mirrored in the oracle
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / F.lit(100.0)
                / F.count("value"),
                4,
            ).alias("avg_value"),
        )
    )


@register(
    "qty_discount_heatmap",
    oracle="""
        SELECT CAST(ceil(l_quantity / 10.0) AS BIGINT) AS qty_band,
               CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
               count(*) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        FROM lineitem GROUP BY 1, 2
    """,
    tags=("agg", "joint-distribution", "extension"),
)
def q_qty_discount_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint distribution of quantity band × discount percent — the
    2-D histogram an analyst reads before trusting a univariate one.
    Both axes are VALUE-domain grids (5 bands × ~11 discount points),
    not rank-based tiles, so there is no global sort anywhere: one
    hash aggregate onto a bounded grid."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.ceil(F.col("l_quantity") / 10.0).cast("long").alias("qty_band"),
            F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("qty_band", "disc_pct")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("price_cents"))
    )


@register(
    "corr_matrix_measures",
    oracle="""
        WITH m AS (
            SELECT round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
                   round(corr(l_quantity, l_discount), 6) AS qty_disc,
                   round(corr(l_quantity, l_tax), 6) AS qty_tax,
                   round(corr(l_extendedprice, l_discount), 6) AS price_disc,
                   round(corr(l_extendedprice, l_tax), 6) AS price_tax,
                   round(corr(l_discount, l_tax), 6) AS disc_tax
            FROM lineitem
        )
        SELECT 'qty_price' AS pair, qty_price AS corr FROM m
        UNION ALL SELECT 'qty_disc', qty_disc FROM m
        UNION ALL SELECT 'qty_tax', qty_tax FROM m
        UNION ALL SELECT 'price_disc', price_disc FROM m
        UNION ALL SELECT 'price_tax', price_tax FROM m
        UNION ALL SELECT 'disc_tax', disc_tax FROM m
    """,
    tags=("stats", "correlation-matrix", "extension"),
)
def q_corr_matrix_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the four lineitem
    measures — all six pairs from ONE aggregate pass (no six scans),
    then unpivoted to (pair, corr) rows. Uses stats2.safe_corr (moment
    form + zero-variance NULL guard); the ~1e-12 moment-cancellation
    noise vs the engines' co-moment kernels is absorbed by the 6 dp
    display round (accepted class, same as spearman_rank_corr)."""
    from velox_hadoop_spark.operators.stats2 import safe_corr

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("q"),
        F.col("l_extendedprice").cast("double").alias("p"),
        F.col("l_discount").cast("double").alias("d"),
        F.col("l_tax").cast("double").alias("t"),
    )
    pairs = {
        "qty_price": ("q", "p"),
        "qty_disc": ("q", "d"),
        "qty_tax": ("q", "t"),
        "price_disc": ("p", "d"),
        "price_tax": ("p", "t"),
        "disc_tax": ("d", "t"),
    }
    agg = li.agg(
        *[
            F.round(safe_corr(F.col(a), F.col(b)), 6).alias(name)
            for name, (a, b) in pairs.items()
        ]
    )
    stack_args = ", ".join(f"'{name}', {name}" for name in pairs)
    return agg.select(
        F.expr(f"stack({len(pairs)}, {stack_args}) AS (pair, corr)")
    )


@register(
    "rolling_median_7d",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ),
        win AS (
            SELECT day, cents,
                   list_sort(list(cents) OVER (
                       ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
                   )) AS l
            FROM daily
        )
        SELECT day, cents,
               (l[(len(l) + 1) // 2] + l[len(l) // 2 + 1]) / 2.0 AS med7_cents
        FROM win
    """,
    tags=("timeseries", "rolling-median", "extension"),
)
def q_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day rolling MEDIAN of daily revenue — the
    robust twin of the rolling mean, which neither engine ships as a
    window builtin over arbitrary frames. The frame is ≤ 7 values, so
    the median is computed literally: collect the frame as a sorted
    array and average the two middle elements ((n+1)÷2 and n÷2+1 —
    equal when n is odd), stated IDENTICALLY in both engines so the
    even/odd and ramp-up (first 6 days) cells agree bit-for-bit.
    Single-partition window over the calendar-bounded daily spine
    (~2.4k rows at any SF) — the documented accepted class."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_cents()).alias("cents"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day", "cents", F.sort_array(F.collect_list("cents").over(w)).alias("l")
    )
    n = F.size("l")
    mid1 = F.element_at("l", ((n + 1) / 2).cast("int"))
    mid2 = F.element_at("l", (n / 2 + 1).cast("int"))
    return win.select(
        "day", "cents", ((mid1 + mid2) / 2.0).alias("med7_cents")
    )


def _session_summary_oracle(gap_minutes: int) -> str:
    """One gap parameterization of the events_session_10m island SQL,
    aggregated to a single summary row carrying the gap as a column."""
    return f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             >= INTERVAL '{gap_minutes} minutes' OR
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        numbered AS (
            SELECT *, sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS session_id
            FROM flagged
        ),
        sessions AS (
            SELECT user_id, session_id,
                   count(*) AS n_events,
                   CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS span_us
            FROM numbered GROUP BY user_id, session_id
        )
        SELECT CAST({gap_minutes} AS BIGINT) AS gap_minutes,
               count(*) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               round(avg(CAST(n_events AS DOUBLE)), 4) AS avg_events,
               round(avg(CAST(span_us AS DOUBLE)) / 1e6, 4) AS avg_span_sec
        FROM sessions
    """


@register(
    "events_session_gap_param",
    oracle=" UNION ALL ".join(
        f"SELECT * FROM ({_session_summary_oracle(g)})" for g in (15, 60)
    ),
    tags=("streaming", "session", "gap-parameterized", "extension"),
)
def q_events_session_gap_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-parameterized sessionization: the SAME session kernel
    (streaming.events.session_agg — Spark's session_window, whose
    batch twin is the island SQL stated in the oracle) run at 15- and
    60-minute inactivity gaps, summarized side by side with the gap as
    a column — the sensitivity sweep a sessionization owner runs
    before freezing the gap constant. Two scans (one per gap), each
    one shuffle on user_id."""
    from velox_hadoop_spark.streaming.events import session_agg

    ev = read_table(spark, sf_dir, "events")
    outs = []
    for gap in (15, 60):
        s = session_agg(ev, f"{gap} minutes")
        summary = s.agg(
                F.count("*").alias("n_sessions"),
                F.sum("n_events").cast("long").alias("n_events"),
                F.round(F.avg(F.col("n_events").cast("double")), 4).alias("avg_events"),
                F.round(
                    F.avg(
                        (
                            F.unix_micros(F.col("session_end").cast("timestamp")) - F.unix_micros(F.col("session_start").cast("timestamp"))
                        ).cast("double")
                    )
                    / 1e6,
                    4,
                ).alias("avg_span_sec"),
        )
        outs.append(
            summary.select(
                F.lit(gap).cast("long").alias("gap_minutes"),
                "n_sessions",
                "n_events",
                "avg_events",
                "avg_span_sec",
            )
        )
    return outs[0].unionByName(outs[1])


@register(
    "window_peer_avg_exclude_self",
    oracle="""
        WITH b AS (
            SELECT c_custkey, c_nationkey,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
            FROM customer
        ),
        stats AS (
            SELECT c_custkey, c_nationkey, bal_cents,
                   sum(bal_cents) OVER (PARTITION BY c_nationkey) AS tot,
                   count(*) OVER (PARTITION BY c_nationkey) AS n
            FROM b
        )
        SELECT c_custkey, c_nationkey, bal_cents,
               CASE WHEN n > 1 THEN
                   floor((tot - bal_cents) / (100.0 * (n - 1)) * 10000 + 0.5) / 10000
               END AS peer_avg_bal
        FROM stats
    """,
    tags=("window", "peer-average", "extension"),
)
def q_window_peer_avg_exclude_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peer average EXCLUDING the current row — ANSI's `EXCLUDE CURRENT
    ROW` frame clause, which Spark's window API lacks, restated
    algebraically: (group sum − own value) / (n − 1), NULL for a
    singleton group (no peers ≠ zero peers). Integer cents under the
    subtraction; one unordered window (no sort) on nationkey."""
    b = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    w = Window.partitionBy("c_nationkey")
    stats = b.select(
        "c_custkey",
        "c_nationkey",
        "bal_cents",
        F.sum("bal_cents").over(w).alias("tot"),
        F.count("*").over(w).alias("n"),
    )
    return stats.select(
        "c_custkey",
        "c_nationkey",
        "bal_cents",
        F.when(
            F.col("n") > 1,
            # fix4 (floor(x·1e4 + 0.5)/1e4) instead of round(): the two
            # engines' double-round implementations disagree on exact
            # .xxxx5 ratio boundaries; this states ONE deterministic
            # half-up rule both can evaluate identically (llmops2._fix4)
            F.floor(
                (F.col("tot") - F.col("bal_cents"))
                / (100.0 * (F.col("n") - 1))
                * 10000
                + 0.5
            )
            / 10000,
        ).alias("peer_avg_bal"),
    )
