"""SQL-surface breadth, round 6. [extension]

The grouping / window / set-operation / function forms a SQL user
reaches for next after the core analytics families: GROUPING SETS with
grouping ids, GROUP BY ALL, LISTAGG DISTINCT, FILTERed counts,
boolean aggregates, rank-distribution windows, frame-clause contrast
(ROWS vs RANGE), QUALIFY-style top-n, null-aware NOT IN, multiset
INTERSECT/EXCEPT ALL, inline VALUES dims, ordinal explode with
empty-array preservation, higher-order array functions, binary
encodings, string padding/translation, exact-moment statistics, and a
generated calendar dimension.

Every query keeps the repo's parity rules: integer cents for money
sums, BIGINT-cast counts, identical aliases in plan and oracle,
CSV-joined collections (never nested outputs), and display-only
rounding on derived doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def _cents():
    # built lazily: Column constructors invoke the JVM, so a module-level
    # constant would require an active SparkContext at import time
    return F.round(F.col("o_totalprice") * 100).cast("long")


@register(
    "grouping_id_report",
    oracle="""
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                                (o_orderpriority, o_orderstatus), ())
    """,
    tags=("agg", "grouping-sets", "extension"),
)
def q_grouping_id_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over (priority, status) with an explicit grouping
    id built from per-column GROUPING() bits — composed manually
    (g(a)*2 + g(b)) rather than engine grouping_id(), whose bit order
    is engine-defined and would silently disagree across engines. One
    shuffle computes all four grouping sets (Spark expands them in a
    single Expand+HashAggregate, not four scans)."""
    return spark.sql("""
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
               count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                                (o_orderpriority, o_orderstatus), ())
    """, orders=read_table(spark, sf_dir, "orders"))


@register(
    "group_by_all_revenue",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY ALL
    """,
    tags=("agg", "group-by-all", "extension"),
)
def q_group_by_all_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (every non-aggregate select item) — the
    modern-SQL convenience form, identical semantics in Spark ≥3.4 and
    DuckDB; compiles to the same partial+final hash aggregate as an
    explicit column list."""
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
        FROM {orders} GROUP BY ALL
    """, orders=read_table(spark, sf_dir, "orders"))


@register(
    "listagg_distinct_statuses",
    oracle="""
        SELECT o_orderpriority,
               string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "listagg", "extension"),
)
def q_listagg_distinct_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG(DISTINCT ... ORDER BY ...) parity: collect_set →
    sort_array → array_join is the Spark spelling (set semantics, then
    an explicit deterministic order — LISTAGG without ORDER BY is
    nondeterministic in any engine and never registry-safe)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "count_filter_report",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n_total,
               count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
               count(*) FILTER (WHERE o_totalprice > 200000) AS n_high_value,
               count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1997-01-01') AS n_recent
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "filter-clause", "extension"),
)
def q_count_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(*) FILTER (WHERE ...) breadth — one scan, one aggregate,
    N conditional counters (Spark spelling: count(when(cond, 1))).
    The FILTER form keeps DuckDB's counters BIGINT (count_if would be
    HUGEINT and hash-mismatch int64)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_high_value"),
        F.count(
            F.when(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"), 1)
        ).alias("n_recent"),
    )


@register(
    "bool_agg_by_nation",
    oracle="""
        SELECT n.n_name,
               bool_and(c.c_acctbal > 0) AS all_positive,
               bool_or(c.c_acctbal > 9000) AS any_rich,
               count(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    tags=("agg", "boolean", "extension"),
)
def q_bool_agg_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and / bool_or aggregates per nation (the EVERY/ANY forms)
    over a broadcast dimension join."""
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.bool_and(F.col("c_acctbal") > 0).alias("all_positive"),
            F.bool_or(F.col("c_acctbal") > 9000).alias("any_rich"),
            F.count("*").alias("n_customers"),
        )
    )


@register(
    "cume_dist_percent_rank_prices",
    oracle="""
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               cume_dist() OVER w AS cd,
               percent_rank() OVER w AS pr
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
    tags=("window", "rank-distribution", "extension"),
)
def q_cume_dist_percent_rank_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist / percent_rank per priority — the rank-distribution
    windows. Both are value-based (ties share a value), so the output
    is deterministic without a tiebreak column; the window and nothing
    else shuffles the table, keyed on the partition column."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
    )


@register(
    "lag_lead_ignore_nulls",
    oracle="""
        SELECT event_id, user_id,
               lag(value, 1, -1.0) OVER w AS prev_val,
               lead(value, 2, -1.0) OVER w AS next2_val,
               first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS first_purchase_val
        FROM events
        WHERE user_id % 20 = 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "lag-lead", "ignore-nulls", "extension"),
)
def q_lag_lead_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead with non-null defaults plus IGNORE NULLS first_value
    (the earliest purchase value seen so far per user). The 5% user
    slice bounds the output; (ts, event_id) is a total order so every
    offset function is deterministic."""
    ev = read_table(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value", 1, -1.0).over(w).alias("prev_val"),
        F.lead("value", 2, -1.0).over(w).alias("next2_val"),
        F.first(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        )
        .over(wf)
        .alias("first_purchase_val"),
    )


@register(
    "rows_vs_range_frames",
    oracle="""
        WITH o AS (
            SELECT o_orderkey, o_custkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(o_orderdate AS DATE) AS d,
                   datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_n
            FROM orders
        )
        SELECT o_orderkey,
               CAST(sum(cents) OVER (
                   PARTITION BY o_custkey ORDER BY d, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS rows_sum3,
               CAST(sum(cents) OVER (
                   PARTITION BY o_custkey ORDER BY day_n
                   RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS range_sum30d
        FROM o
    """,
    tags=("window", "frame-clause", "extension"),
)
def q_rows_vs_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS vs RANGE frame contrast on the same partition: a 3-row
    physical frame (tiebroken by orderkey, so deterministic under
    same-day ties) against a 30-day logical frame keyed on an integer
    day number (RANGE includes ALL same-day rows, so it needs no
    tiebreak). Money rides integer cents; both windows share one
    shuffle on o_custkey."""
    orders = read_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        _cents().alias("cents"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")).alias(
            "day_n"
        ),
    )
    w_rows = (
        Window.partitionBy("o_custkey").orderBy("d", "o_orderkey").rowsBetween(-2, 0)
    )
    w_range = Window.partitionBy("o_custkey").orderBy("day_n").rangeBetween(-29, 0)
    return o.select(
        "o_orderkey",
        F.sum("cents").over(w_rows).cast("long").alias("rows_sum3"),
        F.sum("cents").over(w_range).cast("long").alias("range_sum30d"),
    )


@register(
    "running_min_max_spread",
    oracle="""
        SELECT o_orderkey,
               min(o_totalprice) OVER w AS run_min,
               max(o_totalprice) OVER w AS run_max,
               round(max(o_totalprice) OVER w - min(o_totalprice) OVER w, 2) AS spread
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "running-extrema", "extension"),
)
def q_running_min_max_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative min/max order value per customer and their spread —
    pure extrema (no double sums, so raw values are exact in both
    engines); the subtraction is a single deterministic double op,
    rounded for display only."""
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        F.min("o_totalprice").over(w).alias("run_min"),
        F.max("o_totalprice").over(w).alias("run_max"),
        F.round(
            F.max("o_totalprice").over(w) - F.min("o_totalprice").over(w), 2
        ).alias("spread"),
    )


@register(
    "qualify_top3_balance_per_nation",
    oracle="""
        SELECT s_suppkey, s_nationkey, s_acctbal,
               CAST(row_number() OVER (
                   PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
               ) AS BIGINT) AS rn
        FROM supplier
        QUALIFY rn <= 3
    """,
    tags=("window", "qualify", "top-n", "extension"),
)
def q_qualify_top3_balance_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-style windowed top-n: the 3 richest suppliers per
    nation. Spark has no QUALIFY keyword; the filter-on-window form is
    the identical plan (rank inside the window shuffle, filter above
    it — no second exchange)."""
    supp = read_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), "s_suppkey")
    return (
        supp.select(
            "s_suppkey",
            "s_nationkey",
            "s_acctbal",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "not_in_null_semantics",
    oracle="""
        SELECT
            (SELECT count(*) FROM customer
             WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                     UNION ALL SELECT CAST(NULL AS BIGINT))) AS n_with_null,
            (SELECT count(*) FROM customer
             WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_clean
    """,
    tags=("subquery", "not-in", "null-semantics", "extension"),
)
def q_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, pinned as a parity row: a NULL anywhere in
    the subquery makes NOT IN three-valued (never TRUE), so n_with_null
    is 0 by SQL semantics while the NULL-free list counts real
    never-ordered customers. Spark compiles the null-tainted form to a
    null-aware anti join (a distinct physical operator worth covering)
    and the clean form to a plain left-anti."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    with_null = spark.sql("""
        SELECT count(*) AS n_with_null FROM {customer}
        WHERE c_custkey NOT IN (SELECT o_custkey FROM {orders}
                                UNION ALL SELECT CAST(NULL AS BIGINT))
    """, customer=customer, orders=orders)
    clean = spark.sql("""
        SELECT count(*) AS n_clean FROM {customer}
        WHERE c_custkey NOT IN (SELECT o_custkey FROM {orders})
    """, customer=customer, orders=orders)
    return with_null.crossJoin(F.broadcast(clean))


@register(
    "bag_set_ops_custkeys",
    oracle="""
        WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
             b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        SELECT
            (SELECT count(*) FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)) AS n_intersect_all,
            (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)) AS n_except_all,
            (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_intersect,
            (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_except
    """,
    tags=("setops", "multiset", "extension"),
)
def q_bag_set_ops_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset vs set INTERSECT/EXCEPT on the same two bags (customer
    keys of open vs finished orders): ALL preserves duplicity
    (min/difference of per-key multiplicities), the distinct forms
    collapse it — four counts in one row so the semantics contrast is
    the test."""
    orders = read_table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    n_ia = a.intersectAll(b).agg(F.count("*").alias("n_intersect_all"))
    n_ea = a.exceptAll(b).agg(F.count("*").alias("n_except_all"))
    n_i = a.intersect(b).agg(F.count("*").alias("n_intersect"))
    n_e = a.subtract(b).agg(F.count("*").alias("n_except"))
    return (
        n_ia.crossJoin(F.broadcast(n_ea))
        .crossJoin(F.broadcast(n_i))
        .crossJoin(F.broadcast(n_e))
    )


@register(
    "values_inline_dim_join",
    oracle="""
        SELECT d.sla_days, count(*) AS n_orders,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders o
        JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 5),
                     ('4-NOT SPECIFIED', 10), ('5-LOW', 30)) AS d(priority, sla_days)
          ON o.o_orderpriority = d.priority
        GROUP BY d.sla_days
    """,
    tags=("join", "values-inline", "extension"),
)
def q_values_inline_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline-VALUES dimension join: a literal 5-row SLA lookup joined
    to the fact table. Literal frames are trivially broadcast by the
    optimizer (no hint needed — the lint's point is hints on
    data-sized frames, and this one is compile-time constant)."""
    import pandas as pd

    orders = read_table(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        pd.DataFrame(
            {
                "priority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                "sla_days": [1, 2, 5, 10, 30],
            }
        ),
        "priority string, sla_days int",
    )
    return (
        orders.join(dim, F.col("o_orderpriority") == F.col("priority"))
        .groupBy("sla_days")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents()).alias("rev_cents"),
        )
    )


@register(
    "posexplode_outer_tokens",
    oracle="""
        WITH o AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderstatus = 'O' THEN CAST([] AS VARCHAR[])
                        ELSE string_split(o_orderpriority, '-') END AS arr
            FROM orders WHERE o_orderkey % 50 = 0
        )
        SELECT o.o_orderkey, u.pos, u.tok
        FROM o LEFT JOIN LATERAL (
            SELECT CAST(unnest(range(len(arr))) AS BIGINT) AS pos,
                   unnest(arr) AS tok
        ) u ON true
    """,
    tags=("explode", "lateral", "null-preserve", "extension"),
)
def q_posexplode_outer_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer: ordinal explode that PRESERVES empty-array
    rows as a single (NULL, NULL) row — the left-lateral semantics a
    plain explode drops. Open orders get an empty array by
    construction so the preservation branch is exercised, not assumed."""
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    o = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", F.array().cast("array<string>"))
        .otherwise(F.split("o_orderpriority", "-"))
        .alias("arr"),
    )
    return o.select(
        "o_orderkey", F.posexplode_outer("arr").alias("pos_i", "tok")
    ).select("o_orderkey", F.col("pos_i").cast("long").alias("pos"), "tok")


@register(
    "sequence_aggregate_months",
    oracle="""
        SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
               count(*) AS n_orders,
               CAST(max(CAST(list_sum(range(1, CAST(month(o_orderdate) AS INTEGER) + 1)) AS BIGINT)) AS BIGINT) AS tri_sum
        FROM orders GROUP BY month(o_orderdate)
    """,
    tags=("functions", "higher-order", "array", "extension"),
)
def q_sequence_aggregate_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: per order, sequence(1, month) is
    folded with aggregate() into the triangular sum — verified against
    the closed form per month group. Pure in-row array math (Spark:
    whole-stage codegen; no UDF)."""
    orders = read_table(spark, sf_dir, "orders")
    m = F.month("o_orderdate")
    tri = F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    return (
        orders.select(m.cast("long").alias("m"), tri.alias("tri"))
        .groupBy("m")
        .agg(F.count("*").alias("n_orders"), F.max("tri").alias("tri_sum"))
    )


@register(
    "base64_hex_roundtrip",
    oracle="""
        SELECT c_custkey,
               to_base64(encode(c_name)) AS b64,
               upper(to_hex(c_custkey)) AS hx,
               (decode(from_base64(to_base64(encode(c_name)))) = c_name) AS roundtrip_ok
        FROM customer WHERE c_custkey <= 200
    """,
    tags=("functions", "binary-encoding", "extension"),
)
def q_base64_hex_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-encoding functions: base64 of the UTF-8 name bytes, hex
    of the integer key (uppercased to one casing convention), and the
    decode(unbase64(...)) roundtrip proven equal in-engine."""
    cust = read_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    b64 = F.base64(F.col("c_name").cast("binary"))
    return cust.select(
        "c_custkey",
        b64.alias("b64"),
        F.upper(F.hex(F.col("c_custkey"))).alias("hx"),
        (F.unbase64(b64).cast("string") == F.col("c_name")).alias("roundtrip_ok"),
    )


@register(
    "string_pad_translate_funcs",
    oracle="""
        SELECT p_partkey,
               lpad(p_name, 12, '*') AS padded_l,
               rpad(p_name, 12, '*') AS padded_r,
               translate(p_name, 'aeiou', '12345') AS translated,
               reverse(p_name) AS reversed,
               repeat(p_brand, 2) AS doubled,
               trim(concat('  ', p_name, '  ')) AS trimmed,
               ltrim(concat('xxys', p_name), 'xy') AS ltrimmed
        FROM part WHERE p_partkey <= 200
    """,
    tags=("functions", "string", "extension"),
)
def q_string_pad_translate_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String padding / translation breadth: lpad/rpad (including the
    truncate-when-longer behavior), translate, reverse, repeat, trim,
    and character-set ltrim — all engine built-ins with identical
    semantics, pinned by parity."""
    part = read_table(spark, sf_dir, "part").where(F.col("p_partkey") <= 200)
    return part.select(
        "p_partkey",
        F.lpad("p_name", 12, "*").alias("padded_l"),
        F.rpad("p_name", 12, "*").alias("padded_r"),
        F.translate("p_name", "aeiou", "12345").alias("translated"),
        F.reverse("p_name").alias("reversed"),
        F.repeat("p_brand", 2).alias("doubled"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        # SQL form: Spark's 2-arg ltrim is ltrim(trimStr, str) while
        # DuckDB's is ltrim(str, chars) — argument orders differ, the
        # trimming semantics are identical
        F.expr("ltrim('xy', concat('xxys', p_name))").alias("ltrimmed"),
    )


@register(
    "moment_stats_by_flag",
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   count(*) AS n,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
                   CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
                   CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                            * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               round(CAST(s1 AS DOUBLE) / n, 6) AS mean_q,
               round(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 6) AS var_q,
               CASE WHEN CAST(n AS HUGEINT) * CAST(s2 AS HUGEINT)
                         > CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) THEN
                   round((CAST(s3 AS DOUBLE) / n
                          - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                          + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                         / pow(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 1.5), 6)
               END AS skew_q
        FROM s
    """,
    tags=("stats", "moments", "extension"),
)
def q_moment_stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / population variance / skewness from EXACT integer moment
    sums (quantities are integral and bounded, so Σq, Σq², Σq³ are
    exact BIGINTs in any summation order) — the engine-portable way to
    get higher moments: built-in skewness() definitions differ across
    engines, raw-moment arithmetic does not. The double math on top of
    the exact sums is the identical expression in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n
    m3 = F.col("s3").cast("double") / n
    var = m2 - m1 * m1
    return s.select(
        "l_returnflag",
        "n",
        F.round(m1, 6).alias("mean_q"),
        F.round(var, 6).alias("var_q"),
        # zero variance -> skewness undefined: NULL in both engines via
        # the EXACT integer predicate n*s2 > s1^2 (never the double var).
        # The products run in decimal(38,0) / HUGEINT: at sf~40 the 'N'
        # flag group's s1^2 already exceeds int64 (s1 ~ 25.5n), while
        # the widened predicate stays exact past 1e17 rows per group
        # (n*s2 <= 2500*n^2 < 1e38).
        F.when(
            F.col("n").cast("decimal(19,0)") * F.col("s2").cast("decimal(19,0)")
            > F.col("s1").cast("decimal(19,0)") * F.col("s1").cast("decimal(19,0)"),
            F.round((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5), 6),
        ).alias("skew_q"),
    )


@register(
    "calendar_dim_coverage",
    oracle="""
        WITH bounds AS (
            SELECT min(CAST(o_orderdate AS DATE)) AS d0,
                   max(CAST(o_orderdate AS DATE)) AS d1
            FROM orders
        ),
        spine AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
            FROM bounds
        ),
        daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
            FROM orders GROUP BY 1
        )
        SELECT CAST(date_trunc('month', s.d) AS DATE) AS month_start,
               count(*) AS n_days,
               count(dy.n) AS n_order_days,
               CAST(coalesce(sum(dy.n), 0) AS BIGINT) AS n_orders
        FROM spine s LEFT JOIN daily dy ON s.d = dy.d
        GROUP BY 1
    """,
    tags=("calendar", "dim-generation", "extension"),
)
def q_calendar_dim_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension: a date spine from the data's own
    min/max (sequence + explode over a 1-row bound — never a driver
    collect), left-joined to daily order counts, rolled to months:
    days in month vs days with orders vs order volume. The spine is
    calendar-bounded, so the explode and the join stay tiny at any SF."""
    orders = read_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count("*").alias("n")
    )
    return (
        spine.join(daily, "d", "left")
        .groupBy(F.date_trunc("month", "d").cast("date").alias("month_start"))
        .agg(
            F.count("*").alias("n_days"),
            F.count("n").alias("n_order_days"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_orders"),
        )
    )
