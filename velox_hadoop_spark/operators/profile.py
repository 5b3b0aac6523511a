"""Table profiling — per-column null counts, exact distinct counts,
min/max. [extension]

The ANALYZE/statistics surface every engine ships: one row per column
with (n_nulls, n_distinct, min, max), used for optimizer stats, data
QA gates, and drift monitoring. The reference has no statistics layer
(its splits are byte-ranged, reference: src/main/java/org/dicl/velox/
mapreduce/LeanInputFormat.java:41-63); this is a first-class operator
here.

Scale notes: the profile is a UNION of per-column one-row aggregates,
one narrow scan per column. On columnar parquet each scan reads ONLY
its column (verified column pruning), so total bytes read equal one
full-table scan while every aggregation pipeline stays a 1-column
partial+final agg — no Expand. The alternative single-pass
multi-distinct aggregate expands every row ``n_cols``× before the
shuffle (Spark plans multi-countDistinct via Expand), shuffling 6×
the table — strictly worse at 100 TB. Exact distinct counts are kept
for oracle parity; at petabyte scale swap ``countDistinct`` for
``approx_count_distinct`` per column (same plan shape, no shuffle
growth), as the HLL queries in ``tpch_more.py`` demonstrate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register

# (column, kind) — kind picks the engine-portable min/max string form:
# doubles go through DECIMAL(18,2) so both engines print '857.71',
# timestamps through DATE so both print '1995-03-15'.
_ORDERS_COLS: tuple[tuple[str, str], ...] = (
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "double"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


def _minmax_spark(col: str, kind: str, agg: str) -> Column:
    fn = F.min if agg == "min" else F.max
    if kind == "double":
        return fn(col).cast("decimal(18,2)").cast("string")
    if kind == "ts":
        return fn(F.col(col).cast("date")).cast("string")
    return fn(col).cast("string")


def profile_columns(df: DataFrame, cols: tuple[tuple[str, str], ...]) -> DataFrame:
    """One row per column: (col_name, n_nulls, n_distinct, min_val,
    max_val) — a union of narrow per-column aggregates (see module
    docstring for why this beats a single multi-distinct pass)."""
    parts = []
    for c, kind in cols:
        parts.append(
            df.select(c).agg(
                F.lit(c).alias("col_name"),
                # count(when(...)), not sum(cast): count is 0 on an
                # EMPTY input where sum is NULL — the oracle's
                # count(CASE ...) is 0 there (empty-sweep parity)
                F.count(F.when(F.col(c).isNull(), 1)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                _minmax_spark(c, kind, "min").alias("min_val"),
                _minmax_spark(c, kind, "max").alias("max_val"),
            )
        )
    return reduce(DataFrame.unionAll, parts)


def _minmax_duck(col: str, kind: str, agg: str) -> str:
    if kind == "double":
        return f"CAST(CAST({agg}({col}) AS DECIMAL(18,2)) AS VARCHAR)"
    if kind == "ts":
        return f"CAST({agg}(CAST({col} AS DATE)) AS VARCHAR)"
    return f"CAST({agg}({col}) AS VARCHAR)"


def _profile_oracle(table: str, cols: tuple[tuple[str, str], ...]) -> str:
    selects = [
        f"""SELECT '{c}' AS col_name,
                   count(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
                   count(DISTINCT {c}) AS n_distinct,
                   {_minmax_duck(c, kind, 'min')} AS min_val,
                   {_minmax_duck(c, kind, 'max')} AS max_val
            FROM {table}"""
        for c, kind in cols
    ]
    return "\nUNION ALL\n".join(selects)


@register(
    "profile_columns_orders",
    oracle=_profile_oracle("orders", _ORDERS_COLS),
    tags=("profiling", "statistics", "extension"),
)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column statistics profile of the orders table."""
    orders = read_table(spark, sf_dir, "orders")
    return profile_columns(orders, _ORDERS_COLS)


def _drift_leg_duck(snap_filter: str, cols: tuple[tuple[str, str], ...]) -> str:
    selects = [
        f"""SELECT '{c}' AS col_name,
                   count(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
                   count(DISTINCT {c}) AS n_distinct,
                   count(*) AS n_rows
            FROM bucketed WHERE {snap_filter}"""
        for c, _ in cols
    ]
    return "\nUNION ALL\n".join(selects)


_DRIFT_COLS: tuple[tuple[str, str], ...] = (
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "double"),
)


def _drift_oracle() -> str:
    # old snapshot = buckets 0-89, new = 10-99 (the snapshot_diff
    # convention); drift = per-column deltas between the two profiles.
    from velox_hadoop_spark.operators.setops import _snap_bucket_duck

    return f"""
        WITH bucketed AS (
            SELECT *, {_snap_bucket_duck()} AS b FROM orders
        ),
        oldp AS ({_drift_leg_duck('b < 90', _DRIFT_COLS)}),
        newp AS ({_drift_leg_duck('b >= 10', _DRIFT_COLS)})
        SELECT o.col_name,
               n.n_rows - o.n_rows AS d_rows,
               n.n_nulls - o.n_nulls AS d_nulls,
               n.n_distinct - o.n_distinct AS d_distinct
        FROM oldp o JOIN newp n USING (col_name)
    """


@register(
    "profile_drift_orders",
    oracle=_drift_oracle(),
    tags=("profiling", "drift", "qa", "extension"),
)
def q_profile_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics drift between two table snapshots: per-column deltas
    of row count, null count, and exact distinct count — the data-QA
    gate that catches silent upstream changes (a column going sparse,
    an enum collapsing) before they poison downstream training runs.

    Each profile leg is the same union-of-narrow-aggregates shape as
    ``profile_columns`` (per-column scans, no Expand); the final join
    is |columns| rows. At 100 TB profiles are computed per snapshot
    ANYWAY for optimizer stats — drift is then a free |columns|-row
    join of stored profiles, which this plan demonstrates end-to-end.
    """
    from pyspark.sql import functions as F  # noqa: F811

    from velox_hadoop_spark.functions.hashing import seeded, spark_md5_int60
    from velox_hadoop_spark.operators.setops import SNAP_SEED

    orders = read_table(spark, sf_dir, "orders")
    b = F.expr(spark_md5_int60(seeded("o_orderkey", SNAP_SEED))) % 100
    bucketed = orders.withColumn("b", b)

    def leg(frame: DataFrame) -> DataFrame:
        parts = []
        for c, _ in _DRIFT_COLS:
            parts.append(
                frame.select(c).agg(
                    F.lit(c).alias("col_name"),
                    # count-form for the same empty-leg parity as
                    # profile_columns (sum over empty -> NULL, not 0)
                    F.count(F.when(F.col(c).isNull(), 1)).alias("n_nulls"),
                    F.countDistinct(c).alias("n_distinct"),
                    F.count("*").alias("n_rows"),
                )
            )
        return reduce(DataFrame.unionAll, parts)

    oldp = leg(bucketed.where(F.col("b") < 90))
    newp = leg(bucketed.where(F.col("b") >= 10))
    o, n = oldp.alias("o"), newp.alias("n")
    return o.join(n, "col_name").select(
        "col_name",
        (F.col("n.n_rows") - F.col("o.n_rows")).alias("d_rows"),
        (F.col("n.n_nulls") - F.col("o.n_nulls")).alias("d_nulls"),
        (F.col("n.n_distinct") - F.col("o.n_distinct")).alias("d_distinct"),
    )


@register(
    "constraint_violations_report",
    oracle="""
        SELECT 'orders.null_custkey' AS rule,
               CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'orders.nonpositive_total',
               CAST(count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'lineitem.discount_range',
               CAST(count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem.ship_before_order',
               CAST(count(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 END) AS BIGINT)
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'lineitem.orphan_orderkey',
               CAST(count(*) AS BIGINT)
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL
    """,
    tags=("profile", "data-quality", "extension"),
)
def q_constraint_violations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit: null-key, domain-range,
    temporal-ordering, and referential-integrity (orphan FK) rules
    evaluated in one report frame — the ingest-gate companion to the
    statistical profiler.

    Single-table rules fold into per-table conditional aggregates (one
    scan per table, no shuffle beyond the 1-row agg); the two
    referential rules share one orderkey join whose dimension side
    Catalyst prunes to the join key. Each rule emits (rule,
    n_violations), so the report is a fixed-height frame at any data
    scale.
    """
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")

    def one(rule: str, frame: DataFrame, cond) -> DataFrame:
        return frame.agg(
            F.lit(rule).alias("rule"),
            F.count(F.when(cond, 1)).alias("n_violations"),
        )

    joined = li.join(
        orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == orders.o_orderkey
    )
    orphans = li.join(
        orders.select("o_orderkey"), li.l_orderkey == orders.o_orderkey, "left_anti"
    ).agg(F.lit("lineitem.orphan_orderkey").alias("rule"), F.count("*").alias("n_violations"))
    report = (
        one("orders.null_custkey", orders, F.col("o_custkey").isNull())
        .union(one("orders.nonpositive_total", orders, F.col("o_totalprice") <= 0))
        .union(
            one(
                "lineitem.discount_range",
                li,
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
            )
        )
        .union(
            one(
                "lineitem.ship_before_order",
                joined,
                F.col("l_shipdate") < F.col("o_orderdate"),
            )
        )
        .union(orphans)
    )
    return report
