"""Reshape operators: pivot, unpivot (melt), grouping sets. [extension]

Not present in the reference (its aggregation surface is grouped sums
only, reference: src/main/java/org/dicl/velox/benchmark/WordCount.java:
54-68); these are the wide↔long reshaping primitives an analytics
engine is expected to expose.

Scale notes: ``pivot`` with an explicit value list compiles to one
hash aggregation with a conditional-sum column per pivot value (no
second pass to discover values, no driver collect). ``unpivot`` is a
narrow 1→N row expansion — no shuffle at all. GROUPING SETS computes
every set in a single Expand + aggregate pass rather than unioning
per-set scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import bare_sql, read_table
from velox_hadoop_spark.plans.registry import register


ORDER_STATUSES = ("F", "O", "P")


def pivot_status_counts(orders: DataFrame) -> DataFrame:
    """Long→wide: one row per priority, one count column per status.

    The explicit ``values=`` list keeps the plan single-pass (Spark
    otherwise runs a distinct scan first to discover pivot columns —
    a full extra job at 100 TB).
    """
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(ORDER_STATUSES))
        .count()
    )
    # coalesce: pivot leaves an EMPTY cell NULL where the oracle's
    # CASE-sum says 0 — on real data every cell is populated, but a
    # degenerate (single-status) input must still agree cross-engine
    return wide.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0)).alias(f"cnt_{s.lower()}")
            for s in ORDER_STATUSES
        ],
    )


@register(
    "pivot_orders_status",
    oracle="""
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_f,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_o,
               CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_p
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("reshape", "pivot", "extension"),
)
def q_pivot_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts pivoted to one column per order status."""
    return pivot_status_counts(read_table(spark, sf_dir, "orders"))


def unpivot_measures(li: DataFrame) -> DataFrame:
    """Wide→long: melt lineitem's numeric measures to (metric, value)."""
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
               CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice',
               CAST(l_extendedprice AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount',
               CAST(l_discount AS DOUBLE) FROM lineitem
    """,
    tags=("reshape", "unpivot", "extension"),
)
def q_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem measures melted long (3 rows per input row, no shuffle)."""
    return unpivot_measures(read_table(spark, sf_dir, "lineitem"))


# One SQL text runs in both engines (same pattern as
# tpch_wide._Q8_SQL): GROUPING SETS is computed by Spark as a single
# Expand + hash aggregate, and NULL set-markers are folded to 'ALL'.
_GROUPING_SETS_SQL = """
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstatus,
           ROUND(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                              * 10000) AS BIGINT)) AS DOUBLE)
                 / 10000.0, 2) AS revenue,
           count(*) AS n_items
    FROM {lineitem}
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register(
    "grouping_sets_revenue",
    oracle=bare_sql(_GROUPING_SETS_SQL),
    tags=("reshape", "grouping-sets", "sql-interface", "extension"),
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue at (flag, status), (flag), and grand-total grains in one
    pass — explicit GROUPING SETS (rollup/cube's general form), same
    SQL text as the DuckDB oracle."""
    return spark.sql(_GROUPING_SETS_SQL, lineitem=read_table(spark, sf_dir, "lineitem"))


# Same-text time-hierarchy rollup (year → quarter → month grains in one
# Expand + hash agg pass). COALESCE folds the NULL set-markers to -1 so
# the subtotal rows hash identically in both engines.
_TIME_ROLLUP_SQL = """
    WITH d AS (
        SELECT year(o_orderdate) AS y,
               quarter(o_orderdate) AS q,
               month(o_orderdate) AS m,
               o_totalprice
        FROM {orders}
    )
    SELECT CAST(COALESCE(y, -1) AS INTEGER) AS y,
           CAST(COALESCE(q, -1) AS INTEGER) AS q,
           CAST(COALESCE(m, -1) AS INTEGER) AS m,
           ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS DOUBLE) / 100.0, 2) AS revenue,
           count(*) AS n_orders
    FROM d
    GROUP BY ROLLUP (y, q, m)
"""


@register(
    "time_rollup_revenue",
    oracle=bare_sql(_TIME_ROLLUP_SQL),
    tags=("reshape", "rollup", "time-hierarchy", "extension"),
)
def q_time_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue at month, quarter, year, and grand-total grains in ONE
    aggregation pass — the hypertable/continuous-aggregate rollup shape.
    ROLLUP compiles to a single Expand (4 grain replicas) + partial+
    final hash agg: one fact scan serves every grain, where four
    separate GROUP BYs would scan four times. Subtotal grains are
    strict reductions of the month grain, so at 100 TB you materialize
    the month grain and derive the rest (the incremental_agg_refresh
    pattern maintains it)."""
    return spark.sql(_TIME_ROLLUP_SQL, orders=read_table(spark, sf_dir, "orders"))
