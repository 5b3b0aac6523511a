"""Sorts, global ranking, top-k.

Re-expresses the reference's sort benchmark Spark-first:

  * total-order integer sort + rank — reference: src/main/java/org/dicl/
    velox/benchmark/LeanSort.java:85-148 (custom range partitioner over
    the int domain, 160 reducers, per-reducer `linenum` counter that is
    only correct single-threaded). Here the rank is computed with a
    two-phase distributed scheme that stays correct at any parallelism.
  * descending sorts — reference: Grep.java:95-98 (single reducer!),
    SortFloatComparator.java:17-22. Here: parallel range-partitioned
    `orderBy`; top-k compiles to TakeOrderedAndProject (no total sort).

Scale notes: ``global_rank`` never sees more than one partition's rows
in one task — it range-partitions (sampled bounds, the dynamic version
of LeanSort's static `maxNum/numPartitions` buckets), computes local
row numbers, then joins tiny per-partition offsets back via broadcast.
This is how you rank 100 TB; a bare `row_number() OVER (ORDER BY ...)`
would serialize through a single task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def top_k(df: DataFrame, k: int, *order_exprs) -> DataFrame:
    """Top-k without a total sort — Spark plans TakeOrderedAndProject:
    each partition keeps a k-heap, the driver merges k*numPartitions rows."""
    return df.orderBy(*order_exprs).limit(k)


def global_rank(df: DataFrame, order_cols: list[str], rank_col: str = "rank") -> DataFrame:
    """Distributed dense global row numbering over a total order.

    ``order_cols`` must define a total order (include a unique
    tiebreaker) for deterministic output. Three steps, all distributed:

      1. range-partition on the order columns (sampled bounds) and sort
         WITHIN each (range-disjoint) partition;
      2. per-row local position from ``monotonically_increasing_id``
         (sequential per partition in the sorted order) minus the
         partition's min id — NOT a ``Window.partitionBy(__pid)``,
         which Catalyst cannot prove satisfied by the range layout and
         therefore backs with a second full-data hash exchange on
         ``__pid`` (measured: the whole table shuffled twice);
      3. add per-partition offsets (exclusive prefix sums of partition
         counts — numPartitions rows, broadcast).

    Net: ONE exchange of the data (the range partition; plan-asserted
    in tests/test_plans.py) plus a numPartitions-row stats aggregate.

    Step 2 leans on ids being CONSECUTIVE within a partition — true of
    the current implementation (partitionId<<33 + per-row counter) but
    not promised by the API contract ("not consecutive"). The stats
    aggregate therefore also checks ``max - min + 1 == count`` per
    partition and raises loudly (``raise_error``) if a Spark upgrade
    ever changes the id scheme — per-partition stats rows only, so the
    guard costs nothing at data scale.
    """
    parts = (
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*[F.asc(c) for c in order_cols])
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
    )
    stats = parts.groupBy("__pid").agg(
        F.count("*").alias("__cnt"),
        F.min("__mid").alias("__mn"),
        F.max("__mid").alias("__mx"),
    )
    # numPartitions rows — a single-partition window here is fine.
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        stats.withColumn(
            "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
        )
        .withColumn(
            "__mn",
            F.when(
                F.col("__mx") - F.col("__mn") + 1 == F.col("__cnt"),
                F.col("__mn"),
            ).otherwise(
                F.raise_error(
                    F.lit(
                        "global_rank: monotonically_increasing_id is no longer "
                        "consecutive within a partition; local positions need "
                        "an explicit per-partition counter"
                    )
                )
            ),
        )
        .select("__pid", "__mn", "__off")
    )
    return (
        parts.join(F.broadcast(offsets), "__pid")
        .withColumn(
            rank_col,
            (F.col("__mid") - F.col("__mn") + 1 + F.col("__off")).cast("long"),
        )
        .drop("__pid", "__mid", "__mn", "__off")
    )


def ntile_from_rank(rank: Column, n_total: Column, k: int) -> Column:
    """SQL NTILE(k) from a 1-based dense global rank and the row count
    — the arithmetic companion of ``global_rank`` for distributed
    tiling without a single-partition ntile() window.

    NTILE front-loads: the first ``n mod k`` tiles hold ⌈n/k⌉ rows, the
    rest ⌊n/k⌋. (The tempting ⌊(rank−1)·k/n⌋+1 formula SPREADS the
    larger tiles evenly instead — e.g. n=12, k=10 gives NTILE sizes
    [2,2,1,…] but arithmetic sizes [2,1,…,2,…] — so it hash-mismatches
    a real ntile() oracle on any n not divisible by k.) The small-tile
    divisor is guarded with greatest(·, 1): for n < k that branch is
    unreachable, but ANSI mode must never see a divide-by-zero."""
    big = F.floor(n_total / k) + 1
    small = F.floor(n_total / k)
    m = n_total % k  # number of front-loaded larger tiles
    boundary = m * big  # rows living in the larger tiles
    return F.when(
        rank <= boundary, F.floor((rank - 1) / big) + 1
    ).otherwise(m + F.floor((rank - boundary - 1) / F.greatest(small, F.lit(1))) + 1)


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "sort_rank",
    oracle="""
        SELECT CAST(l_quantity AS INT) AS value,
               l_orderkey,
               l_linenumber,
               CAST(row_number() OVER (ORDER BY CAST(l_quantity AS INT), l_orderkey, l_linenumber) AS BIGINT) AS rank
        FROM lineitem
    """,
    tags=("sort", "reference:LeanSort.java:85-148"),
)
def q_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer sort + global rank (LeanSort semantics, parallel-correct)."""
    li = read_table(spark, sf_dir, "lineitem")
    df = li.select(
        F.col("l_quantity").cast("int").alias("value"),
        "l_orderkey",
        "l_linenumber",
    )
    return global_rank(df, ["value", "l_orderkey", "l_linenumber"], "rank")


@register(
    "topk_orders",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
    """,
    tags=("sort", "topk", "reference:Grep.java:95-98"),
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 orders by price — TakeOrderedAndProject, no total sort."""
    orders = read_table(spark, sf_dir, "orders")
    return top_k(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        100,
        F.desc("o_totalprice"),
        F.asc("o_orderkey"),
    )


@register(
    "sort_desc_suppliers",
    oracle="""
        SELECT s_suppkey, s_name, s_acctbal
        FROM supplier
        ORDER BY s_acctbal DESC, s_suppkey ASC
    """,
    tags=("sort", "reference:SortFloatComparator.java:17-22"),
)
def q_sort_desc_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Descending float sort (PageRank step-3 ordering semantics)."""
    sup = read_table(spark, sf_dir, "supplier")
    return sup.select("s_suppkey", "s_name", "s_acctbal").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key — multi-dimension data layout
# ---------------------------------------------------------------------------

_Z_BITS = 16


def _z_value_spark() -> str:
    """Spark SQL text: interleave 16 bits of customer and day-index."""
    x = "CAST(o_custkey % 65536 AS BIGINT)"
    y = "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') % 65536 AS BIGINT)"
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
    return " + ".join(terms)


def _z_value_duck() -> str:
    """Same interleave in DuckDB's operator syntax."""
    x = "CAST(o_custkey % 65536 AS BIGINT)"
    y = "CAST(date_diff('day', DATE '1992-01-01', o_orderdate) % 65536 AS BIGINT)"
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "zorder_key_orders",
    oracle=f"""
        SELECT o_orderkey, {_z_value_duck()} AS zval
        FROM orders
    """,
    tags=("sort", "layout", "zorder", "extension"),
)
def q_zorder_key_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (customer, order-day):
    interleaving the two dimensions' bits gives a single sort key whose
    ranges are compact in BOTH dimensions, so one
    ``repartitionByRange(zval)`` + sorted write produces files whose
    min/max statistics prune for filters on EITHER column — the
    multi-dimension layout trick single-column sorting cannot give.
    The key itself is pure per-row bit math in codegen (zero shuffles
    here; the layout write reuses the range-partition machinery of the
    distributed sort operator).
    """
    orders = read_table(spark, sf_dir, "orders")
    return orders.select("o_orderkey", F.expr(_z_value_spark()).alias("zval"))
