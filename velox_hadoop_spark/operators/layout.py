"""Data-layout maintenance planning. [extension]

The table-maintenance side of a 100 TB lakehouse: a compaction planner
that bin-packs small partitions into target-sized output files. The
plan itself is data (one row per input partition with its assigned
output bin), so it composes with any rewrite executor — and it's pure
relational work: one grouped count, one calendar-ordered cumulative
sum, one integer division. The greedy contiguous packing (walk the
partitions in key order, cut a new bin every TARGET rows) preserves
partition-key ordering in the output files, which is exactly what a
sort-ordered table layout (Z-order/clustering) wants from compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register

COMPACT_TARGET_ROWS = 100_000  # rows per output file / bin


def compaction_plan(li: DataFrame) -> DataFrame:
    """The greedy contiguous bin-packing plan as a frame: (part_month,
    n_rows, cum_before, bin_id). The ONE home for the packing rule —
    the registered plan query and its execution twin
    (``llmops9.compaction_bin_execution``) both derive from it, so the
    planner and the executor cannot silently disagree on bin cuts."""
    p = li.groupBy(
        F.trunc(F.col("l_shipdate").cast("date"), "month").alias("part_month")
    ).agg(F.count("*").alias("n_rows"))
    w = Window.orderBy("part_month").rowsBetween(Window.unboundedPreceding, -1)
    c = p.select(
        "part_month",
        "n_rows",
        F.coalesce(F.sum("n_rows").over(w), F.lit(0)).alias("cum_before"),
    )
    return c.select(
        "part_month",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("cum_before").cast("long").alias("cum_before"),
        F.expr(f"CAST(cum_before DIV {COMPACT_TARGET_ROWS} AS BIGINT)").alias("bin_id"),
    )


@register(
    "compaction_bin_packing_plan",
    oracle=f"""
        WITH p AS (
            SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS part_month,
                   count(*) AS n_rows
            FROM lineitem GROUP BY 1
        ),
        c AS (
            SELECT part_month, n_rows,
                   coalesce(sum(n_rows) OVER (
                       ORDER BY part_month
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM p
        )
        SELECT part_month,
               CAST(n_rows AS BIGINT) AS n_rows,
               CAST(cum_before AS BIGINT) AS cum_before,
               CAST(cum_before // {COMPACT_TARGET_ROWS} AS BIGINT) AS bin_id
        FROM c
    """,
    tags=("layout", "compaction", "maintenance", "extension"),
)
def q_compaction_bin_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: month-partitioned lineitem counts are
    walked in calendar order and greedily packed into output bins of
    ~{COMPACT_TARGET_ROWS} rows (bin = exact integer division of the
    running row count BEFORE each partition — deterministic, no float
    in the cut decision). The emitted plan is relational data — (input
    partition, size, assigned bin) — ready for a rewrite job to execute
    bin-by-bin, and the contiguous packing keeps partition-key order
    inside every output file.

    Scale: the aggregate is partial+final over the fact table; the
    cumulative window rides the MONTH domain (calendar-bounded — ~84
    rows at ANY SF), so the unpartitioned window is a constant-size
    final step, the same accepted class as the daily-spine kernels."""
    li = read_table(spark, sf_dir, "lineitem")
    return compaction_plan(li)
