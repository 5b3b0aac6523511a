"""SQL-surface breadth, round 9. [extension]

ANSI try_* arithmetic (the overflow/zero-division NULL semantics a
100 TB pipeline needs instead of job-killing exceptions) and the
width_bucket equi-width histogram builtin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register

WB_LO, WB_HI, WB_N = 0.0, 500000.0, 20  # bucket width 25000, exact in binary


@register(
    "try_arithmetic_null_report",
    oracle="""
        WITH c AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   o_custkey % 100 AS den,
                   o_orderstatus AS st
            FROM orders
        ),
        t AS (
            SELECT CASE WHEN CAST(cents AS HUGEINT) * cents * 4000
                             > 9223372036854775807
                        THEN NULL ELSE cents * cents * 4000 END AS ov,
                   CASE WHEN den = 0 THEN NULL
                        ELSE cents / CAST(den AS DOUBLE) END AS dv,
                   TRY_CAST(st AS BIGINT) AS sc
            FROM c
        )
        SELECT count(*) AS n,
               CAST(count(*) - count(ov) AS BIGINT) AS n_overflow_null,
               CAST(count(*) - count(dv) AS BIGINT) AS n_divzero_null,
               CAST(count(sc) AS BIGINT) AS n_status_numeric,
               CAST(min(ov) AS BIGINT) AS min_ok_product,
               CAST(max(ov) AS BIGINT) AS max_ok_product
        FROM t
    """,
    tags=("sql-breadth", "try-arithmetic", "ansi", "extension"),
)
def q_try_arithmetic_null_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI try_* arithmetic surface: try_multiply turns int64 overflow
    into NULL (cents² × 4000 overflows for orders above ~$480k — a
    data-dependent mix, 601 rows at sf0.01), try_divide turns /0 into
    NULL, try_cast turns a non-numeric status into NULL — the
    null-on-error semantics that keep a 100 TB job alive where plain
    ANSI ops would kill the stage. The oracle states the expected
    results with explicit guards (DuckDB's default arithmetic already
    widens, so the CASE encodes the int64 boundary Spark enforces)."""
    c = read_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_custkey") % 100).alias("den"),
        F.col("o_orderstatus").alias("st"),
    )
    t = c.select(
        F.try_multiply(F.col("cents") * F.col("cents"), F.lit(4000).cast("long")).alias(
            "ov"
        ),
        F.try_divide(F.col("cents"), F.col("den")).alias("dv"),
        F.expr("try_cast(st AS BIGINT)").alias("sc"),  # a plain cast throws under ANSI
    )
    return t.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.count("ov")).cast("long").alias("n_overflow_null"),
        (F.count("*") - F.count("dv")).cast("long").alias("n_divzero_null"),
        F.count("sc").cast("long").alias("n_status_numeric"),
        F.min("ov").cast("long").alias("min_ok_product"),
        F.max("ov").cast("long").alias("max_ok_product"),
    )


@register(
    "width_bucket_price_histogram",
    oracle=f"""
        WITH b AS (
            SELECT CASE WHEN o_totalprice < {WB_LO!r} THEN 0
                        WHEN o_totalprice >= {WB_HI!r} THEN {WB_N + 1}
                        ELSE CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1
                   END AS bucket,
                   o_totalprice AS p
            FROM orders
        )
        SELECT bucket, count(*) AS n_orders,
               ROUND(min(p), 2) AS min_price,
               ROUND(max(p), 2) AS max_price
        FROM b GROUP BY bucket
    """,
    tags=("sql-breadth", "width-bucket", "histogram", "extension"),
)
def q_width_bucket_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width price histogram via the width_bucket builtin
    (buckets 1..20 over [0, 500000), 0/21 for out-of-range). The
    bucket width 25000 is exact in binary and the low bound is 0, so
    Spark's (x−lo)/width and the oracle's floor(x/25000)+1 are the
    IDENTICAL IEEE computation — boundary prices land in the same
    bucket in both engines. One partial+final aggregate; the histogram
    is 22-row bounded at any scale."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket(
                F.col("o_totalprice"), F.lit(WB_LO), F.lit(WB_HI), F.lit(WB_N)
            ).alias("bucket"),
            F.col("o_totalprice").alias("p"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("p"), 2).alias("min_price"),
            F.round(F.max("p"), 2).alias("max_price"),
        )
    )
