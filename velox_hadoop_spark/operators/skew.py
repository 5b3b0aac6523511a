"""Skew mitigation: salted joins and two-stage salted aggregation.

The reference's answer to skew was work-stealing chunk scheduling
(LeanInputFormat.java:30-76 + ZooKeeper) — it balances *input* skew but
nothing downstream. Spark's AQE skew-join handles most shuffle skew at
runtime; explicit salting remains the tool when one key dominates so
hard that even split sub-partitions overwhelm a task (the classic
null-key / power-law fact table at 100 TB).

  * salted_join: fact rows get a random-ish salt in [0, S); the small
    side is replicated S× with every salt value; join key becomes
    (key, salt) so the hot key spreads over S tasks. Result set is
    IDENTICAL to the unsalted join (oracle-checked below).
  * salted_agg: two-stage aggregate — partial agg on (key, salt), final
    agg on key. Tungsten's partial agg usually makes this redundant,
    but it is the pattern for high-cardinality DISTINCT-style state
    where map-side combine can't compress.

The salt is deterministic (hash-mod of a unique column), so plans stay
reproducible; a random salt (`F.rand`) works identically when
reproducibility doesn't matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = 8,
    salt_src: str | None = None,
) -> DataFrame:
    """Inner equi-join with the fact side salted over ``n_salts`` buckets.

    ``salt_src``: unique-ish fact column used to derive a deterministic
    salt (defaults to the join key itself, which spreads only multi-row
    keys — pass a row-unique column for true hot-key spreading).
    """
    src = salt_src or fact_key
    f = fact.withColumn("__salt", F.pmod(F.xxhash64(F.col(src)), F.lit(n_salts)))
    d = dim.crossJoin(
        F.broadcast(
            dim.sparkSession.range(n_salts).select(F.col("id").alias("__salt"))
        )
    )
    cond = (f[fact_key] == d[dim_key]) & (f["__salt"] == d["__salt"])
    return f.join(d, cond, "inner").drop(d["__salt"]).drop(f["__salt"])


def salted_agg(
    df: DataFrame,
    key: str,
    agg_col: str,
    n_salts: int = 8,
    salt_src: str | None = None,
) -> DataFrame:
    """Two-stage sum: partial on (key, salt), final on key."""
    src = salt_src or agg_col
    partial = (
        df.withColumn("__salt", F.pmod(F.xxhash64(F.col(src)), F.lit(n_salts)))
        .groupBy(key, "__salt")
        .agg(F.sum(agg_col).alias("__partial"), F.count("*").alias("__n"))
    )
    return partial.groupBy(key).agg(
        F.sum("__partial").alias("total"),
        F.sum("__n").cast("long").alias("n"),
    )


@register(
    "salted_join_lineitem_orders",
    oracle="""
        SELECT o.o_orderpriority, count(*) AS n,
               ROUND(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS total_price
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    tags=("join", "skew", "salting"),
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join — result identical to the plain join (the
    oracle IS the plain join), proving salting preserves semantics."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_join(
        li, orders, "l_orderkey", "o_orderkey", n_salts=8, salt_src="l_linenumber"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)"))
            .cast("double")
            / 100.0,
            2,
        ).alias("total_price"),
    )

@register(
    "salted_agg_returnflag",
    oracle="""
        SELECT l_returnflag,
               ROUND(sum(l_quantity), 2) AS total,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "skew", "salting", "extension"),
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation on a 3-value key — the hot-key agg
    mitigation when map-side combine alone can't help (e.g. high-
    cardinality DISTINCT-like states that don't pre-merge): stage one
    spreads each key over 8 salt shards so no single reducer owns a
    whole hot key; stage two merges 8 rows per key. The oracle is the
    UNSALTED aggregate, proving the rewrite preserves semantics
    exactly (sums re-associate; the 2-dp rounding happens once, at the
    end)."""
    li = read_table(spark, sf_dir, "lineitem")
    out = salted_agg(li, "l_returnflag", "l_quantity", n_salts=8, salt_src="l_orderkey")
    return out.select(
        "l_returnflag", F.round(F.col("total"), 2).alias("total"), "n"
    )


# ---------------------------------------------------------------------------
# Key-skew salting planner (the diagnostic that sizes the mitigation)
# ---------------------------------------------------------------------------

ROWS_PER_SALT = 500  # target rows per (key, salt) shard


@register(
    "key_skew_salting_plan",
    oracle=f"""
        WITH k AS (
            SELECT o_custkey AS custkey, count(*) AS n_rows
            FROM orders GROUP BY 1
        ),
        t AS (
            SELECT CAST(sum(n_rows) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_keys
            FROM k
        )
        SELECT CAST(custkey AS BIGINT) AS custkey,
               CAST(n_rows AS BIGINT) AS n_rows,
               ROUND(n_rows / CAST(total AS DOUBLE), 6) AS share,
               ROUND(n_rows * n_keys / CAST(total AS DOUBLE), 6) AS x_mean,
               CAST(greatest(1, ceil(n_rows / {ROWS_PER_SALT}.0)) AS BIGINT)
                   AS n_salts
        FROM k CROSS JOIN t
        ORDER BY n_rows DESC, custkey
        LIMIT 20
    """,
    tags=("skew", "planner", "extension"),
)
def q_key_skew_salting_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic + salting plan for the orders⋈customer join key:
    the 20 heaviest customer keys with their row share, multiple of the
    mean key weight, and the salt fan-out (⌈rows/500⌉) a salted join
    would give each one — the planner output that turns "the join is
    skewed" into an executable mitigation (feeds ``salted_join``'s
    n_salts). AQE's skew-join split handles partition-level skew at
    runtime; this is the KEY-level census you consult when one key
    alone exceeds an executor (AQE cannot split a single key's hash
    group — only salting can). One grouped count + a TakeOrdered
    top-20; the totals row is a broadcast scalar."""
    from pyspark.storagelevel import StorageLevel

    orders = read_table(spark, sf_dir, "orders")
    # persist: the grouped frame feeds both the scalar totals aggregate
    # and the crossJoin — without a materialization point the orders
    # groupBy shuffle runs twice (round-9 ADVICE)
    k = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").alias("n_rows")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tot = k.agg(
        F.sum("n_rows").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    return (
        k.crossJoin(F.broadcast(tot))
        .select(
            F.col("custkey").cast("long").alias("custkey"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") / F.col("total").cast("double"), 6).alias("share"),
            F.round(
                F.col("n_rows") * F.col("n_keys") / F.col("total").cast("double"), 6
            ).alias("x_mean"),
            F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.col("n_rows") / F.lit(float(ROWS_PER_SALT))).cast("long"),
            ).alias("n_salts"),
        )
        .orderBy(F.desc("n_rows"), "custkey")
        .limit(20)
    )
