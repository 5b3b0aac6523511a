"""Scalar-function breadth, round 5: math, conditionals, timestamps,
cryptographic digests. [extension]

Completes the function-surface families started by string_functions /
date_functions / array_functions (tpch_more.py): every column is a
JVM codegen expression evaluated in the scan's projection — no UDFs,
no shuffles beyond what the query itself needs.

Float discipline: transcendental results (exp/ln/trig/pow) depend on
the engine's libm in the last ulp, so every such column is fixed to 6
decimals with the repo-standard ``floor(x*1e6 + 0.5)/1e6`` form — the
same IEEE ops in both engines, immune to the HALF_UP-vs-double
rounding split that plain round() has on exact .5 ties. sqrt is
IEEE-correctly-rounded and ships raw.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def _fix6(c: Column) -> Column:
    return F.floor(c * 1000000 + 0.5) / 1000000


_DUCK_FIX6 = "floor(({}) * 1000000 + 0.5) / 1000000"


@register(
    "math_functions",
    oracle=f"""
        SELECT l_orderkey, l_linenumber,
               sqrt(l_extendedprice) AS price_sqrt,
               {_DUCK_FIX6.format("cbrt(l_extendedprice)")} AS price_cbrt,
               {_DUCK_FIX6.format("exp(l_discount)")} AS disc_exp,
               {_DUCK_FIX6.format("ln(l_extendedprice)")} AS price_ln,
               {_DUCK_FIX6.format("log10(l_extendedprice)")} AS price_log10,
               {_DUCK_FIX6.format("log2(l_extendedprice)")} AS price_log2,
               {_DUCK_FIX6.format("pow(1 + l_discount, 3)")} AS growth_pow,
               {_DUCK_FIX6.format("sin(l_discount)")} AS disc_sin,
               {_DUCK_FIX6.format("atan2(l_discount, 0.5)")} AS disc_atan2,
               CAST(sign(l_extendedprice - 30000) AS DOUBLE) AS above_30k,
               CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_hundreds,
               CAST(ceil(l_extendedprice / 100) AS BIGINT) AS price_hundreds_up,
               round(l_extendedprice, -2) AS price_round_h
        FROM lineitem
        WHERE l_orderkey % 97 = 0
    """,
    tags=("functions", "math", "extension"),
)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function breadth: roots, exp/logs, power, trig, sign,
    floor/ceil and negative-digit rounding, on a pushed-down 1/97
    key-sampled lineitem slice."""
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 97 == 0)
    price, disc = F.col("l_extendedprice"), F.col("l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sqrt(price).alias("price_sqrt"),
        _fix6(F.cbrt(price)).alias("price_cbrt"),
        _fix6(F.exp(disc)).alias("disc_exp"),
        _fix6(F.log(price)).alias("price_ln"),
        _fix6(F.log10(price)).alias("price_log10"),
        _fix6(F.log2(price)).alias("price_log2"),
        _fix6(F.pow(disc + 1, 3)).alias("growth_pow"),
        _fix6(F.sin(disc)).alias("disc_sin"),
        _fix6(F.atan2(disc, F.lit(0.5))).alias("disc_atan2"),
        F.signum(price - 30000).alias("above_30k"),
        F.floor(price / 100).alias("price_hundreds"),
        F.ceil(price / 100).alias("price_hundreds_up"),
        F.round(price, -2).alias("price_round_h"),
    )


@register(
    "conditional_functions",
    oracle="""
        SELECT o_orderkey,
               CASE o_orderstatus WHEN 'F' THEN 'final'
                                  WHEN 'O' THEN 'open'
                                  ELSE 'other' END AS status_cat,
               nullif(o_orderstatus, 'P') AS status_or_null,
               coalesce(nullif(o_orderstatus, 'P'), 'pending') AS status_filled,
               CASE WHEN nullif(o_orderstatus, 'P') IS NOT NULL
                    THEN 'known' ELSE 'tbd' END AS nvl2_equiv,
               least(o_totalprice, 250000.0) AS price_capped,
               greatest(o_totalprice, 1000.0) AS price_floored,
               o_totalprice / nullif(o_custkey % 3, 0) AS try_div,
               CASE WHEN o_totalprice > 250000 THEN 'big' ELSE 'small' END AS bucket
        FROM orders
    """,
    tags=("functions", "conditional", "extension"),
)
def q_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-expression breadth: simple + searched CASE, nullif /
    coalesce / nvl2, least / greatest clamps, and try_divide's
    null-on-zero contract (the oracle states it as x / nullif(d, 0) —
    the ANSI equivalent). Divisors are 1, 2, or NULL, so every
    surviving quotient is an exact binary scaling — no rounding
    needed."""
    orders = read_table(spark, sf_dir, "orders")
    status = F.col("o_orderstatus")
    return orders.select(
        "o_orderkey",
        F.when(status == "F", "final")
        .when(status == "O", "open")
        .otherwise("other")
        .alias("status_cat"),
        F.nullif(status, F.lit("P")).alias("status_or_null"),
        F.coalesce(F.nullif(status, F.lit("P")), F.lit("pending")).alias("status_filled"),
        F.nvl2(F.nullif(status, F.lit("P")), F.lit("known"), F.lit("tbd")).alias("nvl2_equiv"),
        F.least(F.col("o_totalprice"), F.lit(250000.0)).alias("price_capped"),
        F.greatest(F.col("o_totalprice"), F.lit(1000.0)).alias("price_floored"),
        F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 3).alias("try_div"),
        F.when(F.col("o_totalprice") > 250000, "big").otherwise("small").alias("bucket"),
    )


@register(
    "timestamp_functions",
    oracle="""
        SELECT event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
               CAST(extract(minute FROM ts) AS BIGINT) AS m,
               CAST(extract(second FROM ts) AS BIGINT) AS s,
               strftime(ts, '%Y-%m-%d %H:%M') AS fmt,
               make_date(CAST(extract(year FROM ts) AS INTEGER),
                         CAST(extract(month FROM ts) AS INTEGER),
                         CAST(extract(day FROM ts) AS INTEGER)) AS d
        FROM events
        WHERE event_id % 53 = 0
    """,
    tags=("functions", "timestamp", "extension"),
)
def q_timestamp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-function breadth on a key-sampled event slice: epoch
    seconds (floored, matching unix_timestamp's truncation), hour
    truncation, minute/second extraction, strftime-style formatting,
    and date reconstruction from extracted fields. The UTC session
    pin (driver contract) makes epoch and formatting identical to
    DuckDB's naive timestamps."""
    ev = read_table(spark, sf_dir, "events").where(F.col("event_id") % 53 == 0)
    ts = F.col("ts")
    return ev.select(
        "event_id",
        F.unix_timestamp(ts).alias("epoch_s"),
        F.date_trunc("hour", ts).alias("hour_start"),
        F.minute(ts).cast("long").alias("m"),
        F.second(ts).cast("long").alias("s"),
        F.date_format(ts, "yyyy-MM-dd HH:mm").alias("fmt"),
        F.make_date(F.year(ts), F.month(ts), F.dayofmonth(ts)).alias("d"),
    )


@register(
    "hash_functions",
    oracle="""
        SELECT doc_id,
               md5(text) AS text_md5,
               sha256(text) AS text_sha256,
               md5(lang || '|' || text) AS keyed_md5,
               substr(md5(text), 1, 8) AS md5_prefix
        FROM documents
        WHERE doc_id % 7 = 0
    """,
    tags=("functions", "hash", "extension"),
)
def q_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-function parity: md5 and sha-256 hex (the digests the
    engine's dedup/checksum operators ride on — cross-engine equality
    here is what makes those oracles trustworthy), plus a keyed digest
    over a delimited concat and a truncated bucket prefix."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    return docs.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.md5(F.concat(F.col("lang"), F.lit("|"), F.col("text"))).alias("keyed_md5"),
        F.substring(F.md5("text"), 1, 8).alias("md5_prefix"),
    )
