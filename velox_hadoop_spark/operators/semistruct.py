"""Semi-structured / collection-codec breadth, round 6 continuation.
[extension]

The map-column and codec functions a pipeline touches when its payload
is not flat: MAP construction / transformation / filtering / explosion
(``map_from_entries``, ``transform_values``, ``map_filter``), key-value
string parsing (``str_to_map``), JSON and CSV round-trips through typed
structs (``to_json`` / ``from_json``, ``to_csv`` / ``from_csv``), and
URL decomposition (``parse_url``).

Oracle strategy: Spark exercises the codec (build → transform → parse
back → flatten), the oracle computes the same RESULT directly from the
flat columns — a round-trip identity is exactly what these functions
must preserve, so the direct SQL is the correct reference and the
output stays flat (the registry lint rejects nested oracle outputs).
All queries are single-shuffle aggregations; the codec work itself is
per-row JVM expression evaluation with no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


@register(
    "map_functions_orders",
    oracle="""
        WITH cell AS (
            SELECT o_orderpriority AS priority, o_orderstatus AS status,
                   count(*) AS n
            FROM orders GROUP BY 1, 2
        ),
        width AS (
            SELECT priority, CAST(count(*) AS BIGINT) AS n_statuses
            FROM cell GROUP BY priority
        )
        SELECT c.priority, c.status,
               CAST(c.n * 2 AS BIGINT) AS n_doubled,
               w.n_statuses
        FROM cell c JOIN width w ON w.priority = c.priority
        WHERE c.n * 2 >= 10
    """,
    tags=("functions", "map", "extension"),
)
def q_map_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-column pipeline over orders: per-priority status→count map
    built with ``map_from_entries(collect_list(struct))``, doubled with
    ``transform_values``, thresholded with ``map_filter``, measured
    with ``size``/``map_keys``, and flattened back to rows with
    ``explode`` — the full life cycle of a map column, verified against
    the flat GROUP BY it must round-trip to.

    The map is bounded by the status domain (3 keys), so per-row map
    ops never grow with SF; the only shuffles are the two counts."""
    cell = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(F.count("*").alias("n"))
    )
    mapped = (
        cell.groupBy("priority")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("status", "n")))
            ).alias("m")
        )
        .withColumn("n_statuses", F.size(F.map_keys(F.col("m"))).cast("long"))
        .withColumn(
            "m2", F.transform_values(F.col("m"), lambda _, v: v * 2)
        )
        .withColumn("mf", F.map_filter(F.col("m2"), lambda _, v: v >= 10))
    )
    return mapped.select(
        "priority", "n_statuses", F.explode("mf").alias("status", "n_doubled")
    ).select("priority", "status", F.col("n_doubled").cast("long"), "n_statuses")


@register(
    "str_to_map_roundtrip",
    oracle="""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               count(*) AS n
        FROM orders
        GROUP BY 1, 2
    """,
    tags=("functions", "map", "parsing", "extension"),
)
def q_str_to_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``str_to_map`` round-trip: serialize each order's (status,
    priority) into a ``k=v;k=v`` string, parse it back with
    ``str_to_map``, read both keys with ``element_at``, and aggregate —
    must equal the flat GROUP BY. The parse is per-row JVM expression
    work; one shuffle total."""
    o = read_table(spark, sf_dir, "orders")
    line = F.concat(
        F.lit("status="),
        F.col("o_orderstatus"),
        F.lit(";prio="),
        F.col("o_orderpriority"),
    )
    m = F.expr("str_to_map(line, ';', '=')")
    return (
        o.select(line.alias("line"))
        .select(m.alias("m"))
        .select(
            F.element_at("m", F.lit("status")).alias("status"),
            F.element_at("m", F.lit("prio")).alias("priority"),
        )
        .groupBy("status", "priority")
        .agg(F.count("*").alias("n"))
    )


@register(
    "json_struct_roundtrip",
    oracle="""
        SELECT o_orderstatus AS status,
               count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 1000000
        GROUP BY 1
    """,
    tags=("functions", "json", "extension"),
)
def q_json_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``to_json`` → ``from_json`` round-trip: each order serialized to
    a JSON object, parsed back with an explicit schema, then filtered
    and aggregated on the PARSED fields only — the codec identity the
    direct SQL verifies. Money rides as integer cents inside the JSON
    so the round-trip never touches float formatting."""
    o = read_table(spark, sf_dir, "orders")
    js = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("s"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
    )
    parsed = o.select(js.alias("js")).select(
        F.from_json("js", "k long, s string, c long").alias("p")
    )
    return (
        parsed.where(F.col("p.c") > 1_000_000)
        .groupBy(F.col("p.s").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum("p.c").alias("cents"),
        )
    )


@register(
    "csv_line_roundtrip",
    oracle="""
        SELECT o_orderpriority AS priority,
               count(*) AS n,
               CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM orders
        GROUP BY 1
    """,
    tags=("functions", "csv", "extension"),
)
def q_csv_line_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``to_csv`` → ``from_csv`` round-trip with a non-default
    delimiter: each order rendered as one pipe-separated line, parsed
    back with an explicit schema + ``sep`` option, aggregated on the
    parsed fields. The in-plan twin of the file-level TSV round-trip in
    ``sources/multisource.py`` (same malformed-row stance: a parse
    failure yields NULL fields, which the aggregate would surface as a
    phantom group — the identity check makes that visible)."""
    o = read_table(spark, sf_dir, "orders")
    line = F.to_csv(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("p"),
        ),
        {"sep": "|"},
    )
    parsed = o.select(line.alias("line")).select(
        F.from_csv("line", "k long, p string", {"sep": "|"}).alias("r")
    )
    return parsed.groupBy(F.col("r.p").alias("priority")).agg(
        F.count("*").alias("n"),
        F.max("r.k").alias("max_key"),
    )


@register(
    "parse_url_events",
    oracle="""
        SELECT 'shop.example.com' AS host,
               '/' || event_type || '/item' AS path,
               count(*) AS n,
               CAST(sum(user_id) AS BIGINT) AS uid_sum
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1, 2
    """,
    tags=("functions", "url", "extension"),
)
def q_parse_url_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``parse_url`` decomposition: each event rendered as a URL
    (path from the event type, the user id as a query parameter), then
    HOST / PATH / the ``uid`` query value parsed back out and
    aggregated — the clickstream-log shape where the URL is the only
    carrier of structure. The uid comes back as a string; the
    round-trip sum proves the cast chain is lossless."""
    e = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    url = F.concat(
        F.lit("https://shop.example.com/"),
        F.col("event_type"),
        F.lit("/item?uid="),
        F.col("user_id").cast("string"),
    )
    u = e.select(url.alias("url")).select(
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("uid"))
        .cast("long")
        .alias("uid"),
    )
    return u.groupBy("host", "path").agg(
        F.count("*").alias("n"),
        F.sum("uid").alias("uid_sum"),
    )
