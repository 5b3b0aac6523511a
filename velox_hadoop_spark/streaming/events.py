"""Event-stream surface: tumbling/sliding/session windows, watermarked
dedup, JSON prop extraction. [extension — reference is batch-only]

The reference has no streaming (SURVEY §2.10). Spark's window
expressions are batch/stream agnostic, so each operator here is
registered as a batch query (oracle-checkable by the driver) AND usable
under Structured Streaming via the ``stream_*`` helpers (exercised with
an availableNow trigger in tests).

Scale notes: watermarks bound state for unbounded streams; session
windows shuffle once on the user key; dedup-by-key keeps one row of
state per key within the watermark horizon
(``dropDuplicatesWithinWatermark``). In batch form every query is a
single hash-agg or window over one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# --------------------------- batch/stream transforms ---------------------------


def _sum_value_cents():
    """Exact integer-cents value total — see functions/money.py (the
    ONE home of the rule both engines' forms interpolate from)."""
    from velox_hadoop_spark.functions.money import sum_money_cents

    return sum_money_cents("value")


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            _sum_value_cents().alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"), _sum_value_cents().alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


def session_agg(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Per-user session windows (gap-based). Output uses min/max event
    times (not the gap-padded window end) for engine portability."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            _sum_value_cents().alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


def dedup_first_per_key(events: DataFrame) -> DataFrame:
    """Batch twin of dropDuplicatesWithinWatermark: deterministic first
    event per (user, type) — earliest ts, then lowest event_id."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts", "value")
    )


# --------------------------- streaming runners ---------------------------


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of event parquet (micro-batch per file group).

    ``max_files_per_trigger`` pins the source's per-micro-batch rate
    limit explicitly (availableNow honors it): tests pass 1 to force a
    multi-batch drain, and the dedup runner pins a value far above any
    file count so its one-row-per-key oracle is sound BY CONSTRUCTION
    rather than by the current default batching (round-12 advice —
    ``dropDuplicatesWithinWatermark`` state is evicted once the
    watermark passes, so under a multi-batch drain a key recurring
    beyond the horizon legitimately re-emits). None leaves the source
    default untouched.

    Handles the same TIMESTAMP(NANOS) seam as ``catalog.read_table``:
    the canonical events.parquet stores ns timestamps, which Spark's
    reader rejects under a TimestampType schema. A pyarrow footer
    probe (``catalog.ts_stored_as_nanos`` — no Spark conf involved)
    decides the shape — ns sources stream ``ts`` as long and truncate
    to µs in-plan, µs sources stream with the declared schema and
    leave session state untouched. The legacy ``nanosAsLong`` conf is
    set only on the ns branch, where it must persist: every micro-
    batch re-reads files lazily for the stream's whole life, so
    restoring the conf here would break the scan at the first trigger.
    ``path`` is a parquet file or a directory of part files, streamed
    where it lies: Spark's file-stream source rejects a bare file
    (``basePath`` must be a directory), so the stream reads a glob
    that matches only ``path`` itself (``…/events.parque[t]``). The
    footer probe reads the real path — given the glob string it would
    fail to open it and take the µs branch.
    """
    from velox_hadoop_spark.catalog import ts_stored_as_nanos

    def _opts(reader):
        if max_files_per_trigger is not None:
            return reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader

    only_path = f"{path[:-1]}[{path[-1]}]"
    if ts_stored_as_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        long_ts = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.LongType())
                for f in EVENT_SCHEMA.fields
            ]
        )
        raw = _opts(spark.readStream.schema(long_ts)).parquet(only_path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return _opts(spark.readStream.schema(EVENT_SCHEMA)).parquet(only_path)


def stream_tumbling_counts(stream: DataFrame) -> DataFrame:
    return tumbling_agg(stream.withWatermark("ts", "2 hours"), "1 hour")


def stream_dedup(stream: DataFrame) -> DataFrame:
    return stream.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def run_available_now(stream_df: DataFrame, query_name: str, output_mode: str = "complete"):
    """Drain the source with an availableNow trigger into a memory sink."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------- registered queries ---------------------------


@register(
    "events_tumbling_1h",
    oracle="""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               count(*) AS n,
               ROUND(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("streaming", "window", "extension"),
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(read_table(spark, sf_dir, "events"))


@register(
    "events_sliding_10m5m",
    oracle="""
        WITH expanded AS (
            SELECT time_bucket(INTERVAL '5 minutes', ts)
                       - k * INTERVAL '5 minutes' AS window_start,
                   value
            FROM events
            CROSS JOIN UNNEST([0, 1]) AS t(k)
        )
        SELECT window_start, count(*) AS n,
               ROUND(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value
        FROM expanded
        GROUP BY window_start
    """,
    tags=("streaming", "window", "extension"),
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in 2 windows."""
    return sliding_agg(read_table(spark, sf_dir, "events"))


@register(
    "events_session_10m",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             >= INTERVAL '10 minutes' OR
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        numbered AS (
            -- (ts, event_id) like the flagged CTE: ts alone leaves
            -- same-timestamp rows in arbitrary order, so a new_session
            -- flag could sum into the wrong session at scale
            SELECT *, sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) AS session_end,
               count(*) AS n_events,
               ROUND(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value
        FROM numbered
        GROUP BY user_id, session_id
    """,
    tags=("streaming", "session", "extension"),
)
def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (10-minute inactivity closes a session)."""
    return session_agg(read_table(spark, sf_dir, "events"))


@register(
    "events_dedup_first",
    oracle="""
        SELECT event_id, user_id, event_type, ts, value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type ORDER BY ts, event_id
            ) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    tags=("streaming", "dedup", "extension"),
)
def q_events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_first_per_key(read_table(spark, sf_dir, "events"))


@register(
    "events_from_json_struct",
    oracle="""
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
               count(*) AS n
        FROM events
        GROUP BY 1, 2
    """,
    tags=("streaming", "json", "from_json", "extension"),
)
def q_events_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-full JSON parsing: from_json into a typed struct column
    (vs the path-extraction form in events_json_props)."""
    events = read_table(spark, sf_dir, "events")
    parsed = events.withColumn(
        "p", F.from_json("props", T.StructType([T.StructField("k", T.IntegerType())]))
    )
    return parsed.groupBy(
        "event_type", (F.col("p.k") % 10).alias("k_bucket")
    ).agg(F.count("*").alias("n"))


@register(
    "events_json_props",
    oracle="""
        SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
               count(*) AS n,
               ROUND(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value,
               max(value) AS max_value
        FROM events
        GROUP BY 1
    """,
    tags=("streaming", "json", "extension"),
)
def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + grouped aggregate (F.get_json_object)."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"), "value"
        )
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            # min/max of 2-dp doubles are exact SELECTIONS; the total is
            # an exact integer-cent fold (a double SUM does not
            # round-trip — the round-10 money rule)
            _sum_value_cents().alias("total_value"),
            F.max("value").alias("max_value"),
        )
    )


def enrich_with_segment(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment: events joined to the customer dimension,
    rolled up per market segment. The dimension is SF-proportional
    (~1.5B customers at 100 TB), so the join strategy is left to the
    planner — broadcast when the dim fits the threshold, shuffled
    stream-static join otherwise — rather than force-broadcasting a
    table that grows with the data.

    Works identically on a batch frame and a readStream frame — the
    standard Spark pattern for dimension enrichment of an event feed.
    """
    dim = customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    return (
        events.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            _sum_value_cents().alias("total_value"),
        )
    )


@register(
    "events_segment_enriched",
    oracle="""
        SELECT c.c_mktsegment,
               count(*) AS n_events,
               ROUND(CAST(sum(CAST(round(e.value * 100) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "stream-static-join", "extension"),
)
def q_events_segment_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event feed enriched with the customer dimension, per-segment
    rollup (batch form; the streaming runner joins the same dim against
    readStream — see test_stream_static_join_matches_batch)."""
    return enrich_with_segment(
        read_table(spark, sf_dir, "events"), read_table(spark, sf_dir, "customer")
    )


def click_to_purchase(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Event-to-event interval join: each click paired with the same
    user's purchases within 10 minutes after it.

    Works on batch frames directly; on streams, add ``withWatermark`` to
    BOTH sides (see test_stream_stream_join_matches_batch) and Spark
    bounds the join state to the watermark+interval horizon — the
    stream-stream join shape for funnel/attribution at scale.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (c["user_id"] == p["user_id"])
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 minutes")),
    ).select("click_id", "purchase_id", c["user_id"].alias("user_id"), "click_ts", "purchase_ts")


@register(
    "events_click_to_purchase",
    oracle="""
        SELECT a.event_id AS click_id, b.event_id AS purchase_id,
               a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTES
    """,
    tags=("streaming", "stream-stream-join", "interval-join", "extension"),
)
def q_events_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution pairs within a 10-minute horizon
    (batch form of the watermarked stream-stream interval join)."""
    ev = read_table(spark, sf_dir, "events")
    return click_to_purchase(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


@register(
    "funnel_click_to_purchase",
    oracle="""
        SELECT count(*) AS n_users,
               CAST(sum(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clicked,
               CAST(sum(CASE WHEN first_click IS NOT NULL AND first_purchase > first_click
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        FROM (
            SELECT user_id,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
            FROM events GROUP BY user_id
        )
    """,
    tags=("funnel", "behavioral", "extension"),
)
def q_funnel_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users → clicked → purchased-after-first-click.

    The behavioral-analytics shape: per-user conditional-min milestones
    in ONE aggregation pass (no joins, no windows), then a 1-row
    summary. At 100 TB: a single shuffle on user_id with map-side
    partial mins."""
    ev = read_table(spark, sf_dir, "events")
    milestones = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return milestones.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("first_click").isNotNull(), 1).otherwise(0)).alias("n_clicked"),
        F.sum(
            F.when(
                F.col("first_click").isNotNull()
                & (F.col("first_purchase") > F.col("first_click")),
                1,
            ).otherwise(0)
        ).alias("n_converted"),
    )


# ---------------------------------------------------------------------------
# REAL streaming-trigger runners: a Structured Streaming job executes
# end-to-end inside the registered query (file-stream source →
# availableNow trigger → memory sink), and the drained sink is the
# returned DataFrame. These close the one §7 surface that previously
# had execution evidence only in pytest, never under the driver gate:
# the oracle checks the STREAMING result, not a batch twin standing in
# for it.
# ---------------------------------------------------------------------------


def drain_to_memory_sink(
    spark: SparkSession, stream_df: DataFrame, output_mode: str
) -> DataFrame:
    """Start → drain (availableNow) → return the memory-sink table.

    The sink's view is dropped as soon as the returned frame holds it:
    the frame keeps the sink's rows, and the session keeps no view."""
    import uuid

    name = f"vhs_sink_{uuid.uuid4().hex[:8]}"
    q = run_available_now(stream_df, name, output_mode=output_mode)
    q.awaitTermination()
    sink = spark.table(name)
    spark.catalog.dropTempView(name)
    return sink


@register(
    "streaming_tumbling_runner",
    oracle="""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               count(*) AS n,
               ROUND(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                     / 100.0, 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("streaming", "trigger", "end-to-end", "extension"),
)
def q_streaming_tumbling_runner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation executed as a REAL
    Structured Streaming query: file-stream source over the events
    parquet, ``withWatermark('ts', '2 hours')`` + 1-hour windows,
    availableNow trigger drained to completion, complete-mode memory
    sink. The returned frame IS the streaming sink's content, so the
    DuckDB oracle verifies actual micro-batch execution (state store,
    watermark bookkeeping, sink commit) — not a batch rewrite of the
    same expression.

    At scale this exact topology runs unbounded (kafka/file source,
    append mode to a table sink, watermark evicting window state);
    availableNow is Spark's sanctioned backfill/batch-drain trigger
    for it, so the registered shape is the production job, pointed at
    a finite source."""
    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    # stream_tumbling_counts == watermark + the SHARED exact-cents
    # tumbling_agg, so the runner and the batch query cannot drift
    return drain_to_memory_sink(spark, stream_tumbling_counts(stream), "complete")


@register(
    "streaming_dedup_runner",
    oracle="""
        SELECT DISTINCT user_id, event_type, CAST(1 AS BIGINT) AS n_rows
        FROM events
    """,
    tags=("streaming", "trigger", "dedup", "end-to-end", "extension"),
)
def q_streaming_dedup_runner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication executed for real:
    ``dropDuplicatesWithinWatermark`` over the file-stream source,
    availableNow trigger, append-mode memory sink, then aggregated to
    per-key SINK ROW COUNTS. The key set is arrival-order-independent
    and equals the batch distinct (WHICH event survives per key
    follows micro-batch arrival order, so event columns stay out of
    the hashed output); the oracle pins n_rows = 1 per key, so a
    dedup regression that EMITS DUPLICATE KEYS fails the driver hash
    gate — the round-10 shape collapsed the sink with distinct() and
    could only catch missing keys (round-10 ADVICE). This is the
    exactly-once ingest-dedup topology (sink-side state keyed on the
    id within the watermark horizon) run end-to-end under the driver
    gate.

    The n_rows = 1 pin is sound only for a SINGLE-batch drain:
    ``dropDuplicatesWithinWatermark`` evicts per-key state once the
    watermark passes, so under a multi-batch drain a key recurring
    beyond the 2h horizon legitimately re-emits (and because the file
    source is not event-time-ordered, even a narrow key can straddle
    an eviction). Rather than weakening the oracle to a key-set check,
    the runner PINS the batching: ``maxFilesPerTrigger`` far above any
    possible file count of the events source guarantees
    availableNow drains in one micro-batch at any future source
    default (round-12 advice). tests/test_round12_parity.py asserts
    both the single-batch execution here and the key-set contract that
    survives a forced maxFilesPerTrigger=1 multi-batch drain."""
    stream = read_event_stream(
        spark, f"{sf_dir}/events.parquet", max_files_per_trigger=1_000_000
    )
    sink = drain_to_memory_sink(spark, stream_dedup(stream), "append")
    return sink.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_rows")
    )
