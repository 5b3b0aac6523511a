"""Time-series operators, round 6. [extension]

The scale-safe banded interval join (the production refinement of
``interval_overlap_pairs``), time-weighted averaging, forward as-of
join, a watermark/late-data accounting batch twin for the streaming
surface, session-length distribution, and per-source freshness SLAs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register

_OVERLAP_US = 300_000_000  # 5 minutes in microseconds (shared with
# interval_overlap_pairs — the banded variant must answer identically)


@register(
    "interval_overlap_pairs_banded",
    oracle="""
        WITH iv AS (
            SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events
        )
        SELECT a.user_id, count(*) AS n_overlapping
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id
         AND a.event_id < b.event_id
         AND abs(a.t_us - b.t_us) < 300000000
        GROUP BY a.user_id
    """,
    tags=("timeseries", "interval-join", "banded", "extension"),
)
def q_interval_overlap_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe refinement of ``interval_overlap_pairs``: instead
    of an equi-join on user_id alone (per-key quadratic — a hot user
    with 10^6 events makes 10^12 residual comparisons), the join key is
    (user_id, time bucket) where the bucket width equals the overlap
    window. Side B explodes each event to its bucket and both
    neighbors, so every |Δt| < width pair meets in EXACTLY the bucket
    of side A's event (bucket(b) can differ from bucket(a) by at most
    1) — counted once, no dedup needed. Residual work per task is now
    bounded by events-per-(user, 5-minute bucket), not events-per-user.
    The oracle is the plain interval join: the banding is a physical
    optimization and must not change the answer."""
    iv = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    width = F.lit(_OVERLAP_US).cast("long")
    a = iv.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("t_us").alias("a_us"),
        (F.col("t_us") / width).cast("long").alias("bucket"),
    )
    b = iv.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_id"),
        F.col("t_us").alias("b_us"),
        F.explode(
            F.array(
                (F.col("t_us") / width).cast("long") - 1,
                (F.col("t_us") / width).cast("long"),
                (F.col("t_us") / width).cast("long") + 1,
            )
        ).alias("b_bucket"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("bucket") == F.col("b_bucket"))
        & (F.col("a_id") < F.col("b_id"))
        & (F.abs(F.col("a_us") - F.col("b_us")) < width),
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_overlapping"))


@register(
    "time_weighted_avg_value",
    oracle="""
        WITH iv AS (
            SELECT user_id, epoch_us(ts) AS t_us,
                   CAST(round(value * 10000) AS BIGINT) AS v_fp,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_us
            FROM events
        ),
        agg AS (
            -- HUGEINT product: v_fp (≤ ~5e6) times a month-long gap in
            -- MICROS (~2.6e12) bounds a single interval at ~1.3e19 >
            -- int64 — DuckDB threw on the BIGINT multiply while Spark
            -- wrapped silently (round-9 review find; measured 20% of
            -- int64 consumed at sf0.01 already)
            SELECT user_id,
                   sum(CAST(v_fp AS HUGEINT) * (next_us - t_us)) AS wsum,
                   CAST(max(next_us) - min(t_us) AS BIGINT) AS span_us
            FROM iv WHERE next_us IS NOT NULL
            GROUP BY user_id
        )
        SELECT user_id,
               round(CAST(wsum AS DOUBLE) / span_us / 10000.0, 6) AS twa_value
        FROM agg WHERE span_us > 0
    """,
    tags=("timeseries", "time-weighted", "extension"),
)
def q_time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the step function each user's event
    values trace: Σ value_i · (t_{i+1} − t_i) / (t_last − t_first).
    Values ride 4-dp fixed-point integers and times integer micros, so
    the weighted sum is EXACT in any summation order (a raw double
    Σ(v·Δt) would hash-differ between engines on large users); one
    window + one grouped aggregate, both keyed on user_id — a single
    shuffle. The span is max(next_us) − min(t_us) over the weighted
    rows = t_last − t_first exactly (the last weighted row's next_us
    IS t_last; a max(t_us) here would stop one interval short and
    inflate the average). Single-event users (no interval, zero-width
    step function) are excluded by contract."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.round(F.col("value") * 10000).cast("long").alias("v_fp"),
        F.lead(F.unix_micros(F.col("ts").cast("timestamp"))).over(w).alias("next_us"),
    )
    agg = (
        iv.where(F.col("next_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                F.col("v_fp").cast("decimal(38,0)")
                * (F.col("next_us") - F.col("t_us"))
            ).alias("wsum"),
            (F.max("next_us") - F.min("t_us")).alias("span_us"),
        )
    )
    return agg.where(F.col("span_us") > 0).select(
        "user_id",
        F.round(
            F.col("wsum").cast("double") / F.col("span_us") / 10000.0, 6
        ).alias("twa_value"),
    )


@register(
    "asof_join_forward",
    oracle="""
        WITH views AS (
            SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'view'
        ),
        purch AS (
            SELECT user_id, ts, max(value) AS p_value FROM events
            WHERE event_type = 'purchase' GROUP BY user_id, ts
        )
        SELECT v.event_id, v.user_id, v.ts, v.value,
               (SELECT p.p_value FROM purch p
                WHERE p.user_id = v.user_id AND p.ts >= v.ts
                ORDER BY p.ts ASC, p.p_value DESC LIMIT 1) AS next_purchase_val
        FROM views v
    """,
    tags=("timeseries", "asof-join", "forward", "extension"),
)
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each view, the value of the user's next
    purchase at-or-after the view timestamp — the mirror of the
    backward as-of (``asof_join_events``), implemented with the same
    tagged-union + fill window run BACKWARD (last→first): one shuffle
    on the key, linear in rows, no correlated lookup per row. Purchase
    rows are pre-deduped per (user, ts) by max value, pinning the
    same-(key, ts) tie exactly as the backward kernel does."""
    ev = read_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("p_value"))
    )
    l = views.withColumn("__tag", F.lit(1)).withColumn(
        "__pv", F.lit(None).cast("double")
    )
    r = purch.select(
        "user_id",
        F.col("ts"),
        F.lit(0).alias("__tag"),
        F.col("p_value").alias("__pv"),
    ).withColumn("event_id", F.lit(None).cast("long")).withColumn(
        "value", F.lit(None).cast("double")
    )
    unioned = l.select("event_id", "user_id", "ts", "value", "__tag", "__pv").unionByName(
        r.select("event_id", "user_id", "ts", "value", "__tag", "__pv")
    )
    # Backward fill: order DESC so "next at-or-after" becomes "last seen
    # so far". At equal ts the purchase row must be visible to the view
    # row → purchases (tag 0) sort before views (tag 1) descending-wise
    # via __tag ASC; ties between purchases at the same ts are pre-
    # collapsed above.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("__tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "__tag",
        F.last("__pv", ignorenulls=True).over(w).alias("next_purchase_val"),
    )
    return filled.where(F.col("__tag") == 1).drop("__tag")


@register(
    "watermark_late_accounting",
    oracle="""
        WITH arr AS (
            SELECT event_id, ts, epoch_us(ts) AS t_us,
                   max(epoch_us(ts)) OVER (
                       ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - 600000000 AS wm_us
            FROM events
        )
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
               count(*) AS n_total,
               count(*) FILTER (WHERE t_us < wm_us) AS n_late_dropped,
               count(*) FILTER (WHERE t_us >= wm_us) AS n_kept
        FROM arr GROUP BY 1
    """,
    tags=("streaming", "watermark", "batch-twin", "extension"),
)
def q_watermark_late_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark / late-data accounting, batch twin: replay events in
    arrival order (event_id — the generator's ingestion order), carry
    the running max event time minus a 10-minute delay as the
    watermark, and report per tumbling hour how many events a
    streaming job WOULD have dropped as too-late vs kept. This is the
    sizing report you run before picking ``withWatermark``'s delay.

    Scale shape: the running max is a GLOBAL prefix scan, computed in
    two staged passes instead of one single-partition window — (1)
    per-arrival-bucket max (1M-event buckets, an ordinary grouped
    agg), (2) exclusive prefix max ACROSS buckets via a window over
    |data|/1M rows (a million-fold reduction; ~10⁶ rows even at 10¹²
    events), joined back UNHINTED — AQE broadcasts the fold table
    while it is small and falls back to a shuffle join at extreme
    scale — and folded with the within-bucket running max (window
    keyed on bucket — partition-parallel). The oracle states the
    plain global window; the staged plan must answer identically."""
    ev = read_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    bucket = (F.col("event_id") / 1_000_000).cast("long")
    base = ev.select(
        "event_id",
        "ts",
        t_us.alias("t_us"),
        bucket.alias("__bkt"),
    )
    # stage 1: per-bucket max arrival-time
    bmax = base.groupBy("__bkt").agg(F.max("t_us").alias("__bmax"))
    # stage 2: exclusive prefix max over buckets (|buckets| rows)
    wb = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    prior = bmax.select(
        "__bkt", F.max("__bmax").over(wb).alias("__prior")
    )
    # stage 3: within-bucket running max (keyed window), folded with the
    # prior-bucket max => exact global running max in arrival order
    wi = (
        Window.partitionBy("__bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = (
        base.join(prior, "__bkt")
        .select(
            "event_id",
            "ts",
            "t_us",
            # greatest() skips NULLs: __prior is NULL only for the first
            # bucket, where the within-bucket running max alone is exact
            F.greatest(F.max("t_us").over(wi), F.col("__prior")).alias("__runmax"),
        )
        .withColumn("wm_us", F.col("__runmax") - F.lit(600_000_000))
    )
    return run.groupBy(
        F.date_trunc("hour", "ts").alias("win_start")
    ).agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("t_us") < F.col("wm_us"), 1)).alias("n_late_dropped"),
        F.count(F.when(F.col("t_us") >= F.col("wm_us"), 1)).alias("n_kept"),
    )


@register(
    "session_length_histogram",
    oracle="""
        WITH marks AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sess_id
            FROM marks
        ),
        lengths AS (
            SELECT user_id, sess_id,
                   (epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000 AS mins
            FROM sess GROUP BY user_id, sess_id
        )
        SELECT CAST(least(floor(mins / 5), 6) AS BIGINT) AS bucket_5min,
               count(*) AS n_sessions
        FROM lengths GROUP BY 1
    """,
    tags=("timeseries", "sessionization", "histogram", "extension"),
)
def q_session_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution: 10-minute-gap sessions (the
    events_session_10m rule), bucketed into 5-minute duration bands
    with a capped tail (≥30 min). Duration math rides integer micros;
    the bucket index is exact integer floor-division, so band
    membership cannot wobble in double. Both windows order by
    (ts, event_id) — the repo's documented sessionization tiebreak: a
    ts-only ROWS frame would make session membership of same-timestamp
    events partition-order-dependent."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    marks = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                t_us - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
                > 600_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marks.select(
        "user_id", "ts", F.sum("new_sess").over(ws).alias("sess_id")
    )
    lengths = sess.groupBy("user_id", "sess_id").agg(
        (
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            / 60_000_000
        ).alias("mins")
    )
    return lengths.groupBy(
        F.least(F.floor(F.col("mins") / 5), F.lit(6)).cast("long").alias("bucket_5min")
    ).agg(F.count("*").alias("n_sessions"))


@register(
    "data_freshness_sla",
    oracle="""
        WITH per_type AS (
            SELECT event_type, max(ts) AS latest_ts, count(*) AS n_events
            FROM events GROUP BY event_type
        ),
        g AS (SELECT max(ts) AS global_max FROM events)
        SELECT p.event_type, p.latest_ts, p.n_events,
               CAST(floor((epoch_us(g.global_max) - epoch_us(p.latest_ts)) / 60000000) AS BIGINT)
                   AS lag_minutes,
               ((epoch_us(g.global_max) - epoch_us(p.latest_ts)) / 60000000 <= 60)
                   AS sla_ok
        FROM per_type p CROSS JOIN g
    """,
    tags=("ops", "freshness", "sla", "extension"),
)
def q_data_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness SLA: each event type's latest timestamp,
    its lag behind the globally freshest event (integer minutes), and
    a 60-minute SLA verdict. The global max is a 1-row broadcast
    scalar; per-type stats are one grouped aggregate — the monitoring
    query every ingestion pipeline runs."""
    ev = read_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"), F.count("*").alias("n_events")
    )
    g = ev.agg(F.max("ts").alias("global_max"))
    lag_min = (
        (
            F.unix_micros(F.col("global_max").cast("timestamp"))
            - F.unix_micros(F.col("latest_ts").cast("timestamp"))
        )
        / 60_000_000
    )
    return per_type.crossJoin(F.broadcast(g)).select(
        "event_type",
        "latest_ts",
        "n_events",
        # explicit floor: a bare double→BIGINT cast TRUNCATES in Spark
        # but ROUNDS in DuckDB — floor() pins one rule in both engines
        F.floor(lag_min).cast("long").alias("lag_minutes"),
        (lag_min <= 60).alias("sla_ok"),
    )
