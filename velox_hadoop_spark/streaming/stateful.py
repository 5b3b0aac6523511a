"""Custom stateful streaming operators via applyInPandasWithState.

NOTE: no ``from __future__ import annotations`` — state functions are
inspected by signature like pandas UDFs.

The reference has no streaming at all; this is the [extension] surface
for arbitrary per-key streaming state that windowed builtins can't
express (SURVEY §2.10). Pattern: grouped Arrow batches + an explicit
GroupState carrying a tuple, update-mode output per micro-batch.

Scale notes: state lives in the state store partitioned by key — one
shuffle on the grouping key per micro-batch; use timeouts
(ProcessingTimeTimeout/EventTimeTimeout) to expire idle keys so state
is bounded on unbounded key domains.
"""

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions.vectors import round_half_away
from velox_hadoop_spark.plans.registry import register

RUNNING_TOTALS_SCHEMA = "user_id long, n_events long, total_value double"
_STATE_SCHEMA = "n long, total double"


def _update_running_totals(key, pdfs, state: GroupState):
    # round_half_away, not Python's banker's round(): the batch twin and
    # the SQL oracle both round half away from zero, and the streamed
    # number must match them at half-cent totals.
    from velox_hadoop_spark.functions.vectors import round_half_away

    (n, total) = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "n_events": n,
                "total_value": float(round_half_away(total, 2)),
            }
        ]
    )


def stream_running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user lifetime (n_events, total_value), updated each micro-batch.

    A deliberately simple custom stateful operator: the same shape
    carries sessionization-with-side-outputs, CEP-style pattern state,
    or per-key model features.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_running_totals,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def batch_user_totals(events: DataFrame) -> DataFrame:
    """Batch form of the per-user lifetime totals through grouped-map
    applyInPandas; registering it makes the stateful surface
    hash-verifiable against a SQL oracle. (The DEMONSTRATION streaming
    kernel above keeps double accumulation and 0.0-on-all-NULL — its
    test deliberately compares it against the raw double sum; the
    DRIVER-VERIFIED streaming path is the cents runner below, whose
    end state matches this twin's exact-cents contract.)

    Round-10 money/NULL hardening (ported from the cents runner): the
    total folds EXACT integer cents (associative in any order — the
    double sum was the rounding-flip class) and a user whose values
    are ALL NULL reports a NULL total like SQL sum, not 0.00 (pandas
    ``sum`` silently skips NaN — the divergence the adversarial oracle
    check found on the runner applies here identically)."""
    from velox_hadoop_spark.functions.vectors import round_half_away

    def totals(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].dropna()
        total = (
            float(
                round_half_away(
                    int(round_half_away(v.to_numpy() * 100.0, 0).sum()) / 100.0, 2
                )
            )
            if len(v)
            else None
        )
        return pd.DataFrame(
            [
                {
                    "user_id": int(pdf["user_id"].iloc[0]),
                    "n_events": len(pdf),
                    "total_value": total,
                }
            ]
        )

    return events.groupBy("user_id").applyInPandas(totals, RUNNING_TOTALS_SCHEMA)


def _register():
    from pyspark.sql import functions as F

    from velox_hadoop_spark.plans.registry import register

    @register(
        "stateful_totals_batch_twin",
        oracle="""
            SELECT user_id, count(*) AS n_events,
                   ROUND(CAST(sum(CAST(round(value * 100) AS BIGINT))
                              AS DOUBLE) / 100.0, 2) AS total_value
            FROM events GROUP BY user_id
        """,
        tags=("streaming", "stateful", "applyInPandasWithState", "extension"),
    )
    def q_stateful_totals_batch_twin(spark, sf_dir):
        """Final state of the custom stateful operator, batch form."""
        ev = read_table(spark, sf_dir, "events").select("user_id", "value")
        return batch_user_totals(ev)


_register()


# ---------------------------------------------------------------------------
# Stateful sessionizer: 30-minute-gap sessions with one shared kernel
# for the streaming and batch forms
# ---------------------------------------------------------------------------

SESSION_GAP_MINUTES = 30
SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
SESSION_SUMMARY_SCHEMA = (
    "user_id long, n_sessions long, max_session_events long, "
    "max_session_secs long, total_value double"
)
# state carries the OPEN session as epoch-MICROseconds (GroupState tuples
# are plain scalars; integer epoch avoids tz ambiguity in the state store,
# and microseconds match the timestamp precision the SQL oracle compares
# at — flooring to millis could flip a gap decision within 1ms of the
# 30-minute boundary)
_SESSION_STATE_SCHEMA = "start_us long, last_us long, n long, total_cents long"


def _walk_sessions(ts_list, val_list, open_state):
    """Shared sessionization kernel: fold (ts, value) pairs (sorted by
    caller) into (start, last, n, total_cents) sessions split on
    >= 30-minute gaps. ``open_state`` seeds the walk; returns
    (closed, open). The running total is EXACT INTEGER CENTS (round-11
    money completion — the 2-dp value column quantizes losslessly, the
    integer sum is associative under any batch split, and the oracle
    folds the same grid), not a double accumulation."""
    gap_us = SESSION_GAP_MINUTES * 60_000_000
    closed = []
    cur = open_state  # (start_us, last_us, n, total_cents-or-None) or None
    for ts_us, v in zip(ts_list, val_list):
        # SQL-sum NULL semantics (the round-11 review's catch): a NULL /
        # NaN value contributes nothing and an all-NULL session totals
        # None, exactly like the oracle's SUM — int(NaN) would raise
        # inside the Arrow worker where the old double fold silently
        # went NaN
        f = float(v) if v is not None else float("nan")
        cents = None if f != f else int(round_half_away(f * 100.0, 0))
        if cur is not None and ts_us - cur[1] >= gap_us:
            closed.append(cur)
            cur = None
        if cur is None:
            cur = (ts_us, ts_us, 1, cents)
        else:
            t = cur[3] if cents is None else (cents if cur[3] is None else cur[3] + cents)
            cur = (cur[0], ts_us, cur[2] + 1, t)
    return closed, cur


def _us(series: pd.Series):
    """Epoch microseconds — full parquet timestamp precision, so gap
    comparisons agree bit-for-bit with the oracle's interval math."""
    return (series.astype("datetime64[ns]").astype("int64") // 1_000).tolist()


def _update_sessions(key, pdfs, state: GroupState):
    """Streaming form: emit sessions CLOSED by this batch's events; the
    still-open session stays in state for the next micro-batch.

    total_value is the session's exact integer-cent total divided once
    by 100 — lossless at 2 dp, identical under any micro-batch split,
    and matching the batch twin and oracle grid."""
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    open_state = tuple(state.get) if state.exists else None
    closed, cur = _walk_sessions(_us(pdf["ts"]), pdf["value"].tolist(), open_state)
    if cur is not None:
        state.update(cur)
    if closed:
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "session_start": pd.Timestamp(s, unit="us"),
                    "session_end": pd.Timestamp(e, unit="us"),
                    "n_events": n,
                    "total_value": t / 100.0 if t is not None else None,
                }
                for (s, e, n, t) in closed
            ]
        )


def stream_user_sessions(events: DataFrame) -> DataFrame:
    """Gap-based sessionization as a CUSTOM stateful operator — the
    semantics ``session_window`` gives you built-in, re-expressed on
    applyInPandasWithState to carry arbitrary per-session state (here
    the running value total; in production: feature vectors, pattern
    automata). One shuffle on user_id per micro-batch; idle keys would
    use EventTimeTimeout to flush their open session at the watermark —
    the availableNow test closes sessions by comparing against the
    batch twin minus each key's final (still-open) session instead.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_sessions,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def batch_user_session_summary(events: DataFrame) -> DataFrame:
    """Batch twin: the SAME kernel over each user's full history via
    grouped-map applyInPandas, rolled up to a per-user session summary
    (registered with a SQL islands oracle — the Python kernel is
    hash-verified against pure SQL)."""

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        closed, cur = _walk_sessions(_us(pdf["ts"]), pdf["value"].tolist(), None)
        sessions = closed + ([cur] if cur is not None else [])
        return pd.DataFrame(
            [
                {
                    "user_id": int(pdf["user_id"].iloc[0]),
                    "n_sessions": len(sessions),
                    "max_session_events": max(s[2] for s in sessions),
                    # second-BOUNDARY count (floor each endpoint, then
                    # diff) to match date_diff('second', ...) semantics
                    "max_session_secs": max(
                        s[1] // 1_000_000 - s[0] // 1_000_000 for s in sessions
                    ),
                    # SQL-sum over session totals: NULL sessions skip,
                    # all-NULL user reports NULL
                    "total_value": (
                        sum(vals) / 100.0
                        if (vals := [s[3] for s in sessions if s[3] is not None])
                        else None
                    ),
                }
            ]
        )

    return events.groupBy("user_id").applyInPandas(summarize, SESSION_SUMMARY_SCHEMA)


def _register_sessions():
    from velox_hadoop_spark.plans.registry import register

    @register(
        "stateful_sessions_batch_twin",
        oracle=f"""
            WITH flagged AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w
                                    >= INTERVAL '{SESSION_GAP_MINUTES} minutes'
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            numbered AS (
                SELECT *, SUM(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS sid
                FROM flagged
            ),
            sessions AS (
                SELECT user_id, sid, count(*) AS n,
                       date_diff('second', min(ts), max(ts)) AS secs,
                       SUM(CAST(round(value * 100) AS BIGINT)) AS vc
                FROM numbered GROUP BY user_id, sid
            )
            SELECT user_id,
                   count(*) AS n_sessions,
                   max(n) AS max_session_events,
                   CAST(max(secs) AS BIGINT) AS max_session_secs,
                   CAST(SUM(vc) AS DOUBLE) / 100.0 AS total_value
            FROM sessions GROUP BY user_id
        """,
        tags=("streaming", "stateful", "sessionization", "extension"),
    )
    def q_stateful_sessions_batch_twin(spark, sf_dir):
        """Final per-user session summary from the shared kernel."""
        ev = read_table(spark, sf_dir, "events").select(
            "user_id", "event_id", "ts", "value"
        )
        return batch_user_session_summary(ev)


_register_sessions()


# ---------------------------------------------------------------------------
# transformWithStateInPandas form (the arbitrary-state API that
# supersedes applyInPandasWithState in Spark 4)
# ---------------------------------------------------------------------------

EXTREMES_SCHEMA = "user_id long, n_events long, max_value double"


def stream_user_extremes_tws(events: DataFrame) -> DataFrame:
    """Per-user lifetime (count, max value) on the transformWithState
    API: explicit ValueState handles from a StatefulProcessor — the
    Spark-4 replacement for the tuple-state applyInPandasWithState
    surface above (same state-store partitioning and shuffle shape,
    but typed state primitives and timer support). Equivalence with
    the plain batch aggregate is asserted in tests; no separate
    registry entry — the SEMANTICS are already oracle-covered by
    ``stateful_totals_batch_twin``'s family, this covers the API.

    Environment note: the transformWithState driver worker needs
    ``google.protobuf`` at runtime; the equivalence test import-skips
    when it is absent (this container), so the operator is a documented
    seam there — the code path is real and runs wherever protobuf is
    installed.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from velox_hadoop_spark.functions.vectors import round_half_away

    class Extremes(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("extremes", "n long, mx double")

        def handleInputRows(self, key, rows, timerValues):
            n, mx = self._state.get() if self._state.exists() else (0, float("-inf"))
            for pdf in rows:
                n += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            self._state.update((n, mx))
            yield pd.DataFrame(
                [{"user_id": key[0], "n_events": n, "max_value": round_half_away(mx, 2)}]
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        Extremes(),
        outputStructType=EXTREMES_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# REAL stateful streaming-trigger runner: applyInPandasWithState executes
# under an availableNow trigger inside the registered query — the
# stateful twin of events.py's streaming runners, closing the last §7
# surface whose execution evidence was pytest-only.
# ---------------------------------------------------------------------------

_CENTS_TOTALS_SCHEMA = "user_id long, n_events long, nv long, vc_sum long"
_CENTS_STATE_SCHEMA = "n long, nv long, vc long"


def _update_running_totals_cents(key, pdfs, state: GroupState):
    """Per-user lifetime (count, non-null count, Σ value in integer
    cents) — integer state so the streaming accumulation is EXACTLY
    associative: the state-store merge order across micro-batches
    cannot move a half-cent boundary (the double-state kernel above is
    fine for its batch-twin contract; the driver-verified runner rides
    cents). ``nv`` tracks non-null values so the final projection can
    reproduce SQL sum semantics — a user whose values are ALL NULL
    must report a NULL total, not 0.00 (an all-NULL user diverged the
    oracle in the round-10 review's adversarial check)."""
    from velox_hadoop_spark.functions.vectors import round_half_away

    (n, nv, vc) = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        n += len(pdf)
        v = pdf["value"].dropna()
        if len(v):
            nv += len(v)
            vc += int(round_half_away(v.to_numpy() * 100.0, 0).sum())
    state.update((n, nv, vc))
    yield pd.DataFrame(
        [{"user_id": key[0], "n_events": n, "nv": nv, "vc_sum": vc}]
    )


def stream_running_user_totals_cents(events: DataFrame) -> DataFrame:
    return events.groupBy("user_id").applyInPandasWithState(
        _update_running_totals_cents,
        outputStructType=_CENTS_TOTALS_SCHEMA,
        stateStructType=_CENTS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "streaming_stateful_totals_runner",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               ROUND(CAST(sum(CAST(round(value * 100) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS total_value
        FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "trigger", "end-to-end", "extension"),
)
def q_streaming_stateful_totals_runner(spark, sf_dir):
    """The custom stateful operator executed FOR REAL: file-stream
    source → groupBy(user).applyInPandasWithState (integer-cents
    state, update mode) → availableNow trigger → memory sink. The
    sink holds one emitted row per (user, micro-batch that touched
    it); the final state per user is the row with the highest
    running count (n_events strictly increases on every emission),
    selected with max_by — so the returned frame is the
    deterministic end-of-stream state no matter how the source
    split into micro-batches, and the DuckDB oracle verifies the
    actual state-store execution path (shuffle to state, Arrow
    group iteration, per-batch emission, sink commit). A user whose
    values are ALL NULL reports a NULL total like SQL sum (the nv
    state column carries that distinction through the sink)."""
    from velox_hadoop_spark.streaming.events import (
        drain_to_memory_sink,
        read_event_stream,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "value"
    )
    sink = drain_to_memory_sink(spark, stream_running_user_totals_cents(stream), "update")
    final = (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("nv").alias("nv"),
            F.max_by("vc_sum", "n_events").alias("vc"),
        )
    )
    return final.select(
        "user_id",
        "n_events",
        F.when(
            F.col("nv") > 0,
            F.round(F.col("vc").cast("double") / 100.0, 2),
        ).alias("total_value"),
    )
