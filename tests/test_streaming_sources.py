"""Streaming (batch parity + real Structured Streaming run) and sources."""

import os
import tempfile

import pytest

from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions.vectors import round_half_away
from velox_hadoop_spark.sources.multisource import read_text_lines, write_tsv
from velox_hadoop_spark.streaming.events import (
    read_event_stream,
    run_available_now,
    stream_dedup,
    stream_tumbling_counts,
    tumbling_agg,
)
from scripts.local_gate import _multiset
from tests.conftest import SF_DIR, assert_parity

PARITY_QUERIES = [
    "events_tumbling_1h",
    "events_sliding_10m5m",
    "events_session_10m",
    "events_dedup_first",
    "events_json_props",
    "events_from_json_struct",
    "tsv_roundtrip_lineitem",
    "jsonl_roundtrip_orders",
    "orc_roundtrip_customer",
    "events_segment_enriched",
    "events_click_to_purchase",
    # round 10: REAL streaming-trigger runners — the registered query
    # itself drains an availableNow micro-batch job into a memory sink,
    # so this parity check verifies actual streaming execution
    "streaming_tumbling_runner",
    "streaming_dedup_runner",
    "streaming_stateful_totals_runner",
]


@pytest.mark.parametrize("name", PARITY_QUERIES)
def test_oracle_parity(spark, duck, name):
    assert_parity(spark, duck, name)


@pytest.fixture(scope="module")
def event_stream_dir(spark):
    """Materialize normalized events as a parquet dir for file-stream tests."""
    d = tempfile.mkdtemp(prefix="vhs_events_")
    read_table(spark, SF_DIR, "events").write.mode("overwrite").parquet(d)
    return d


def test_streaming_tumbling_matches_batch(spark, event_stream_dir):
    stream = read_event_stream(spark, event_stream_dir)
    assert stream.isStreaming
    q = run_available_now(
        stream_tumbling_counts(stream), "tumbling_test", output_mode="complete"
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    batch = read_table(spark, SF_DIR, "events")
    want = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in tumbling_agg(batch).collect()
    }
    assert got == want


def test_streaming_dedup_emits_unique_keys(spark, event_stream_dir):
    stream = read_event_stream(spark, event_stream_dir)
    q = run_available_now(stream_dedup(stream), "dedup_test", output_mode="append")
    q.awaitTermination(120)
    rows = spark.sql("SELECT user_id, event_type, count(*) c FROM dedup_test GROUP BY 1,2 HAVING count(*) > 1").collect()
    assert rows == []
    n_keys = spark.sql("SELECT count(*) c FROM dedup_test").first().c
    n_expected = (
        read_table(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert n_keys == n_expected


def test_read_text_lines_provenance(spark):
    d = tempfile.mkdtemp(prefix="vhs_text_")
    for name, body in [("a.txt", "x1\nx2\n"), ("b.txt", "y1\n")]:
        with open(os.path.join(d, name), "w") as f:
            f.write(body)
    df = read_text_lines(spark, [d])
    rows = df.collect()
    assert {r.value for r in rows} == {"x1", "x2", "y1"}
    assert all(r.source_file.endswith((".txt",)) for r in rows)
    by_file = df.groupBy(F.regexp_extract("source_file", r"([ab])\.txt$", 1).alias("f")).count()
    assert {(r.f, r["count"]) for r in by_file.collect()} == {("a", 2), ("b", 1)}


def test_tsv_sink_writes_tabs(spark):
    d = tempfile.mkdtemp(prefix="vhs_tsv_") + "/out"
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    write_tsv(df, d)
    files = [f for f in os.listdir(d) if f.startswith("part-")]
    assert files
    body = "".join(open(os.path.join(d, f)).read() for f in files)
    assert "1\ta" in body and "2\tb" in body


def test_tsv_roundtrip_builds_do_not_share_a_sink(spark, duck):
    """Each build of the TSV round trip writes its own sink: a second
    build in the same session must not overwrite the files the first
    build's frame still reads lazily."""
    from velox_hadoop_spark.plans import registry

    spec = registry.specs()["tsv_roundtrip_lineitem"]
    first = spec.fn(spark, SF_DIR)
    second = spec.fn(spark, SF_DIR)
    oracle = duck.sql(spec.oracle)
    want = _multiset([d[0] for d in oracle.description], oracle.fetchall())
    for df in (first, second):
        assert _multiset(df.columns, df.collect()) == want


@pytest.mark.parametrize(
    "name",
    [
        "jsonl_roundtrip_orders",
        "orc_roundtrip_customer",
        "partitioned_parquet_prune",
        "dynamic_partition_prune_join",
        "federated_format_union",
    ],
)
def test_sink_roundtrip_builds_do_not_share_a_sink(spark, duck, name):
    """The TSV contract above, for every other round-trip query: both
    frames are collected only after the second build."""
    from velox_hadoop_spark.plans import registry

    spec = registry.specs()[name]
    first = spec.fn(spark, SF_DIR)
    second = spec.fn(spark, SF_DIR)
    oracle = duck.sql(spec.oracle)
    want = _multiset([d[0] for d in oracle.description], oracle.fetchall())
    for df in (first, second):
        assert _multiset(df.columns, df.collect()) == want


def test_streaming_parquet_sink_with_checkpoint(spark, event_stream_dir):
    """File sink + checkpoint dir: the exactly-once production topology
    (memory sinks are test-only)."""
    import tempfile

    out = tempfile.mkdtemp(prefix="vhs_sink_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="vhs_ckpt_")
    stream = read_event_stream(spark, event_stream_dir)
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).count()
    want = read_table(spark, SF_DIR, "events").count()
    assert got == want
    # restart with same checkpoint: no new data -> no duplicates
    q2 = (
        read_event_stream(spark, event_stream_dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == want


def test_stream_static_join_matches_batch(spark, event_stream_dir):
    from velox_hadoop_spark.streaming.events import enrich_with_segment

    customer = read_table(spark, SF_DIR, "customer")
    stream = read_event_stream(spark, event_stream_dir)
    q = run_available_now(
        enrich_with_segment(stream, customer), "seg_test", output_mode="complete"
    )
    q.awaitTermination(120)
    got = {
        r.c_mktsegment: (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM seg_test").collect()
    }
    want = {
        r.c_mktsegment: (r.n_events, r.total_value)
        for r in enrich_with_segment(read_table(spark, SF_DIR, "events"), customer).collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark, event_stream_dir):
    """Watermarked stream-stream interval join drains to the same pairs
    as the batch join (append mode — interval joins emit once closed)."""
    from velox_hadoop_spark.streaming.events import click_to_purchase

    def split(df):
        return (
            df.where(F.col("event_type") == "click"),
            df.where(F.col("event_type") == "purchase"),
        )

    s_clicks, s_purch = split(read_event_stream(spark, event_stream_dir))
    q = run_available_now(
        click_to_purchase(
            s_clicks.withWatermark("ts", "1 hour"),
            s_purch.withWatermark("ts", "1 hour"),
        ),
        "ss_join_test",
        output_mode="append",
    )
    q.awaitTermination(180)
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_join_test").collect()
    }
    b_clicks, b_purch = split(read_table(spark, SF_DIR, "events"))
    want = {
        (r.click_id, r.purchase_id)
        for r in click_to_purchase(b_clicks, b_purch).collect()
    }
    assert got == want


def test_compact_parquet_reduces_files_preserving_rows(spark, tmp_path):
    import glob

    from velox_hadoop_spark.sources.multisource import compact_parquet

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    li = read_table(spark, SF_DIR, "lineitem")
    li.repartition(40).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*")) == 40

    n = compact_parquet(spark, src, dst, target_file_mb=128)
    out_files = glob.glob(f"{dst}/part-*")
    assert len(out_files) == n and n < 5  # few MB of data -> ~1 file
    assert spark.read.parquet(dst).count() == li.count()


def test_stream_upsert_latest_matches_batch(spark, event_stream_dir, tmp_path):
    """After draining the stream through the foreachBatch upsert sink,
    the state table holds exactly the batch latest-per-key result."""
    from velox_hadoop_spark.operators.window import latest_per_key
    from velox_hadoop_spark.streaming.upsert import stream_upsert_latest

    state = str(tmp_path / "user_state")
    q = stream_upsert_latest(
        read_event_stream(spark, event_stream_dir),
        state,
        "upsert_test",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.event_id, r.ts) for r in spark.read.parquet(state).collect()
    }
    ev = read_table(spark, SF_DIR, "events")
    want = {
        (r.user_id, r.event_id, r.ts)
        for r in latest_per_key(ev, "user_id", "ts", "event_id").collect()
    }
    assert got == want and len(got) > 0


def test_stateful_sessions_stream_matches_batch(spark, event_stream_dir):
    """The streaming sessionizer's CLOSED sessions equal the batch
    kernel's sessions minus each user's final (still-open) one."""
    import pandas as pd
    from pyspark.sql import functions as F

    from velox_hadoop_spark.catalog import read_table
    from velox_hadoop_spark.streaming.events import read_event_stream
    from velox_hadoop_spark.streaming.stateful import (
        _us,
        _walk_sessions,
        stream_user_sessions,
    )

    q = (
        stream_user_sessions(read_event_stream(spark, event_stream_dir))
        .writeStream.format("memory")
        .queryName("user_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM user_sessions").collect()
    }

    # batch reference: run the shared kernel per user on the full data
    ev = (
        read_table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
    )
    expected = set()
    for uid, pdf in ev.groupby("user_id"):
        pdf = pdf.sort_values(["ts", "event_id"])
        closed, _cur = _walk_sessions(_us(pdf["ts"]), pdf["value"].tolist(), None)
        for s, e, n, t in closed:  # open session never emitted
            expected.add(
                (
                    int(uid),
                    pd.Timestamp(s, unit="us").to_pydatetime(),
                    pd.Timestamp(e, unit="us").to_pydatetime(),
                    n,
                    # the kernel accumulates EXACT integer cents
                    # (round-11 money completion): one divide, no
                    # rounding needed — lossless at 2 dp
                    t / 100.0,
                )
            )
    assert streamed == expected
    assert len(streamed) > 0


def test_transform_with_state_matches_batch(spark, event_stream_dir):
    """transformWithStateInPandas (ValueState API): the final per-user
    (count, max) equals the batch aggregate.

    Environment gate: the transformWithState driver worker imports
    google.protobuf at runtime; without it the streaming query crashes
    before the processor runs, so the API demo is skipped (the
    applyInPandasWithState surface above stays fully exercised)."""
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import functions as F

    from velox_hadoop_spark.catalog import read_table
    from velox_hadoop_spark.streaming.events import read_event_stream
    from velox_hadoop_spark.streaming.stateful import stream_user_extremes_tws

    q = (
        stream_user_extremes_tws(read_event_stream(spark, event_stream_dir))
        .writeStream.format("memory")
        .queryName("user_extremes_tws")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {
        (r.user_id, r.n_events, r.max_value)
        for r in spark.sql(
            """
            SELECT user_id, max(n_events) AS n_events,
                   max_by(max_value, n_events) AS max_value
            FROM user_extremes_tws GROUP BY user_id
            """
        ).collect()
    }
    batch = {
        (r.user_id, r.n_events, r.max_value)
        for r in read_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
        .collect()
    }
    assert final == batch and len(final) > 0


def test_read_event_stream_handles_canonical_nanos_parquet(spark):
    """The stream reader must accept the CANONICAL events table (parquet
    TIMESTAMP(NANOS)) without a re-materialized copy: the static footer
    probe streams ts as long under the legacy conf and truncates to
    microseconds in-plan — identical timestamps to catalog.read_table."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="vhs_nanos_")
    shutil.copy(f"{SF_DIR}/events.parquet", d)
    stream = read_event_stream(spark, d)
    assert stream.isStreaming and dict(stream.dtypes)["ts"] == "timestamp"
    q = run_available_now(
        stream_tumbling_counts(stream), "tumbling_nanos", output_mode="complete"
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM tumbling_nanos").first()["n"]
    batch = tumbling_agg(read_table(spark, SF_DIR, "events")).count()
    assert got == batch > 0


def test_ts_nanos_probe_nested_schema_int96(tmp_path):
    """INT96 detection must match the parquet LEAF column by name: a
    nested column preceding ts shifts the flattened leaf indices, and
    an Arrow top-level field index would inspect the wrong leaf —
    misreading a Spark INT96 events file as TIMESTAMP(NANOS)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from velox_hadoop_spark.catalog import ts_stored_as_nanos

    t = pa.table(
        {
            "meta": pa.array(
                [{"a": 1, "b": 2}],
                type=pa.struct([("a", pa.int64()), ("b", pa.int64())]),
            ),
            "ts": pa.array([1], type=pa.timestamp("ns")),
        }
    )
    p96 = str(tmp_path / "f96.parquet")
    pq.write_table(t, p96, use_deprecated_int96_timestamps=True)
    assert not ts_stored_as_nanos(p96)  # INT96: Spark reads natively
    pns = str(tmp_path / "fns.parquet")
    pq.write_table(t, pns)
    assert ts_stored_as_nanos(pns)  # true TIMESTAMP(NANOS) annotation


def test_runner_streams_bare_nanos_events_file(spark, tmp_path):
    """A runner must stream a bare TIMESTAMP(NANOS) ``events.parquet``
    with the same timestamps as catalog.read_table. The stream reads a
    glob of the path, so the footer probe has to read the real path:
    probing the glob string fails to open it and would take the µs
    branch. Sub-µs nanos are set on every row so the in-plan ns → µs
    truncation shows in the raw drain."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from velox_hadoop_spark.catalog import ts_stored_as_nanos
    from velox_hadoop_spark.plans import registry

    t = pq.read_table(f"{SF_DIR}/events.parquet")
    ns = pc.add(t["ts"].cast(pa.timestamp("ns")).cast(pa.int64()), 789)
    t = t.set_column(
        t.schema.get_field_index("ts"), "ts", ns.cast(pa.timestamp("ns"))
    )
    src = str(tmp_path / "events.parquet")
    pq.write_table(t, src)
    assert ts_stored_as_nanos(src)

    batch = read_table(spark, str(tmp_path), "events")
    q = run_available_now(
        read_event_stream(spark, src).select("event_id", "ts"),
        "nanos_bare_raw",
        output_mode="append",
    )
    q.awaitTermination(120)
    got = {(r.event_id, r.ts) for r in spark.table("nanos_bare_raw").collect()}
    spark.catalog.dropTempView("nanos_bare_raw")
    want = {(r.event_id, r.ts) for r in batch.select("event_id", "ts").collect()}
    assert got == want and want

    runner = registry.queries()["streaming_tumbling_runner"]
    got = sorted(map(tuple, runner(spark, str(tmp_path)).collect()))
    want = sorted(map(tuple, tumbling_agg(batch).collect()))
    assert got == want and want


def test_stateful_runner_multibatch_matches_batch(spark):
    """Force ONE FILE PER MICRO-BATCH so the state store genuinely
    merges across many batches, then check the end-of-stream state
    (max_by over the update-mode emissions — n_events strictly
    increases per emission) equals the batch aggregate. This pins the
    multi-batch path the registered runner's default single-batch
    drain doesn't exercise."""
    from pyspark.sql import functions as F

    from velox_hadoop_spark.streaming.events import EVENT_SCHEMA, run_available_now
    from velox_hadoop_spark.streaming.stateful import (
        stream_running_user_totals_cents,
    )

    # own 4-file source dir: the shared fixture writes one part file
    # (single batch), which cannot exercise cross-batch state merges
    d = tempfile.mkdtemp(prefix="vhs_events_mb_")
    read_table(spark, SF_DIR, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .select("user_id", "ts", "value")
    )
    q = run_available_now(
        stream_running_user_totals_cents(stream),
        "stateful_multibatch_test",
        output_mode="update",
    )
    assert q.awaitTermination(300), "availableNow drain did not finish in 300s"
    sink = spark.table("stateful_multibatch_test")
    # several micro-batches => more emitted rows than users
    n_users = sink.select("user_id").distinct().count()
    assert sink.count() > n_users
    got = {
        (r.user_id, r.n_events, r.vc): None
        for r in sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("vc_sum", "n_events").alias("vc"),
        )
        .collect()
    }
    ev = read_table(spark, SF_DIR, "events")
    want = {
        (r.user_id, r.n_events, r.vc): None
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("vc"),
        )
        .collect()
    }
    assert got == want


def test_stateful_runner_all_null_value_user_reports_null_total(spark):
    """SQL sum semantics through the state store: a user whose event
    values are ALL NULL must report total_value = NULL (not 0.00) —
    the divergence the round-10 review's adversarial oracle check
    found before any driver corpus could."""
    from datetime import datetime

    from velox_hadoop_spark.plans.registry import queries
    import duckdb as _duckdb

    d = tempfile.mkdtemp(prefix="vhs_nulluser_")
    rows = [
        (1, 7, "view", datetime(2024, 1, 1, 10, 0, 0), None, "{}"),
        (2, 7, "view", datetime(2024, 1, 1, 11, 0, 0), None, "{}"),
        (3, 8, "view", datetime(2024, 1, 1, 10, 30, 0), 5.005, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double, properties string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in queries()["streaming_stateful_totals_runner"](spark, d).collect()
    }
    assert got[7] == (2, None)
    assert got[8][0] == 1 and abs(got[8][1] - 5.01) < 1e-9  # half-away cent
    from velox_hadoop_spark.plans.registry import oracles

    con = _duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'")
    want = {
        u: (n, t)
        for u, n, t in con.sql(oracles()["streaming_stateful_totals_runner"]).fetchall()
    }
    con.close()
    assert got == want


def test_stream_source_dir_tracks_corpus_rewrites(spark, tmp_path):
    """The runners stream ``events.parquet`` where it lies: rewriting
    the corpus at the SAME sf_dir path (the sweeps do this every run)
    must show up in the next runner call, and no copy of the source is
    left behind in the temp dir."""
    from velox_hadoop_spark.plans import registry

    runner = registry.queries()["streaming_dedup_runner"]
    sf_dir = str(tmp_path)
    ev = read_table(spark, SF_DIR, "events")
    tmp = tempfile.gettempdir()
    before = {f for f in os.listdir(tmp) if f.startswith("vhs_stream_src_")}
    for n in (10, 25):
        ev.limit(n).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")
        want = {
            (r.user_id, r.event_type)
            for r in spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id", "event_type")
            .distinct()
            .collect()
        }
        got = {(r.user_id, r.event_type) for r in runner(spark, sf_dir).collect()}
        assert got == want and want
    after = {f for f in os.listdir(tmp) if f.startswith("vhs_stream_src_")}
    assert after == before


# Queries that read ``events``: each must see the same timestamps on a
# TIMESTAMP(NANOS) copy of the corpus as on the µs original, whether or
# not an earlier read left ``nanosAsLong`` set for the session.
NANOS_EVENTS_QUERIES = [
    "asof_join_grouped_backward",
    "asof_join_tolerance",
    "grouped_locf_daily_fill",
    "time_to_convert_percentiles",
    "peak_hourly_rate_per_user",
    "event_path_3grams",
    "attribution_position_based",
    "conversion_paths_top",
    "parse_url_events",
]
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture(scope="module")
def nanos_sf_dir(tmp_path_factory):
    """Copy of the test corpus whose ``events.ts`` is a true parquet
    TIMESTAMP(NANOS) column holding the same instants."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from velox_hadoop_spark.catalog import TABLES, ts_stored_as_nanos

    d = tmp_path_factory.mktemp("sf_nanos")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    ev = pq.read_table(f"{SF_DIR}/events.parquet")
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(i, "ts", ev["ts"].cast(pa.timestamp("ns")))
    pq.write_table(ev, d / "events.parquet", version="2.6")
    assert ts_stored_as_nanos(str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize("flag_set", [False, True], ids=["fresh", "flag_set"])
@pytest.mark.parametrize("name", NANOS_EVENTS_QUERIES)
def test_events_queries_on_nanos_source(spark, nanos_sf_dir, name, flag_set):
    from velox_hadoop_spark.plans import registry

    fn = registry.queries()[name]
    spark.conf.unset(_NANOS_CONF)
    want = fn(spark, SF_DIR)
    want = _multiset(want.columns, want.collect())
    if flag_set:
        read_table(spark, nanos_sf_dir, "events")
        assert spark.conf.get(_NANOS_CONF) == "true"
    try:
        got = fn(spark, nanos_sf_dir)
        got = _multiset(got.columns, got.collect())
    finally:
        spark.conf.unset(_NANOS_CONF)
    assert got == want and want[0]
