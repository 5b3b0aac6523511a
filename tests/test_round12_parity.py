"""Round-12 parity and contract tests.

Covers the close of the LAST buffer-before-filter aggregates (the r11
verdict's one weak finding): ``co_supply_capped_edges`` and the
``neighbor_jaccard_links`` wedge build now route their part cap through
``drop_hot_keys`` BEFORE the grouped ``collect_set`` — no aggregation
buffer ever materializes a hot part's full member set — and the
co-supply adjacency merge is a staged top-k instead of an unbounded
``flatten(collect_list(nbrs))`` fan-in. The tests prove (a) the guard
is structurally in the plan (anti-join below the array-building
aggregate), (b) value semantics are unchanged on a cap-binding
fixture (over-cap parts dropped whole, cool parts intact, adjacency
slice exact), and (c) a mega-hot part (50k members — the shape that
would OOM the old form at adversarial scale) streams through without
building its array.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from velox_hadoop_spark.operators.graph import co_supply_capped_edges
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _guard_below_collect(plan: str) -> bool:
    """The broadcast anti-join must appear BELOW (after, in the text —
    Spark prints the tree root-first) the array-building aggregate, so
    rows are filtered before any buffer fills."""
    agg_at = plan.find("collect_set")
    anti_at = plan.find("LeftAnti")
    return anti_at != -1 and agg_at != -1 and anti_at > agg_at


def test_co_supply_guard_below_collect(spark):
    mem = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "part long, s long"
    )
    plan = _plan(co_supply_capped_edges(mem))
    assert _guard_below_collect(plan), plan


def test_co_supply_no_unbounded_adjacency_collect(spark):
    """The adjacency merge must NOT be a collect_list flatten — the
    staged top-k replaced it (the only grouped array left is the
    per-part collect_set below the guard)."""
    mem = spark.createDataFrame([(1, 10), (1, 11)], "part long, s long")
    plan = _plan(co_supply_capped_edges(mem))
    assert "collect_list" not in plan, plan


def test_co_supply_cap_binding_fixture(spark):
    """part 1: 3 members (kept, cap 3); part 2: 4 members (dropped
    whole); part 3: duplicate rows must NOT push a 3-member part over
    the cap (the cap is over DISTINCT members — the count pre-pass
    runs on the distinct frame)."""
    rows = (
        [(1, s) for s in (10, 11, 12)]
        + [(2, s) for s in (20, 21, 22, 23)]
        + [(3, s) for s in (30, 31, 32)] * 5
    )
    mem = spark.createDataFrame(rows, "part long, s long")
    got = {
        (r.s1, r.s2)
        for r in co_supply_capped_edges(mem, adj_cap=64, part_cap=3).collect()
    }
    assert got == {
        (10, 11), (10, 12), (11, 12),
        (30, 31), (30, 32), (31, 32),
    }


def test_co_supply_adjacency_cap_across_parts(spark):
    """Node 1's neighbors come from MANY parts; the staged top-k must
    keep exactly its adj_cap smallest higher-id neighbors globally
    (dedup across parts included: neighbor 5 appears via two parts)."""
    rows = [(p, 1) for p in range(10)] + [
        (p, 100 + p) for p in range(10)
    ] + [(0, 5), (1, 5)]
    mem = spark.createDataFrame(rows, "part long, s long")
    got = sorted(
        (r.s1, r.s2)
        for r in co_supply_capped_edges(mem, adj_cap=3, part_cap=64).collect()
        if r.s1 == 1
    )
    # node 1's higher-id neighbors: {5, 100..109}; 3 smallest = 5,100,101
    assert got == [(1, 5), (1, 100), (1, 101)]


def test_co_supply_mega_hot_part_never_builds_array(spark):
    """50_000 distinct members on ONE part (~200x the cap): the old
    shape buffered all 50k ids in one aggregation buffer before the
    size filter; the guarded shape anti-joins the part away first.
    The cool part's edges are intact."""
    hot = [(0, i) for i in range(50_000)]
    cool = [(1, 100_000 + i) for i in range(4)]
    mem = spark.createDataFrame(hot + cool, "part long, s long").repartition(8)
    got = {(r.s1, r.s2) for r in co_supply_capped_edges(mem).collect()}
    c = [100_000, 100_001, 100_002, 100_003]
    assert got == {(a, b) for a in c for b in c if a < b}


def test_co_supply_null_part_dropped(spark):
    """NULL parts drop entirely — the oracles' equi-join pdeg mirror
    never matches NULL, and drop_hot_keys mirrors that exactly (the
    pre-round-12 groupBy kept a NULL-part group no oracle had)."""
    mem = spark.createDataFrame(
        [(None, 1), (None, 2), (7, 1), (7, 2)], "part bigint, s long"
    )
    got = {(r.s1, r.s2) for r in co_supply_capped_edges(mem).collect()}
    assert got == {(1, 2)}


def test_neighbor_jaccard_guard_below_collect(spark):
    from velox_hadoop_spark.plans.registry import queries

    df = queries()["neighbor_jaccard_links"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert _guard_below_collect(plan), plan


# ---------------------------------------------------------------------------
# Streaming dedup runner: batching contract (round-12 advice). The
# n_rows = 1 oracle is sound only for a single-batch drain, so the
# runner PINS maxFilesPerTrigger far above any file count; these tests
# control batching explicitly in both directions.
# ---------------------------------------------------------------------------


def test_dedup_runner_drain_is_single_batch(spark):
    """With the runner's maxFilesPerTrigger pin, availableNow drains
    the whole source in ONE micro-batch and every key emits exactly
    once — the precondition that makes the registered n_rows = 1
    oracle sound."""
    from velox_hadoop_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        stream_dedup,
    )

    stream = read_event_stream(
        spark, f"{SF_DIR}/events.parquet", max_files_per_trigger=1_000_000
    )
    q = run_available_now(stream_dedup(stream), "t12_dedup_single", "append")
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) == 1, [p["numInputRows"] for p in q.recentProgress]
    dup_keys = (
        spark.table("t12_dedup_single")
        .groupBy("user_id", "event_type")
        .count()
        .where("count > 1")
        .count()
    )
    assert dup_keys == 0
    spark.catalog.dropTempView("t12_dedup_single")


def test_dedup_keyset_contract_survives_multibatch_drain(spark, tmp_path):
    """Force a multi-batch drain (maxFilesPerTrigger = 1 over a 3-file
    copy): per-key row counts may legitimately exceed 1 once watermark
    eviction crosses a batch boundary, but the KEY SET must still
    equal the batch distinct — the arrival-order-independent half of
    the dedup contract."""
    from velox_hadoop_spark.catalog import read_table
    from velox_hadoop_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        stream_dedup,
    )

    src = str(tmp_path / "events_multi")
    read_table(spark, "/root/testdata/sf0.001", "events").repartition(3).write.parquet(
        src
    )
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = run_available_now(stream_dedup(stream), "t12_dedup_multi", "append")
    q.awaitTermination()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 2, [p["numInputRows"] for p in q.recentProgress]
    sink_keys = {
        (r.user_id, r.event_type)
        for r in spark.table("t12_dedup_multi")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    batch_keys = {
        (r.user_id, r.event_type)
        for r in read_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert sink_keys == batch_keys
    spark.catalog.dropTempView("t12_dedup_multi")
