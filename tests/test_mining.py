"""Oracle parity + invariants for the mining operator family."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_parity

PARITY_QUERIES = [
    "event_type_transitions",
    "part_affinity_lift",
    "ewma_daily_revenue",
    "seasonal_weekday_anomaly",
    "customer_rfm_segments",
    "kcore_suppliers",
]


@pytest.mark.parametrize("name", PARITY_QUERIES)
def test_oracle_parity(spark, duck, name):
    assert_parity(spark, duck, name)


def test_transition_rows_sum_to_one(spark):
    """Each prev_type's outgoing probabilities form a distribution."""
    from velox_hadoop_spark.operators.mining import q_event_type_transitions

    rows = (
        q_event_type_transitions(spark, SF_DIR)
        .groupBy("prev_type")
        .agg(F.round(F.sum("prob"), 4).alias("total"))
        .collect()
    )
    assert rows, "no transitions found"
    for r in rows:
        assert abs(r.total - 1.0) < 1e-3, f"{r.prev_type}: {r.total}"


def test_ewma_bounded_by_window_extremes(spark):
    """EWMA is a convex combination of in-window daily revenues, so it
    must lie within the window's [min, max] — checked via the global
    revenue extremes as a weaker-but-cheap envelope."""
    from velox_hadoop_spark.operators.mining import q_ewma_daily_revenue

    df = q_ewma_daily_revenue(spark, SF_DIR)
    bad = df.join(
        df.agg(F.min("rev").alias("lo"), F.max("rev").alias("hi")),
        F.lit(True),
    ).where((F.col("ewma") < F.col("lo")) | (F.col("ewma") > F.col("hi")))
    assert bad.count() == 0


def test_kcore_peel_enforces_prior_round_degrees(spark):
    """The operator runs a FIXED 3 peel rounds, not to fixpoint, so the
    only guaranteed invariant is: every edge surviving round 3 has
    endpoints whose degree in the round-2 edge set was >= k (that is
    the predicate round 3's filter applied). Asserting >= k on the
    post-round-3 degrees would encode a convergence property the
    operator doesn't promise and fail spuriously on corpora needing
    more rounds."""
    from velox_hadoop_spark.catalog import read_table
    from velox_hadoop_spark.operators.mining import _KCORE_K, _peel_once

    li = read_table(spark, SF_DIR, "lineitem")
    prev = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("part")
    ).distinct()
    n_prev = prev.count()
    assert n_prev > 0
    for _ in range(3):
        cur = _peel_once(prev, _KCORE_K)
        deg_s = prev.groupBy("s").agg(F.count("*").alias("d"))
        deg_p = prev.groupBy("part").agg(F.count("*").alias("d"))
        bad_s = (
            cur.select("s").distinct().join(deg_s, "s").where(F.col("d") < _KCORE_K)
        )
        bad_p = (
            cur.select("part")
            .distinct()
            .join(deg_p, "part")
            .where(F.col("d") < _KCORE_K)
        )
        assert bad_s.count() == 0 and bad_p.count() == 0
        n_cur = cur.count()
        assert n_cur <= n_prev  # peel only removes edges
        prev, n_prev = cur, n_cur


def _persistent_rdd_ids(spark):
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = m.keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_kcore_keeps_only_final_round_cached(spark):
    """Cache discipline (same frontier rule as the BFS loop): each peel
    round eagerly materializes, then the SUPERSEDED round is unpersisted
    — after the action exactly one NEW persistent RDD (the final round's
    edge set) remains, regardless of peel depth. Compared on RDD *ids*,
    not a global count: other tests' leftovers being reclaimed by the
    async ContextCleaner between the two snapshots must not skew this."""
    from velox_hadoop_spark.plans.registry import specs as _specs

    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    _specs()["kcore_suppliers"].fn(spark, SF_DIR).collect()
    new = _persistent_rdd_ids(spark) - before
    assert len(new) == 1, new
    spark.catalog.clearCache()


def test_affinity_rule_invariants(spark):
    """support <= confidence <= 1 (n_a <= N), lift > 0, symmetric keys
    ordered p1 < p2."""
    from velox_hadoop_spark.operators.mining import q_part_affinity_lift

    df = q_part_affinity_lift(spark, SF_DIR)
    bad = df.where(
        (F.col("confidence") > 1.0)
        | (F.col("support") > F.col("confidence") + 1e-9)
        | (F.col("lift") <= 0)
        | (F.col("p1") >= F.col("p2"))
    )
    assert bad.count() == 0


def test_rfm_scores_in_range_and_partition_total(spark):
    """Every RFM component score is a quartile in 1..4 and the segment
    rollup accounts for every customer that has at least one order."""
    from velox_hadoop_spark.operators.mining import q_customer_rfm_segments

    df = q_customer_rfm_segments(spark, SF_DIR)
    parts = df.select(
        (F.col("rfm") / 100).cast("int").alias("r"),
        ((F.col("rfm") % 100) / 10).cast("int").alias("f"),
        (F.col("rfm") % 10).alias("m"),
        "n_customers",
    )
    assert parts.where(
        ~F.col("r").between(1, 4) | ~F.col("f").between(1, 4) | ~F.col("m").between(1, 4)
    ).count() == 0
    n_window = df.agg(F.sum("n_customers")).first()[0]
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    assert n_window == orders.select("o_custkey").distinct().count()


def test_stickiness_bounded(spark):
    """avg(DAU)/MAU lies in (0, 1]."""
    from velox_hadoop_spark.operators.mining import q_dau_mau_stickiness

    df = q_dau_mau_stickiness(spark, SF_DIR)
    assert df.where((F.col("stickiness") <= 0) | (F.col("stickiness") > 1)).count() == 0
