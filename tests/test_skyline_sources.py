"""Skyline, distribution windows, partitioned-sink pruning: parity +
invariants + plan shape."""

import pytest

from tests.conftest import SF_DIR, assert_parity

PARITY_QUERIES = [
    "pareto_frontier_parts",
    "supplier_balance_distribution",
    "partitioned_parquet_prune",
]


@pytest.mark.parametrize("name", PARITY_QUERIES)
def test_oracle_parity(spark, duck, name):
    assert_parity(spark, duck, name)


def test_skyline_matches_bruteforce(spark):
    """The distributed prefix-max skyline must equal the quadratic
    definition: no other point cheaper-or-equal AND larger-or-equal
    with one strict."""
    from velox_hadoop_spark.catalog import read_table
    from velox_hadoop_spark.operators.skyline import skyline_min_max

    part = read_table(spark, SF_DIR, "part")
    pts = [(r.p_retailprice, r.p_size) for r in part.select("p_retailprice", "p_size").collect()]
    brute = {
        (m, x)
        for m, x in set(pts)
        if not any(
            (m2 <= m and x2 >= x and (m2 < m or x2 > x)) for m2, x2 in pts
        )
    }
    got = {
        (r.p_retailprice, r.p_size)
        for r in skyline_min_max(part, "p_retailprice", "p_size").collect()
    }
    assert got == brute and got


def test_skyline_survives_repartitioning(spark):
    """Range-partitioned prefix-max must be partitioning-independent."""
    from velox_hadoop_spark.catalog import read_table
    from velox_hadoop_spark.operators.skyline import skyline_min_max

    part = read_table(spark, SF_DIR, "part")
    a = {tuple(r) for r in skyline_min_max(part, "p_retailprice", "p_size").collect()}
    b = {
        tuple(r)
        for r in skyline_min_max(
            part.repartition(11, "p_brand"), "p_retailprice", "p_size"
        ).collect()
    }
    assert a == b


def test_partitioned_read_prunes_partitions(spark):
    """The partition-column filter must resolve at planning time:
    PartitionFilters populated, no post-scan Filter on the partition
    column."""
    from velox_hadoop_spark.plans import registry

    df = registry.queries()["partitioned_parquet_prune"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderpriority" in plan, plan


def test_cume_dist_bounds_and_top_decile(spark):
    from velox_hadoop_spark.plans import registry

    rows = registry.queries()["supplier_balance_distribution"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.pct_rank <= 1.0
        assert 0.0 < r.cume <= 1.0
        assert r.top_decile == (1 if r.cume >= 0.9 else 0)


def test_skyline_multi_matches_bruteforce(spark):
    """The d>=3 kernel (sort-based frontier scan in both the per-batch
    local phase and the global phase) must match an O(n²) dominance
    scan on adversarial data: small value domains (many partial ties),
    mixed minimize/maximize directions, several partitions. The second
    input streams in 64-row Arrow batches, so the running frontier
    carries across batches, and is anti-correlated: 1,161 frontier
    points with c + d - b = 190 at a = 0, plus a dominated twin
    (1, 0, c, d) of each b = 0 point. The twins sort after the whole
    frontier, two 512-row blocks after their only dominators, so the
    scan must carry its frontier across blocks."""
    from velox_hadoop_spark.operators.skyline import skyline_multi

    mixed = [
        (i % 7, (i * 3) % 11, (i * 5) % 13, (i * i) % 17)
        for i in range(500)
    ]
    front = [
        (0, b, c, 190 + b - c)
        for b in range(6)
        for c in range(200)
        if 190 + b - c < 200
    ]
    anti = front + [(1, 0, c, d) for _, b, c, d in front if b == 0]

    def dominated(p, pts):
        a, b, c, d = p
        return any(
            (a2 <= a and b2 <= b and c2 >= c and d2 >= d)
            and (a2 < a or b2 < b or c2 > c or d2 > d)
            for (a2, b2, c2, d2) in pts
        )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    for rows, batch in ((mixed, saved), (anti, "64")):
        pts = set(rows)
        want = {p for p in pts if not dominated(p, pts)}
        df = spark.createDataFrame(
            rows, "a int, b int, c int, d int"
        ).repartition(9 if rows is mixed else 2)
        spark.conf.set(key, batch)
        try:
            got = {
                tuple(r)
                for r in skyline_multi(
                    df, minimize=["a", "b"], maximize=["c", "d"]
                ).collect()
            }
        finally:
            spark.conf.set(key, saved)
        assert got == want
    assert len(want) == len(front)
