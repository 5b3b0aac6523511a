"""Set operations: union-all with provenance, intersect, except, distinct.

Re-expresses the reference's multi-input union Spark-first:

  * tagged UNION ALL — reference: src/main/java/org/dicl/velox/benchmark/
    LeanJoin.java:85-86 (two input dirs into one mapper) +
    PreMapper.java:33-48 (provenance recovered by sniffing the file
    path). Here provenance is an explicit literal column on each branch
    before `unionByName` — no path sniffing.
  * INTERSECT / EXCEPT / DISTINCT — "not present" in the reference
    (SURVEY §2.7), exposed as first-class operators.

Scale notes: intersect/except hash-aggregate on the compared columns —
same shuffle profile as a groupBy; distinct-by-key prefers the
aggregate form (`groupBy().agg(first)`) over `dropDuplicates` when a
deterministic representative is required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def tagged_union(branches: list[tuple[str, DataFrame]]) -> DataFrame:
    """UNION ALL with an explicit provenance tag per branch."""
    tagged = [df.withColumn("src", F.lit(tag)) for tag, df in branches]
    out = tagged[0]
    for df in tagged[1:]:
        out = out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "union_provenance",
    oracle="""
        SELECT src, count(*) AS n, CAST(count(DISTINCT key) AS BIGINT) AS n_keys
        FROM (
            SELECT 'orders' AS src, o_custkey AS key FROM orders
            UNION ALL
            SELECT 'customer' AS src, c_custkey AS key FROM customer
        )
        GROUP BY src
    """,
    tags=("setops", "reference:LeanJoin.java:85-86"),
)
def q_union_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source union with explicit provenance tags (S13/U1)."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    u = tagged_union(
        [
            ("orders", orders.select(F.col("o_custkey").alias("key"))),
            ("customer", customer.select(F.col("c_custkey").alias("key"))),
        ]
    )
    return u.groupBy("src").agg(
        F.count("*").alias("n"),
        F.countDistinct("key").alias("n_keys"),
    )


@register(
    "intersect_buyers",
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
        INTERSECT
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
    tags=("setops", "intersect"),
)
def q_intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: big-ticket buyers who are BUILDING-segment customers."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    big = orders.where(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    building = customer.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    return big.intersect(building)


@register(
    "except_small_buyers",
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
    """,
    tags=("setops", "except"),
)
def q_except_small_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers who never placed a big-ticket order."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    # subtract == EXCEPT (distinct) — not exceptAll, whose multiset
    # semantics would keep keys that merely appear more often on the left.
    return customer.select(F.col("c_custkey").alias("custkey")).subtract(
        orders.where(F.col("o_totalprice") > 100000).select(
            F.col("o_custkey").alias("custkey")
        )
    )


@register(
    "distinct_order_months",
    oracle="""
        SELECT DISTINCT o_orderpriority,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month
        FROM orders
    """,
    tags=("setops", "distinct"),
)
def q_distinct_order_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a computed column (month truncation)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
    ).distinct()


# --- snapshot diff (batch CDC compare) -------------------------------------

SNAP_SEED = "snapdiff7"


def _snap_bucket_duck() -> str:
    from velox_hadoop_spark.functions.hashing import duck_bucket

    return duck_bucket("o_orderkey", SNAP_SEED)


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, compare: list[str]
) -> DataFrame:
    """Row-level diff of two table snapshots keyed by ``key``:
    'added' (key only in new), 'removed' (key only in old), 'changed'
    (key in both, any compared column differs). Unchanged rows are
    dropped — the output is the changeset a downstream incremental
    consumer would apply.

    One full-outer equi-join on the key (single shuffle each side;
    null-safe comparison via ``eqNullSafe`` so NULL→value transitions
    count as changes). The standard reconciliation primitive for
    validating incremental pipelines against full recomputes.
    """
    o = old.select(
        key, F.lit(True).alias("_in_old"), *[F.col(c).alias(f"old_{c}") for c in compare]
    )
    n = new.select(
        key, F.lit(True).alias("_in_new"), *[F.col(c).alias(f"new_{c}") for c in compare]
    )
    joined = o.join(n, key, "full_outer")
    old_present = F.col("_in_old").isNotNull()
    new_present = F.col("_in_new").isNotNull()
    same = reduce_and(
        [F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")) for c in compare]
    )
    status = (
        F.when(~old_present, F.lit("added"))
        .when(~new_present, F.lit("removed"))
        .when(~same, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.withColumn("status", status)
        .where(F.col("status") != "unchanged")
        .drop("_in_old", "_in_new")
    )


def reduce_and(cols: list) -> "F.Column":
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


@register(
    "snapshot_diff_orders",
    # Two deterministic snapshot views of orders, sharing hash buckets
    # 10-89: old = buckets 0-89, new = buckets 10-99 with a simulated
    # price restatement (an exact +1000.0 — multiplying and rounding
    # would diverge between engines on decimal-tie doubles) on 80-89.
    oracle=f"""
        WITH bucketed AS (
            SELECT *, {_snap_bucket_duck()} AS b FROM orders
        ),
        old AS (
            SELECT o_orderkey, o_totalprice, o_orderstatus
            FROM bucketed WHERE b < 90
        ),
        new AS (
            SELECT o_orderkey,
                   CASE WHEN b >= 80 THEN o_totalprice + 1000.0
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderstatus
            FROM bucketed WHERE b >= 10
        )
        SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
               old.o_totalprice AS old_o_totalprice,
               old.o_orderstatus AS old_o_orderstatus,
               new.o_totalprice AS new_o_totalprice,
               new.o_orderstatus AS new_o_orderstatus,
               CASE WHEN old.o_orderkey IS NULL THEN 'added'
                    WHEN new.o_orderkey IS NULL THEN 'removed'
                    ELSE 'changed' END AS status
        FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
        WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
           OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
           OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
    """,
    tags=("setops", "diff", "cdc", "extension"),
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changeset between two simulated snapshots of orders (10% churn
    out, 10% churn in, 10% restated prices; the restatement is an exact double addition — a ROUND(x*1.1) would diverge between engines on decimal-tie doubles)."""
    from velox_hadoop_spark.functions.hashing import spark_bucket

    orders = read_table(spark, sf_dir, "orders")
    b = F.expr(spark_bucket("o_orderkey", SNAP_SEED))
    bucketed = orders.withColumn("b", b)
    old = bucketed.where(F.col("b") < 90).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = bucketed.where(F.col("b") >= 10).select(
        "o_orderkey",
        F.when(F.col("b") >= 80, F.col("o_totalprice") + 1000.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    diff = snapshot_diff(old, new, "o_orderkey", ["o_totalprice", "o_orderstatus"])
    return diff.select(
        "o_orderkey",
        "old_o_totalprice",
        "old_o_orderstatus",
        "new_o_totalprice",
        "new_o_orderstatus",
        "status",
    )


@register(
    "incremental_agg_refresh",
    # Oracle = the FULL recompute over the new snapshot: the refresh
    # path must land on exactly what a from-scratch aggregation gives.
    oracle=f"""
        WITH bucketed AS (
            SELECT *, {_snap_bucket_duck()} AS b FROM orders
        )
        SELECT o_custkey,
               count(*) AS n_orders,
               ROUND(sum(CASE WHEN b >= 80
                              THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 100000
                              ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END)
                     / 100.0, 2) AS total_price
        FROM bucketed WHERE b >= 10
        GROUP BY o_custkey
    """,
    tags=("setops", "cdc", "incremental", "extension"),
)
def q_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-maintained aggregate: base agg + changeset deltas, never a
    base rescan.

    Using the same simulated snapshots as ``snapshot_diff_orders``
    (old = buckets 0-89, new = buckets 10-99 with restated prices on
    80-89): the per-customer (count, total) aggregate of the OLD
    snapshot is merged with signed delta rows derived from the
    changeset — removed orders contribute (-1, -price), added orders
    (+1, +new price), restatements (0, +1000). A full outer join on
    the group key combines base and delta; groups whose count reaches
    zero drop out.

    This is the materialized-view maintenance shape for 100 TB: the
    base aggregate is a stored table a fraction of the fact's size and
    the refresh shuffles ONLY |changeset| + |affected groups| rows.
    The oracle recomputes from scratch, proving the maintained result
    is exact — money flows as integer cents on both sides, so the
    base+delta association order cannot drift from the single-pass
    recompute by even an ulp.
    """
    from velox_hadoop_spark.functions.hashing import spark_bucket

    orders = read_table(spark, sf_dir, "orders")
    b = F.expr(spark_bucket("o_orderkey", SNAP_SEED))
    # money as exact integer cents: base + delta sums accumulate in a
    # DIFFERENT association order than the oracle's single-pass
    # recompute, and double sums differ by ~1e-10 across groupings —
    # enough to flip a 2-dp half boundary at larger SFs. Integer cents
    # make both orders exact; one final division renders the decimal.
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    bucketed = orders.select("o_custkey", cents.alias("cents"), b.alias("b"))

    base = (
        bucketed.where(F.col("b") < 90)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("bn"), F.sum("cents").alias("bt"))
    )
    # ONE pass over the changed buckets builds every delta kind via
    # conditional projection — a union of three filtered scans would
    # read the fact table three times, and at 100 TB the scan count is
    # the cost that matters.
    delta = (
        bucketed.where((F.col("b") < 10) | (F.col("b") >= 80))
        .select(
            "o_custkey",
            F.when(F.col("b") < 10, -1)      # churned out
            .when(F.col("b") >= 90, 1)       # churned in
            .otherwise(0)                    # restated in place
            .alias("dn"),
            F.when(F.col("b") < 10, -F.col("cents"))
            .when(F.col("b") >= 90, F.col("cents") + 100000)
            .otherwise(F.lit(100000))
            .alias("dt"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("dn").alias("dn"), F.sum("dt").alias("dt"))
    )
    merged = base.join(delta, "o_custkey", "full_outer").select(
        "o_custkey",
        (F.coalesce(F.col("bn"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))).alias(
            "n_orders"
        ),
        F.round(
            (F.coalesce(F.col("bt"), F.lit(0)) + F.coalesce(F.col("dt"), F.lit(0)))
            / F.lit(100.0),
            2,
        ).alias("total_price"),
    )
    return merged.where(F.col("n_orders") > 0)


# ---------------------------------------------------------------------------
# Merkle-style bucket checksums: the 100 TB table-reconciliation primitive
# ---------------------------------------------------------------------------

CHECKSUM_BUCKETS = 64


@register(
    "table_checksum_buckets",
    oracle=f"""
        WITH canon AS (
            SELECT o_orderkey % {CHECKSUM_BUCKETS} AS bucket,
                   CAST(('0x' || substr(md5(
                        concat_ws('|',
                            CAST(o_orderkey AS VARCHAR),
                            CAST(o_custkey AS VARCHAR),
                            o_orderstatus,
                            CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
                            CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
                            o_orderpriority)
                   ), 1, 15)) AS BIGINT) AS digest
            FROM orders
        )
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               bit_xor(digest) AS bucket_digest
        FROM canon GROUP BY bucket
    """,
    tags=("setops", "reconciliation", "checksum", "extension"),
)
def q_table_checksum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style per-bucket table checksum over orders: each row is
    canonicalized to a delimited string (money as exact integer cents,
    dates as ISO days — the engine-portable renderings), hashed to a
    60-bit integer, and XOR-folded per key-hash bucket.

    The table-reconciliation primitive at 100 TB: two replicas (or a
    table before/after a migration) compare 64 (bucket, n_rows, digest)
    rows instead of shipping data anywhere; only mismatched buckets —
    1/64th of the keyspace each — need the row-level ``snapshot_diff``
    pass. XOR is commutative/associative, so the digest is partition-
    and order-independent, computed as a partial+final aggregate with
    16 bytes of state per bucket; nothing but the 64-row summary ever
    crosses the wire. Pure codegen (md5 + conv + bit_xor), bit-identical
    in the DuckDB oracle via the shared hashing convention
    (functions/hashing.py)."""
    orders = read_table(spark, sf_dir, "orders")
    canon_str = (
        "concat_ws('|', CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING), "
        "o_orderstatus, CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING), "
        "CAST(CAST(o_orderdate AS DATE) AS STRING), o_orderpriority)"
    )
    digest = (
        "CAST(conv(substr(md5(" + canon_str + "), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        orders.select(
            F.pmod(F.col("o_orderkey"), F.lit(CHECKSUM_BUCKETS)).alias("bucket"),
            F.expr(digest).alias("digest"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(digest)").alias("bucket_digest"),
        )
    )


# ---------------------------------------------------------------------------
# Null-key skew split: the production left-join pattern for nullable FKs
# ---------------------------------------------------------------------------


def null_split_left_join(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """LEFT join where fact rows with a NULL key BYPASS the shuffle.

    A nullable FK is the classic skew source: every null-key row hashes
    to the same shuffle partition, and at 100 TB a 10%-null FK puts 10%
    of the fact table in one task. SQL semantics guarantee a null key
    can never match, so the null slice needs no join at all: split the
    fact on key-nullness, join ONLY the non-null slice, and union the
    null slice back with the dimension columns null-extended. Both
    halves are one scan each (Catalyst collapses the filters into the
    scans); output is row-identical to the plain left join the oracle
    runs."""
    dim_cols = [c for c in dim.columns if c != dim_key]
    # drop the dimension key BY REFERENCE: drop-by-name would also remove
    # a same-named fact column (drop("x") strips every "x" in the join
    # output), silently losing fact data for key-name collisions.
    matched = fact.where(F.col(fact_key).isNotNull()).join(
        dim, fact.__getattr__(fact_key) == dim.__getattr__(dim_key), "left"
    ).drop(dim.__getattr__(dim_key))
    nulls = fact.where(F.col(fact_key).isNull()).select(
        "*", *[F.lit(None).cast(dim.schema[c].dataType).alias(c) for c in dim_cols]
    )
    return matched.unionByName(nulls)


@register(
    "null_skew_left_join",
    oracle="""
        WITH o AS (
            SELECT o_orderkey,
                   CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END AS fk,
                   o_totalprice
            FROM orders
        )
        SELECT coalesce(c.c_mktsegment, 'UNMATCHED') AS segment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM o LEFT JOIN customer c ON o.fk = c.c_custkey
        GROUP BY coalesce(c.c_mktsegment, 'UNMATCHED')
    """,
    tags=("join", "skew", "null-keys", "extension"),
)
def q_null_skew_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join over a nullable FK (every 7th customer key nulled to
    model unattributed rows) using the null-split pattern: the null
    slice never enters the join shuffle, so the single hot null
    partition that sinks naive plans at scale simply does not exist.
    Result (revenue by segment, nulls bucketed as UNMATCHED) is
    verified against the oracle's ordinary left join."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = orders.select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 7 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("fk"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    joined = null_split_left_join(o, cust, "fk", "c_custkey")
    return (
        joined.groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("UNMATCHED")).alias("segment")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Batch MERGE (upsert): CDC batch into a base table, single-shuffle form
# ---------------------------------------------------------------------------


def merge_upsert(
    target: DataFrame, source: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """MERGE semantics (matched → update, not-matched → insert) without
    a join: union both sides with a priority flag and keep each key's
    highest-priority row via a partial+final ``max_by`` aggregate.

    The full-outer-join MERGE shuffles BOTH sides and materializes join
    state; the union form is ONE hash-agg shuffle whose per-key state is
    a single struct, and the map-side partial already collapses
    target/source pairs that share a partition. Exactly the
    latest-per-key CDC compaction shape (window.py::latest_per_key)
    applied to the upsert problem; at 100 TB the source batch is
    typically ≪ target, and either way nothing quadratic or skew-prone
    exists — key cardinality bounds everything."""
    tgt = target.select(key, *cols).withColumn("__pri", F.lit(0))
    src = source.select(key, *cols).withColumn("__pri", F.lit(1))
    merged = (
        tgt.unionByName(src)
        .groupBy(key)
        .agg(F.max_by(F.struct(*cols), F.col("__pri")).alias("__r"))
    )
    return merged.select(key, "__r.*")


@register(
    "merge_upsert_orders",
    oracle="""
        WITH base AS (
            SELECT o_orderkey,
                   o_orderstatus,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        batch AS (
            SELECT o_orderkey, 'U' AS o_orderstatus, cents + 777 AS cents
            FROM base WHERE o_orderkey % 10 = 0
            UNION ALL
            SELECT -(o_orderkey + 1), 'I', cents
            FROM base WHERE o_orderkey % 97 = 0
        )
        SELECT coalesce(b.o_orderkey, t.o_orderkey) AS o_orderkey,
               coalesce(b.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
               coalesce(b.cents, t.cents) AS cents
        FROM base t FULL OUTER JOIN batch b ON t.o_orderkey = b.o_orderkey
    """,
    tags=("setops", "merge", "upsert", "cdc", "extension"),
)
def q_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a simulated CDC batch into orders: every 10th key is an
    update (status 'U', price bumped), every 97th key re-enters under a
    brand-new key -(k+1) (negated, shifted past zero) (structurally disjoint from the positive base
    keyspace at ANY scale factor, so the one-change-per-key contract
    cannot be violated by key collision). The Spark plan is the single-shuffle union +
    max_by form; the oracle is the textbook FULL OUTER JOIN MERGE —
    row-identical results prove the rewrite."""
    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    updates = base.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", F.lit("U").alias("o_orderstatus"), (F.col("cents") + 777).alias("cents")
    )
    inserts = base.where(F.col("o_orderkey") % 97 == 0).select(
        (-(F.col("o_orderkey") + 1)).alias("o_orderkey"),
        F.lit("I").alias("o_orderstatus"),
        "cents",
    )
    return merge_upsert(
        base, updates.unionByName(inserts), "o_orderkey", ["o_orderstatus", "cents"]
    )


# ---------------------------------------------------------------------------
# Compliance: cascade-delete impact audit (right-to-erasure dry run)
# ---------------------------------------------------------------------------


@register(
    "cascade_delete_audit",
    oracle="""
        WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 50 = 0),
        o AS (
            SELECT count(*) AS n FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM del)
        ),
        l AS (
            SELECT count(*) AS n FROM lineitem
            WHERE l_orderkey IN (
                SELECT o_orderkey FROM orders
                WHERE o_custkey IN (SELECT c_custkey FROM del)
            )
        ),
        e AS (
            SELECT count(*) AS n FROM events
            WHERE user_id IN (SELECT c_custkey FROM del)
        )
        SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS n_rows FROM del
        UNION ALL SELECT 'orders', CAST(n AS BIGINT) FROM o
        UNION ALL SELECT 'lineitem', CAST(n AS BIGINT) FROM l
        UNION ALL SELECT 'events', CAST(n AS BIGINT) FROM e
    """,
    tags=("setops", "compliance", "erasure", "extension"),
)
def q_cascade_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure dry run: given a deletion cohort (every 50th
    customer key), count the rows each downstream table would lose —
    customer → orders → lineitem via the FK chain, plus the events
    stream keyed by user id.

    The plan is semi-join cascade all the way down: the cohort (and the
    cohort's order keys) are DataFrames, each impact count is one
    left-semi equi-join + count, and nothing but keys flows between
    stages — Catalyst broadcasts the cohort side when it is small, AQE
    decides otherwise. This dry-run shape is exactly the production
    delete's first phase; the second phase rewrites only the files the
    audit touched (see partitioned-sink compaction), so erasure cost is
    audit cost plus targeted rewrites, never a full-table scan per
    table."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    # events MUST go through read_table: its ts column can be parquet
    # TIMESTAMP(NANOS), which a raw read only survives if some earlier
    # query leaked the nanosAsLong conf — an order-dependent failure
    ev = read_table(spark, sf_dir, "events")
    del_keys = cust.where(F.col("c_custkey") % 50 == 0).select("c_custkey")
    del_orders = orders.join(
        del_keys, orders.o_custkey == del_keys.c_custkey, "left_semi"
    )
    n_cust = del_keys.agg(F.count("*").alias("n_rows")).withColumn(
        "tbl", F.lit("customer")
    )
    n_ord = del_orders.agg(F.count("*").alias("n_rows")).withColumn(
        "tbl", F.lit("orders")
    )
    n_li = (
        li.join(
            del_orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_semi",
        )
        .agg(F.count("*").alias("n_rows"))
        .withColumn("tbl", F.lit("lineitem"))
    )
    n_ev = (
        ev.join(del_keys, ev.user_id == del_keys.c_custkey, "left_semi")
        .agg(F.count("*").alias("n_rows"))
        .withColumn("tbl", F.lit("events"))
    )
    return (
        n_cust.unionByName(n_ord)
        .unionByName(n_li)
        .unionByName(n_ev)
        .select("tbl", "n_rows")
    )


def cdc_apply(
    target: DataFrame, changes: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """Apply a full CDC changeset (I/U/D op codes) in ONE shuffle.

    Same union + priority + ``max_by`` collapse as ``merge_upsert``,
    with the op code riding inside the winning struct: a key whose
    latest change is a delete tombstone is filtered out AFTER the
    collapse, so deletes cost nothing extra — no anti-join, no second
    pass. Exactly the Debezium-style apply loop a lakehouse runs per
    micro-batch; state per key is one struct regardless of how many
    times the key churned inside the batch."""
    tgt = (
        target.select(key, *cols)
        .withColumn("__op", F.lit("I"))
        .withColumn("__pri", F.lit(0))
    )
    src = (
        changes.select(key, *cols, F.col("op").alias("__op"))
        .withColumn("__pri", F.lit(1))
    )
    merged = (
        tgt.unionByName(src)
        .groupBy(key)
        .agg(F.max_by(F.struct("__op", *cols), F.col("__pri")).alias("__r"))
    )
    return merged.where(F.col("__r.__op") != "D").select(key, *[f"__r.{c}" for c in cols])


@register(
    "cdc_apply_orders",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        batch AS (
            SELECT o_orderkey, 'U' AS op, 'U' AS o_orderstatus, cents + 777 AS cents
            FROM base WHERE o_orderkey % 10 = 0
            UNION ALL
            SELECT o_orderkey, 'D', o_orderstatus, cents
            FROM base WHERE o_orderkey % 13 = 0 AND o_orderkey % 10 <> 0
            UNION ALL
            SELECT -(o_orderkey + 1), 'I', 'I', cents
            FROM base WHERE o_orderkey % 97 = 0
        ),
        merged AS (
            SELECT coalesce(b.o_orderkey, t.o_orderkey) AS o_orderkey,
                   coalesce(b.op, 'I') AS op,
                   coalesce(b.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
                   coalesce(b.cents, t.cents) AS cents
            FROM base t FULL OUTER JOIN batch b ON t.o_orderkey = b.o_orderkey
        )
        SELECT o_orderkey, o_orderstatus, cents FROM merged WHERE op <> 'D'
    """,
    tags=("setops", "merge", "cdc", "deletes", "extension"),
)
def q_cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply against orders: every 10th key updated, every 13th
    (not already updated) deleted via tombstone, every 97th re-keyed (negated — collision-free at any SF) as
    an insert — deletes win over the base row through the same
    single-shuffle collapse, verified row-identical against the
    join-form oracle. The cohorts are disjoint by construction: a CDC
    batch carries at most ONE change per key (the upstream log compaction
    contract), which both the max_by collapse and the join oracle
    assume."""
    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    updates = base.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("cents") + 777).alias("cents"),
        F.lit("U").alias("op"),
    )
    deletes = base.where(
        (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") % 10 != 0)
    ).select(
        "o_orderkey", "o_orderstatus", "cents", F.lit("D").alias("op")
    )
    inserts = base.where(F.col("o_orderkey") % 97 == 0).select(
        (-(F.col("o_orderkey") + 1)).alias("o_orderkey"),
        F.lit("I").alias("o_orderstatus"),
        "cents",
        F.lit("I").alias("op"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    return cdc_apply(base, changes, "o_orderkey", ["o_orderstatus", "cents"])
