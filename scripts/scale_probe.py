#!/usr/bin/env python
"""Scaling-curve probe: time representative registry queries at 1x and Kx
the bench scale (sf0.1) with ``bench.py`` and report the ratio per query.

Why this exists: the correctness gate proves the operators are RIGHT at
small SF; this probe measures how their cost GROWS, which is the evidence
behind the 100 TB claims — a query whose time scales super-linearly in
rows on local[N] has a shuffle/fan-out problem that 1000 executors will
not fix.

The Kx corpus is an *isomorphic* blow-up, not a naive replication, so the
similarity structure the dedup/ANN operators key on is preserved per
replica instead of degenerating into an all-duplicates corpus:

- relational tables (customer/orders/lineitem/part/supplier/events):
  replica i adds ``i * KEY_STRIDE`` to every key column, so foreign keys
  stay consistent and group/join cardinalities scale by K with the
  original skew profile intact;
- documents: every word in replica i>0 gets an ``·i`` suffix — each
  replica is an exact isomorphic copy of the original corpus's shingle /
  n-gram / MinHash structure, with zero cross-replica collisions (the
  worst case for dedup cost, bucket sizes, stays exactly original-shaped
  while row count scales K×);
- embeddings: replica i sign-flips dimension d where bit (d % 16) of i
  is set.  A diagonal ±1 matrix A has A² = I, so within-replica cosines
  are bit-identical to the original corpus, while cross-replica cosines
  decorrelate — ANN/near-dup workloads scale K× in rows with the same
  per-bucket geometry;
- nation/region: copied as-is (dimension tables don't scale with SF).

Usage:
    python scripts/scale_probe.py [K] [query ...]

Defaults: K=10 and the DEFAULT_QUERIES slice covering scans/aggs, shuffle
join, global sort, text, dedup (MinHash-LSH + SimHash), ANN (IVF),
text-quality, sessionization, and iterative graph. Each scale is one
``bench.py <query ...>`` run (three passes, each query's fastest), so both
land in BENCH_HISTORY.jsonl; the ratio is of their build_s + exec_s. Prints
one line per query and a final JSON line flagging any query whose ratio
exceeds 1.5 * K.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession, functions as F

from velox_hadoop_spark.session import get_spark

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_ROOT = "/tmp/scale_probe"
KEY_STRIDE = 1_000_000_000  # far above any sf0.1 key

# key columns to offset per replica, per table (FK-consistent)
KEYED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
}
COPY_AS_IS = ["nation", "region"]

DEFAULT_QUERIES = [
    "tpch_q1_pricing_summary",
    "join_orders_customer",
    "sort_rank",
    "wordcount",
    "minhash_jaccard_estimate",
    "lsh_candidate_pairs",
    "simhash_near_dup_pairs",
    "dedup_exact",
    "ann_ivf_topk",
    "token_stats",
    "events_session_10m",
    "pagerank_3iter",
    # the bench's most expensive plans — the 100 TB claims need 10×
    # evidence for these more than for anything cheap
    "supplier_triangle_counts",
    "kcore_suppliers",
    "bfs_levels_from_min_supplier",
    "ngram_jaccard_pairs",
    "neighbor_jaccard_links",
    "part_affinity_lift",
    # the end-to-end curation chain probed as one family (the north-star
    # pipeline): two-stage LSH→verify near-dup, LSH→CC→keeper clustering,
    # and the filter/sample funnel — composed shapes, not just their
    # individual stages
    "near_dup_verified_pairs",
    "dedup_clusters",
    "curation_pipeline_stats",
    "table_checksum_buckets",
    "merge_upsert_orders",
    "ann_multiprobe_recall",
    # round-5/6 surface: the multi-d skyline (capped two-phase frontier),
    # the decorrelated-subquery family (deepest: nested two-level IN and
    # the double-correlation EXISTS), the per-key-quadratic interval
    # overlap (documented bounded-key contract — the probe watches the
    # bound), the cross-shard reconcile, and q2 post-de-broadcast (AQE
    # must keep choosing sane joins as the inputs grow 10x)
    "skyline_3d_parts",
    "in_subquery_nested_two_level",
    "exists_double_correlation_orders",
    "lateral_top2_orders_per_customer",
    "interval_overlap_pairs",
    "cumulative_distinct_users",
    "cross_shard_dedup_reconcile",
    "tpch_q2_min_cost_supplier",
    "dangling_fk_audit",
]


def build_scaled(spark: SparkSession, k: int) -> str:
    out = f"{OUT_ROOT}/x{k}"
    if os.path.isdir(out):
        return out
    os.makedirs(out, exist_ok=True)
    for t in COPY_AS_IS:
        shutil.copy(f"{BASE_SF}/{t}.parquet", f"{out}/{t}.parquet")

    def replicate(table: str, mutate):
        df = spark.read.parquet(f"{BASE_SF}/{table}.parquet")
        parts = [mutate(df, i) for i in range(k)]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(f"{out}/{table}.parquet")

    for table, keys in KEYED.items():
        def offset_keys(df, i, keys=keys):
            for c in keys:
                df = df.withColumn(c, F.col(c) + F.lit(i * KEY_STRIDE))
            return df
        replicate(table, offset_keys)

    def mutate_docs(df, i):
        df = df.withColumn("doc_id", F.col("doc_id") + F.lit(i * KEY_STRIDE))
        if i == 0:
            return df
        # suffix every word: replica corpora are isomorphic, never colliding
        suffixed = F.array_join(
            F.transform(F.split(F.col("text"), " "), lambda w: F.concat(w, F.lit(f"·{i}"))),
            " ",
        )
        return df.withColumn("text", suffixed).withColumn("n_chars", F.length(suffixed))

    replicate("documents", mutate_docs)

    def mutate_emb(df, i):
        df = df.withColumn("vec_id", F.col("vec_id") + F.lit(i * KEY_STRIDE))
        if i == 0:
            return df
        # sign-flip pattern per replica: A**2 == I keeps within-replica
        # cosines exact while cross-replica pairs decorrelate
        signs = F.array(*[F.lit(-1.0 if (i >> b) & 1 else 1.0) for b in range(16)])
        flipped = F.transform(
            F.col("embedding"),
            lambda v, d: v * F.element_at(signs, (d % 16 + 1).cast("int")),
        ).cast("array<float>")
        return df.withColumn("embedding", flipped)

    replicate("embeddings", mutate_emb)
    return out


def bench(sf_dir: str, names: list[str]) -> dict[str, float]:
    """build_s + exec_s per query from one ``bench.py`` run at ``sf_dir``,
    read back from the records the run appended to BENCH_HISTORY.jsonl."""
    history = os.path.join(ROOT, "BENCH_HISTORY.jsonl")
    start = os.path.getsize(history) if os.path.exists(history) else 0
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), *names],
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir),
        stdout=subprocess.DEVNULL,
        check=True,
    )
    with open(history) as f:
        f.seek(start)
        recs = [json.loads(line) for line in f]
    return {r["query"]: round(r["build_s"] + r["exec_s"], 3) for r in recs if "build_s" in r}


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    names = sys.argv[2:] or DEFAULT_QUERIES
    spark = get_spark(app_name="scale_probe")
    scaled_dir = build_scaled(spark, k)
    spark.stop()

    t1 = bench(BASE_SF, names)
    tk = bench(scaled_dir, names)
    flagged = []
    for n in names:
        if n not in t1 or n not in tk:
            print(f"{n}: failed at x1 or x{k}")
            flagged.append(n)
            continue
        ratio = tk[n] / max(t1[n], 1e-9)
        status = "SUPER-LINEAR" if ratio > 1.5 * k and tk[n] > 2.0 else "ok"
        if status != "ok":
            flagged.append(n)
        print(f"{n}: x1={t1[n]:.2f}s x{k}={tk[n]:.2f}s ratio={ratio:.1f} {status}")
    print(json.dumps({"k": k, "flagged": flagged}))


if __name__ == "__main__":
    main()
