"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``velox_hadoop_spark.plans.registry`` — the engine's
named-query registry. Every operator family in SURVEY.md §2 registers
its queries (Spark plan + DuckDB oracle SQL) there.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)

from velox_hadoop_spark.plans import registry  # noqa: E402


def _verified_names() -> set[str]:
    """Query names with a fully-green row in any committed CORRECTNESS_r*.json.

    The driver verifies a bounded prefix of ``queries()`` per round, so we
    order never-verified queries first: across rounds every query gets a
    hash-verified row without dropping already-green ones from the surface.
    """
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
                green.add(name)
    return green


# Driver-green rows whose underlying code or oracle changed AFTER the
# green row was recorded. They re-enter the verification queue at the
# front so the driver refreshes their evidence. Round 10's 13 names all
# re-greened in CORRECTNESS_r10 and were dropped; repopulated with
# round 11's semantic/oracle rewrites:
_REVERIFY = (
    # ROUND-14 riders (optimization round 2) — value-neutral PLAN
    # rewrites to green rows, all re-gated identical against the
    # DuckDB oracle at sf0.001 + sf0.01 (most also at sf0.1) before
    # landing, and the full driver contract re-ran 412/412 MATCH at
    # sf0.01 TWICE this round (once per landed batch). The three
    # round-13 riders all re-greened in CORRECTNESS_r13 and are
    # dropped (the r12-verdict queue discipline).
    #
    # (a) budget arms ride one exploded frame: ONE window + ONE hit
    # aggregate replace 3 windows + 3 aggregates + union; persist
    # moved from the wide scored frame to the candidate frame:
    "ann_recall_budget_curve",
    # (b) hot-shingle cap as the shared drop_hot_keys broadcast
    # anti-join; member intersections via sorted-array in-row pair
    # generation instead of a row-level self-join:
    "intra_cluster_jaccard_audit",
    # (c) one persisted signature/candidate chain feeds BOTH the
    # estimator (shared minhash_estimate kernel) and the exact side —
    # the 8-seed MinHash and band self-join no longer run twice:
    "minhash_estimate_error_audit",
    # (d) doremi_weight_frames pre-aggregates the token explode to
    # per-(source, token) counts before persisting (3 persists -> 2;
    # cached frame shrinks from token multiset to sources x vocab):
    "doremi_mixture_shift_report",
    # (e) per-cluster first-seen / keeper now annotate rows as ONE
    # cluster-keyed window instead of aggregate + join-back:
    "snapshot_novelty_rate",
    "cross_snapshot_dedup_decay",
    # (f) skyline phase-1 collect: limit(cap+1).toPandas() doubles as
    # the cap probe (2 actions + persist -> 1 action):
    "skyline_3d_parts",
    # (g) no state outlives a query: the IVF codebook, the recall
    # ground truth and the DoReMi base histogram are derived inside
    # every call (no driver memo caches), and the streaming runners
    # read events.parquet in place (no temp-dir source copy). The
    # doremi riders move up from _REVERIFY_TAIL; ann_recall_budget_curve
    # and doremi_mixture_shift_report are already queued above:
    "ann_ivf_topk",
    "ann_lsh_recall_at_k",
    "ann_multiprobe_recall",
    "ann_ivf_recall",
    "ann_hard_negatives",
    "ivf_cell_balance_report",
    "doremi_mixture_reweight",
    "doremi_weighted_resample",
    "doremi_resample_report",
    "streaming_tumbling_runner",
    "streaming_dedup_runner",
    "streaming_stateful_totals_runner",
    # (h) one way to read a table: these read events through a raw
    # parquet scan, which rejected (or, with nanosAsLong left set by an
    # earlier query, misread) a TIMESTAMP(NANOS) events.ts; they now
    # read through catalog.read_table like every other query:
    "asof_join_grouped_backward",
    "asof_join_tolerance",
    "grouped_locf_daily_fill",
    "time_to_convert_percentiles",
    "peak_hourly_rate_per_user",
    "event_path_3grams",
    "attribution_position_based",
    "conversion_paths_top",
    "parse_url_events",
    # (i) one bounded cosine-tile kernel: the all-vectors top-1 and the
    # near-dup pairs run through the block-matrix cogroup at every size
    # (the broadcast-matrix kernels are deleted):
    "knn_top1_all",
    "embedding_near_dup",
    # (j) the exact side counts distinct (nation, part) pairs and the
    # sketch aggregates over them (HLL++ unchanged by repeats):
    "approx_distinct_parts_per_supplier",
)


# Green rows whose kernels were HARDENED with provably value-neutral
# rewrites — all re-gated at sf0.01 AND sf0.1 with identical results.
# They re-enter the queue BEHIND the never-verified group: fresh driver
# evidence is desirable but must not displace a new registration's
# FIRST row (the every-query-has-a-row invariant). Round-14 tail:
# value-identical SHARED-KERNEL rider of the _REVERIFY rewrites above
# — the estimator expression moved into the minhash_estimate kernel
# (same expressions, same inputs, bit-equal):
_REVERIFY_TAIL = ("minhash_jaccard_estimate",)


def _priority_order(names: list[str]) -> list[str]:
    """Stale-evidence rows first, never-verified queries right behind
    them (registration order preserved otherwise) so the driver's
    per-round verification budget lands on the queries that have
    waited longest for a current green CORRECTNESS row."""
    green = _verified_names()
    reverify = [n for n in _REVERIFY if n in names]
    reverify_tail = [n for n in _REVERIFY_TAIL if n in names]
    rest = [n for n in names if n not in green and n not in _REVERIFY]
    tail = [
        n
        for n in names
        if n in green and n not in _REVERIFY and n not in _REVERIFY_TAIL
    ]
    return reverify + rest + reverify_tail + tail


def _utc(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Pin the session to UTC: LTZ timestamps must render identically to
    DuckDB's naive (UTC-wall-clock) timestamps regardless of the host
    timezone of whatever session the driver passes in."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Grep-style pipeline (reference: Grep.java:62-100 semantics on table
    data): regex extract + grouped count + total-order sort.
    """
    return _utc(registry.queries()["grep"])(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    qs = registry.queries()
    return {name: _utc(qs[name]) for name in _priority_order(list(qs))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for
    non-SQL-expressible iterative/stateful ops)."""
    oracles = registry.oracles()
    return {name: oracles[name] for name in _priority_order(list(oracles))}
