"""Oracle parity for the round-3 curation-funnel additions."""

import pytest

from tests.conftest import ROOT, assert_parity

PARITY_QUERIES = [
    "minhash_jaccard_estimate",
    "incremental_dedup_new_docs",
    "length_band_filter",
    "incremental_lsh_near_dup",
    "date_functions",
    "argmax_order_extremes",
    "topk_parts_per_supplier_agg",
    "regression_functions",
    "dau_mau_stickiness",
    "degree_powerlaw_fit",
    "cross_lang_shingle_overlap",
    "multimodal_features",
    "attribution_last_touch",
    "constraint_violations_report",
    "centroid_separation_matrix",
    "cohort_ltv_curve",
    "udtf_word_bigrams",
    "funnel_view_click_purchase",
    "error_rate_burn",
    "discount_elasticity_by_brand",
    "spend_quartile_migration",
    "weighted_median_quantity",
    "longest_order_streak",
    "order_fill_latency",
    "supplier_concentration_hhi",
    "order_interarrival_histogram",
    "stateful_sessions_batch_twin",
    "nation_trade_flow_matrix",
    "nation_revenue_share",
]


@pytest.mark.parametrize("name", PARITY_QUERIES)
def test_oracle_parity(spark, duck, name):
    assert_parity(spark, duck, name)


def test_jaccard_estimate_covers_all_candidates(spark, duck):
    """Every LSH candidate pair gets exactly one estimate row, and the
    estimate is in [bands-collision floor, 1]: a pair can only become a
    candidate by agreeing on at least one full band (2 of 8 rows)."""
    from tests.conftest import SF_DIR
    from velox_hadoop_spark.operators.dedup import (
        q_lsh_candidate_pairs,
        q_minhash_jaccard_estimate,
    )

    est = q_minhash_jaccard_estimate(spark, SF_DIR)
    cand = q_lsh_candidate_pairs(spark, SF_DIR)
    assert est.count() == cand.count()
    from pyspark.sql import functions as F

    assert est.where((F.col("n_equal") < 2) | (F.col("n_equal") > 8)).count() == 0


def test_oracle_lint_no_hugeint_outputs():
    """Every registered oracle must type its integer aggregates: DuckDB
    HUGEINT (count_if, sum over ints) reaches the driver's Arrow hash
    as decimal128 while Spark emits int64 — value-identical rows would
    hash-mismatch. scripts/lint_oracles.py holds the class permanently."""
    import subprocess
    import sys as _sys

    res = subprocess.run(
        [_sys.executable, "scripts/lint_oracles.py"],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=300,
    )
    assert res.returncode == 0, res.stdout + res.stderr


def test_priority_order_invariants():
    """Round-5+ driver-sample ordering contract:

        _REVERIFY → unverified-rest → _REVERIFY_TAIL → green tail

    Every _REVERIFY/_REVERIFY_TAIL name must exist in the registry
    (typo guard) and every query is listed exactly once; no
    never-verified query may follow the start of the green
    tail (rows-only queries never earn a hash-green row, so they count
    as unverified and correctly stay ahead of the tail); _REVERIFY
    names — green rows whose kernel/oracle changed after the row was
    recorded — precede the tail so the driver refreshes their evidence."""
    import __spark_entry__ as entry

    names = list(entry.queries())
    registered = set(names)
    assert len(names) == len(registered)
    assert set(entry._REVERIFY) <= registered
    assert set(entry._REVERIFY_TAIL) <= registered
    green = entry._verified_names()
    tail_start = min(
        (
            names.index(n)
            for n in names
            if n in green and n not in entry._REVERIFY
        ),
        default=len(names),
    )
    # everything from the tail onward must be green (no unverified
    # query may hide behind the green tail and starve the burn-down)
    for n in names[tail_start:]:
        assert n in green, n
    # reverify names re-enter the queue ahead of the green tail
    for n in entry._REVERIFY:
        assert names.index(n) < tail_start, n


def test_priority_order_unit():
    """_priority_order on a synthetic name list: reverify order
    preserved up front, remaining unverified names keep registration
    order, reverify-tail names follow the unverified group, green
    names (minus both reverify groups) close the queue in
    registration order. Pure-function check, independent of round
    state."""
    import __spark_entry__ as entry

    names = ["g1", "u1", "t1", "g2", "r2", "u2", "r1"]
    green = {"g1", "g2", "r1", "r2", "t1"}
    orig_green = entry._verified_names
    orig = entry._REVERIFY, entry._REVERIFY_TAIL
    entry._verified_names = lambda: green
    entry._REVERIFY, entry._REVERIFY_TAIL = ("r1", "r2"), ("t1",)
    try:
        got = entry._priority_order(names)
    finally:
        entry._verified_names = orig_green
        entry._REVERIFY, entry._REVERIFY_TAIL = orig
    assert got == ["r1", "r2", "u1", "u2", "t1", "g1", "g2"]
