"""Parity gap-fill: registry queries that had DRIVER evidence but no
pytest reference (found by a round-10 audit grepping every registered
name against tests/). Each gets the standard oracle-parity check at
sf0.001 so CI covers them between driver rounds; rows-only contracts
get a schema/rows smoke instead.
"""

from __future__ import annotations

import pytest

from tests.conftest import assert_parity
from velox_hadoop_spark.plans import registry

GAPFILL = [
    "stateful_totals_batch_twin",
    "multimodal_frame_sample",
    "skyline_3d_parts",
    "asof_join_grouped_backward",
    "exists_suppliers_with_returns",
    "not_exists_parts_never_ordered",
    "in_subquery_high_value_customers",
    "scalar_subquery_above_nation_avg",
    "exists_double_correlation_orders",
    "lateral_top2_orders_per_customer",
    "in_subquery_nested_two_level",
    "stack_part_measures",
    "percentile_disc_vs_cont",
    "first_last_nth_event_values",
    "bitwise_flag_aggregates",
    "window_range_between_value",
    "math_functions",
    "conditional_functions",
    "timestamp_functions",
    "hash_functions",
    "cross_shard_dedup_reconcile",
    "pack_overflow_stats",
    "shard_skew_report",
    "decontam_removal_by_source",
    "connected_components_lss",
    "dangling_fk_audit",
]


@pytest.mark.parametrize("name", GAPFILL)
def test_oracle_parity(spark, duck, name):
    # every GAPFILL name has an oracle (verified at review) — keep this
    # loud if a rename ever breaks that, rather than silently smoking
    assert registry.specs()[name].oracle is not None
    assert_parity(spark, duck, name)
