"""Oracle-differential tests for the relational operator catalog
(B-1..B-6) — mirrors the driver's gate (SURVEY.md §5.2 layer 1)."""

from __future__ import annotations

import pytest

from netcdf4_variable_streamer_spark.registry import REGISTRY

AGG_KEYS = [
    "q_agg_groupby_sum", "q_agg_having", "q_agg_distinct",
    "q_agg_approx_distinct", "q_agg_rollup", "q_agg_cube",
    "q_agg_grouping_sets", "q_agg_stats", "q_agg_collect",
    "q_agg_percentiles", "q_agg_median_mode", "q_agg_sketches",
]
SUBQUERY_KEYS = [
    "q_subquery_scalar", "q_subquery_scalar_corr",
    "q_subquery_exists", "q_subquery_in",
]
JOIN_KEYS = [
    "q_join_inner_hash", "q_join_left_outer", "q_join_full_outer",
    "q_join_semi", "q_join_anti", "q_join_broadcast_star",
    "q_join_theta_range", "q_join_range_bucketed", "q_join_asof", "q_join_cross",
    "q_join_skew_salted", "q_merge_scd1", "q_merge_scd2",
]
SET_KEYS = [
    "q_sort_multikey_nulls", "q_topk_global", "q_union_all",
    "q_union_distinct", "q_intersect", "q_except",
]


@pytest.mark.parametrize("key", AGG_KEYS + JOIN_KEYS + SET_KEYS + SUBQUERY_KEYS)
def test_oracle_match(check, key):
    assert key in REGISTRY
    check(key)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"n_name", "revenue"}


def test_contract_shape():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert set(o) == set(q), "every key must carry a DuckDB oracle"


def test_contract_canonical_order():
    """The driver verifies a bounded prefix of queries() per round, so
    queries() iteration order must be exactly the registry's derived
    contract order (policy asserted in
    tests/test_registry_contract.py::test_window_policy)."""
    import __spark_entry__ as e
    from netcdf4_variable_streamer_spark.registry import ordered_registry

    keys = list(e.queries())
    assert keys == list(ordered_registry())
    assert keys == list(e.queries())  # stable across calls
