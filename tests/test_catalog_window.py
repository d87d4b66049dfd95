"""Catalog registration invariants.

The driver's correctness gate oracle-verifies the FIRST 50 entries of
``catalog.QUERIES`` in insertion order. These tests pin the frozen
window (its position, every entry but one oracle-checked) and the
extension-catalog registration so a refactor can't silently
shrink the hard correctness signal again (round-1 VERDICT: 84/134
queries fell outside the window; catalog_ext was dead).
"""

from __future__ import annotations

from yelp_etl_spark.plans.catalog import _DRIVER_WINDOW, QUERIES
from yelp_etl_spark.plans.catalog_ext import EXTRA_QUERIES

# approximate/sketch queries whose outputs are seed- or
# error-bound-dependent: rows-only by design (each has an exact
# oracle-checked twin elsewhere in the catalog). pq_topk left this set
# in round 7: its default codebook sample became the exact id-range
# grid, so the full encode/ADC/rank path now carries a value oracle.
ROWS_ONLY_BY_DESIGN = {
    "minhash_neardup",
    "simhash_sketch",
    "approx_distinct",
    "lsh_topk",
    "ivf_topk",
    "hll_mergeable",
    # iterative contraction is not SQL-expressible; the in-query
    # forest identity |MST| = |V| - #components checks against
    # independent label-propagation components, and the edge-for-edge
    # Kruskal twin lives in test_boruvka_matches_kruskal_fixture
    "boruvka_mst",
}


def test_driver_window_is_first_50_entries():
    names = list(QUERIES)
    assert len(_DRIVER_WINDOW) == 50
    assert names[: len(_DRIVER_WINDOW)] == list(_DRIVER_WINDOW)


def test_driver_window_entries_all_oracle_checked():
    # at most ONE rows-only slot in the window: approx_distinct, whose
    # exact twin distinct_counts carries the value oracle. Everything
    # else in the window must be hard-checked.
    no_oracle = [n for n in _DRIVER_WINDOW if QUERIES[n].oracle is None]
    assert set(no_oracle) <= {"approx_distinct"}, (
        f"window entries without oracle: {no_oracle}"
    )


def test_rotated_out_rows_remain_oracle_checked_locally():
    # everything outside the window stays registered and
    # oracle-checked by the local parity gate (scripts/check_parity.py),
    # except the pinned approximate rows-only set
    missing = [
        n
        for n, spec in QUERIES.items()
        if n not in _DRIVER_WINDOW
        and spec.oracle is None
        and n not in ROWS_ONLY_BY_DESIGN
    ]
    assert missing == [], f"non-window queries lost their oracle: {missing}"
    # and the rows-only set itself must not silently grow
    actually_rows_only = {n for n, s in QUERIES.items() if s.oracle is None}
    assert actually_rows_only == ROWS_ONLY_BY_DESIGN


def test_extension_catalog_registered():
    for name in EXTRA_QUERIES:
        assert name in QUERIES, f"catalog_ext query {name!r} not registered"
        if name not in ROWS_ONLY_BY_DESIGN:
            assert QUERIES[name].oracle is not None


def test_no_duplicate_registration_lost_entries():
    # the catalog is frozen at 358 queries, so an ext module that stops
    # registering a query changes the count; a name registered both in
    # catalog.py and in an ext module would not (the later entry would
    # shadow the earlier one), so the ext merge refuses it at import
    assert len(QUERIES) == len(set(QUERIES)) == 358
