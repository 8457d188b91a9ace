"""Unit tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import helpers  # noqa: E402


# -- a percentile needs at least 10 samples beyond it ------------------------


def test_p95_needs_ten_samples_beyond_it():
    # 199 samples: rank ceil(0.95 * 199) = 190 leaves 9 beyond
    assert helpers.percentile(list(range(199)), 0.95) is None
    # 200 samples: rank 190 leaves exactly 10 beyond
    assert helpers.percentile([float(x) for x in range(1, 201)], 0.95) == 190.0


def test_percentile_is_nearest_rank_and_order_free():
    values = [float(x) for x in range(100, 0, -1)]
    assert helpers.percentile(values, 0.5) == 50.0
    assert helpers.percentile(values, 0.9) == 90.0
    assert helpers.percentile(values, 0.91) is None


def test_percentile_rejects_out_of_range_quantile():
    with pytest.raises(ValueError):
        helpers.percentile([1.0] * 50, 1.0)


# -- mapping cumulative emitted totals to published files --------------------


def test_first_covering_maps_totals_to_files():
    cumulative = [1000, 2000, 3000, 4000]
    emissions = [(1.0, 1000), (2.0, 3000), (3.0, 4000)]
    assert helpers.first_covering(emissions, cumulative) == [1.0, 2.0, 2.0, 3.0]


def test_first_covering_leaves_uncovered_files_none():
    assert helpers.first_covering([(1.0, 1500)], [1000, 2000]) == [1.0, None]
    assert helpers.first_covering([], [1000]) == [None]


def test_first_covering_skips_emissions_without_new_files():
    # repeated totals (a batch that only saw replayed duplicates) are skipped
    emissions = [(1.0, 1000), (2.0, 1000), (3.0, 2000)]
    assert helpers.first_covering(emissions, [1000, 2000]) == [1.0, 3.0]


# -- how late the open-loop feeder ran ---------------------------------------


def test_lateness_clamps_early_and_reports_ms():
    due = [0.0, 1.0, 2.0, 3.0]
    actual = [0.0, 1.002, 1.999, 3.010]
    late = helpers.lateness(due, actual)
    assert late["n"] == 4
    assert late["late_ms_max"] == pytest.approx(10.0)
    assert late["late_ms_p50"] == pytest.approx(1.0)


def test_lateness_requires_pairs():
    with pytest.raises(ValueError):
        helpers.lateness([0.0, 1.0], [0.0])


def test_due_times_is_a_fixed_schedule():
    assert helpers.due_times(10.0, 0.25, 11.0) == [10.0, 10.25, 10.5, 10.75]
    assert helpers.due_times(5.0, 30.0, 25.0) == [5.0]
    with pytest.raises(ValueError):
        helpers.due_times(0.0, 0.0, 1.0)


# -- rig and result comparison -----------------------------------------------


def test_steal_share_reads_the_eighth_field():
    before = [100, 0, 100, 700, 0, 0, 0, 100, 0, 0]
    after = [200, 0, 200, 1400, 0, 0, 0, 200, 0, 0]
    assert helpers.steal_share(before, after) == pytest.approx(0.1)
    assert helpers.steal_share([], after) == 0.0


def test_same_rows_ignores_row_and_column_order():
    ts = dt.datetime(2024, 11, 5, 3)
    a = (["n", "t", "x"], [(1, ts, "a"), (2, ts, "b")])
    b = (["x", "n", "t"], [("b", 2.0, ts), ("a", 1.0, ts)])
    assert helpers.same_rows(*a, *b)
    assert not helpers.same_rows(*a, ["x", "n", "t"], [("b", 3, ts), ("a", 1, ts)])
    assert not helpers.same_rows(*a, ["x", "n", "t"], [("a", 1, ts)])


def test_same_rows_tolerates_only_two_decimal_rounding_at_a_half():
    # 8099 of 20000 is 40.495 %: Spark rounds up, DuckDB down
    assert helpers.same_rows(["p"], [(40.5,)], ["p"], [(40.49,)])
    assert not helpers.same_rows(["p"], [(40.5,)], ["p"], [(40.48,)])
    assert not helpers.same_rows(["p"], [(0.125,)], ["p"], [(0.135,)])
