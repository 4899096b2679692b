"""Unit tests for the scaling-harness headline selection.

The north rule's two-cluster-size criterion is evidenced by same-window
low/high pairs (BENCH/run_scaling.py). On this noisy-neighbor sandbox a
window whose LOW leg is crushed by co-tenants produces a superlinear
"efficiency" — the harness must never headline (or PASS on) such a
pair. No SparkSession needed: pure selection logic.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH"))

from run_scaling import EFF_VALID_MAX, select_headline  # noqa: E402


def test_clean_window_picks_best_and_median():
    best_i, median, invalid = select_headline([0.784, 0.796, 0.731])
    assert best_i == 1
    assert median == 0.784
    assert invalid == []


def test_superlinear_pair_excluded_from_best():
    # the observed 11:14Z window: crushed-high pair, crushed-low pair,
    # one clean pair — headline must be the clean 0.706, not "1.599"
    best_i, median, invalid = select_headline([0.441, 1.599, 0.706])
    assert best_i == 2
    assert invalid == [1.599]
    # median over the two valid pairs only
    assert median == round((0.441 + 0.706) / 2, 3)


def test_boundary_is_inclusive_of_jitter():
    # 1.05 is honest jitter, still valid; just above is not
    best_i, _, invalid = select_headline([EFF_VALID_MAX, 0.9])
    assert best_i == 0
    assert invalid == []
    best_i, _, invalid = select_headline([EFF_VALID_MAX + 0.001, 0.9])
    assert best_i == 1
    assert invalid == [EFF_VALID_MAX + 0.001]


def test_all_superlinear_raises():
    with pytest.raises(RuntimeError, match="superlinear"):
        select_headline([1.2, 1.6])


def test_single_valid_pair_is_both_best_and_median():
    best_i, median, invalid = select_headline([1.4, 0.82])
    assert best_i == 1
    assert median == 0.82
    assert invalid == [1.4]
