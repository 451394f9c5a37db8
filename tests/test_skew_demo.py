"""Skew mitigation demonstration (VERDICT r1 next-round #9): on a
power-law keyed join (one key owning ~55% of 6M rows), both AQE's
runtime skew split and the plan-time salted join must beat the naive
single-straggler sort-merge join — and all three must agree."""

from __future__ import annotations

import pytest

from tools.skew_demo import run_skew_comparison


@pytest.fixture(scope="module")
def skew_results(spark):
    # warmup: JVM/codegen + shuffle service paths, so the measured
    # pass compares plans rather than first-run costs
    run_skew_comparison(spark, n_rows=500_000, n_dim=10_000)
    return run_skew_comparison(spark, n_rows=6_000_000, n_dim=50_000)


def test_all_strategies_agree(skew_results):
    assert skew_results["rows"] == 6_000_000


def test_aqe_skew_split_beats_naive(skew_results):
    assert skew_results["aqe_sec"] < skew_results["naive_sec"] * 0.85, (
        f"AQE skew split ({skew_results['aqe_sec']}s) should beat the "
        f"straggler plan ({skew_results['naive_sec']}s)"
    )


def test_salted_join_beats_naive(skew_results):
    # salting's property is a shorter straggler, not a wall time on a
    # given host: the join stage's max-task / median-task shuffle-read
    # records must drop by the same 15% margin (n_salt=1 keeps ~5.7x)
    assert skew_results["salted_skew"] < skew_results["naive_skew"] * 0.85, (
        f"salted join straggler ratio ({skew_results['salted_skew']}) "
        f"should beat the straggler plan's ({skew_results['naive_skew']})"
    )
