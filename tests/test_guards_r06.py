"""Regression pins for the r6 ADVICE guards (no Spark needed)."""

import pytest


def test_lcp_expr_rejects_non_power_of_two_max_pow():
    from extractors_metadata_spark.operators.index_build import lcp_expr

    # 48 -> 48,24,12,6,3,1 cannot measure LCP=2 (ADVICE r5)
    with pytest.raises(ValueError, match="power of two"):
        lcp_expr("a", "b", max_pow=48)
    # powers of two still work
    assert "substr" in lcp_expr("a", "b", max_pow=32)


def test_build_automaton_rejects_empty_pattern():
    from extractors_metadata_spark.operators.ahocorasick import build_automaton

    with pytest.raises(ValueError, match="empty-string pattern"):
        build_automaton(["ab", ""])
