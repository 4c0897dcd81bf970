"""Round-11 batch 5: concordance index and propensity matching — vs
independent numpy references."""

import numpy as np
import pytest

from whylogs_spark.ops.causal import propensity_match_att
from whylogs_spark.ops.survival import concordance_index

RNG = np.random.RandomState(47)


def _ref_cindex(t, e, s):
    """Naive O(n^2) Harrell's C, lifelines pair convention."""
    conc = tie = comp = 0.0
    n = len(t)
    for i in range(n):
        if e[i] != 1:
            continue
        for j in range(n):
            if i == j:
                continue
            comparable = (t[i] < t[j]) or (t[i] == t[j] and e[j] == 0)
            if not comparable:
                continue
            comp += 1
            if s[i] > s[j]:
                conc += 1
            elif s[i] == s[j]:
                tie += 1
    return comp, conc, tie, (conc + 0.5 * tie) / comp


class TestConcordance:
    def test_matches_naive_pairs_with_ties(self, spark):
        n = 150
        t = np.round(RNG.exponential(10.0, n), 0)  # heavy time ties
        s = np.round(RNG.uniform(0, 1, n), 1)      # heavy score ties
        e = (RNG.uniform(size=n) < 0.7).astype(float)
        df = spark.createDataFrame(
            [(float(a), float(b), float(c))
             for a, b, c in zip(t, e, s)],
            "t double, e double, s double")
        row = concordance_index(df, "t", "e", "s").collect()[0]
        comp, conc, tie, c = _ref_cindex(t, e, s)
        assert row["n"] == n
        assert row["n_events"] == int(e.sum())
        assert row["comparable"] == comp
        assert row["concordant"] == conc
        assert row["tied_score"] == tie
        assert abs(row["c_index"] - c) < 1e-12

    def test_perfect_and_random_scores(self, spark):
        n = 80
        t = np.arange(1.0, n + 1.0)
        e = np.ones(n)
        df = spark.createDataFrame(
            [(float(a), 1.0, float(-a)) for a in t],
            "t double, e double, s double")
        # score = -t: earlier events have HIGHER score -> perfect
        row = concordance_index(df, "t", "e", "s").collect()[0]
        assert row["c_index"] == 1.0
        df2 = spark.createDataFrame(
            [(float(a), 1.0, 0.5) for a in t],
            "t double, e double, s double")
        row2 = concordance_index(df2, "t", "e", "s").collect()[0]
        assert abs(row2["c_index"] - 0.5) < 1e-12  # all ties

    def test_max_cells_guard(self, spark):
        df = spark.createDataFrame(
            [(float(i), 1.0, float(i)) for i in range(50)],
            "t double, e double, s double")
        with pytest.raises(ValueError, match="max_cells"):
            concordance_index(df, "t", "e", "s", max_cells=10)


class TestPropensityMatch:
    def test_recovers_confounded_effect(self, spark):
        n = 4000
        x = RNG.normal(0, 1, n)
        pr = 1 / (1 + np.exp(-0.8 * x))
        tr = (RNG.uniform(size=n) < pr).astype(float)
        y = 1.5 * x + 2.0 * tr + RNG.normal(0, 0.4, n)
        df = spark.createDataFrame(
            [(i, float(a), float(b), float(c))
             for i, (a, b, c) in enumerate(zip(x, tr, y))],
            "id long, x double, t double, y double")
        row = propensity_match_att(
            df, "t", "y", ["x"], "id", caliper=0.02).collect()[0]
        naive = y[tr == 1].mean() - y[tr == 0].mean()
        assert abs(naive - 2.0) > 0.5        # confounding present
        assert abs(row["att"] - 2.0) < 0.3   # matching removes it
        assert row["n_matched"] <= row["n_treat"]
        assert row["match_rate"] > 0.9
        assert row["model_converged"]

    def test_deterministic(self, spark):
        n = 500
        x = RNG.normal(0, 1, n)
        tr = (RNG.uniform(size=n) < 0.4).astype(float)
        y = x + tr
        df = spark.createDataFrame(
            [(i, float(a), float(b), float(c))
             for i, (a, b, c) in enumerate(zip(x, tr, y))],
            "id long, x double, t double, y double")
        r1 = propensity_match_att(df, "t", "y", ["x"], "id")
        r2 = propensity_match_att(df, "t", "y", ["x"], "id")
        assert r1.collect() == r2.collect()

    def test_caliper_validation(self, spark):
        df = spark.createDataFrame([(1, 1.0, 1.0, 1.0)],
                                   "id long, x double, t double, y double")
        with pytest.raises(ValueError):
            propensity_match_att(df, "t", "y", ["x"], "id", caliper=2.0)
