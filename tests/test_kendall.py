"""Kendall tau-b vs a brute-force O(n^2) numpy reference."""

import numpy as np
import pytest

from whylogs_spark.ops.stats import kendall_tau

RNG = np.random.RandomState(3)


def _tau_ref(xs, ys):
    n = len(xs)
    C = D = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = np.sign(xs[j] - xs[i])
            dy = np.sign(ys[j] - ys[i])
            s = dx * dy
            if s > 0:
                C += 1
            elif s < 0:
                D += 1
    n0 = n * (n - 1) / 2
    _, tx = np.unique(xs, return_counts=True)
    _, ty = np.unique(ys, return_counts=True)
    n1 = float((tx * (tx - 1) / 2).sum())
    n2 = float((ty * (ty - 1) / 2).sum())
    tau = (C - D) / np.sqrt((n0 - n1) * (n0 - n2))
    return C, D, tau


class TestKendall:
    def test_matches_bruteforce_with_ties(self, spark):
        xs = RNG.randint(0, 8, 300).astype(float)
        ys = (xs * 2 + RNG.randint(0, 6, 300)).astype(float)
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(xs, ys)],
            "x double, y double")
        r = kendall_tau(df, "x", "y").collect()[0]
        C, D, tau = _tau_ref(xs, ys)
        assert r["n"] == 300
        assert r["concordant"] == C
        assert r["discordant"] == D
        assert r["tau_b"] == pytest.approx(tau, rel=1e-12)

    def test_perfect_and_inverse(self, spark):
        rows = [(float(i), float(i * 3)) for i in range(50)]
        df = spark.createDataFrame(rows, "x double, y double")
        assert kendall_tau(df, "x", "y").collect()[0]["tau_b"] \
            == pytest.approx(1.0)
        rows = [(float(i), float(-i)) for i in range(50)]
        df = spark.createDataFrame(rows, "x double, y double")
        assert kendall_tau(df, "x", "y").collect()[0]["tau_b"] \
            == pytest.approx(-1.0)

    def test_constant_column_null_tau(self, spark):
        df = spark.createDataFrame(
            [(1.0, float(i)) for i in range(10)], "x double, y double")
        r = kendall_tau(df, "x", "y").collect()[0]
        assert r["tau_b"] is None

    def test_max_cells_guard(self, spark):
        df = spark.range(100).selectExpr("id * 1.0 AS x",
                                         "id * 2.0 AS y")
        with pytest.raises(ValueError, match="max_cells"):
            kendall_tau(df, "x", "y", max_cells=10)

    def test_null_nan_drop(self, spark):
        df = spark.createDataFrame(
            [(1.0, 1.0), (2.0, 2.0), (None, 3.0),
             (float("nan"), 4.0), (3.0, None)],
            "x double, y double")
        r = kendall_tau(df, "x", "y").collect()[0]
        assert r["n"] == 2 and r["concordant"] == 1

    def test_releases_its_cell_cut(self, spark):
        """Two calls leave no checkpointed RDD behind: the one-row
        result is local, so the cut of the cell table is released."""
        jsc = spark.sparkContext._jsc
        df = spark.createDataFrame(
            [(float(i % 7), float(i % 5)) for i in range(100)],
            "x double, y double")
        before = jsc.getPersistentRDDs().size()
        for _ in range(2):
            assert kendall_tau(df, "x", "y").collect()[0]["n"] == 100
        assert jsc.getPersistentRDDs().size() == before
