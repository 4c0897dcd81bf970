"""The GLM fits and the shared Newton driver — vs independent numpy
references."""

import numpy as np
import pytest

from whylogs_spark.ops.causal import fit_logistic
from whylogs_spark.ops.glm import fit_poisson, poisson_score_col
from whylogs_spark.ops.survival import cox_ph

RNG = np.random.RandomState(47)


def _ref_poisson(x, y, iters=50, ridge=1e-8):
    xb = np.hstack([np.ones((len(y), 1)), x])
    beta = np.zeros(xb.shape[1])
    for _ in range(iters):
        eta = np.clip(xb @ beta, -30, 30)
        mu = np.exp(eta)
        grad = xb.T @ (y - mu)
        hess = (xb * mu[:, None]).T @ xb + ridge * np.eye(xb.shape[1])
        step = np.linalg.solve(hess, grad)
        beta += step
        if np.abs(step).max() < 1e-10:
            break
    return beta, hess


class TestPoisson:
    def test_matches_numpy_irls(self, spark):
        n = 600
        x = RNG.normal(0, 1, (n, 2))
        lam = np.exp(0.5 + 0.8 * x[:, 0] - 0.4 * x[:, 1])
        y = RNG.poisson(lam).astype(float)
        df = spark.createDataFrame(
            [(float(a), float(b), float(c))
             for (a, b), c in zip(x, y)],
            "x1 double, x2 double, y double")
        m = fit_poisson(df, "y", ["x1", "x2"])
        ref, hess = _ref_poisson(x, y)
        assert m["converged"] and m["n"] == n
        assert abs(m["intercept"] - ref[0]) < 1e-6
        assert abs(m["coef"]["x1"] - ref[1]) < 1e-6
        assert abs(m["coef"]["x2"] - ref[2]) < 1e-6
        ses = np.sqrt(np.diag(np.linalg.inv(hess)))
        assert abs(m["se"]["x1"] - ses[1]) < 1e-6
        # scoring: exp(eta)
        got = df.select(
            poisson_score_col(m).alias("p")).agg(
            {"p": "avg"}).collect()[0][0]
        want = np.exp(np.clip(
            np.hstack([np.ones((n, 1)), x]) @ ref, -30, 30)).mean()
        assert abs(got - want) < 1e-6

    def test_negative_labels_raise(self, spark):
        df = spark.createDataFrame([(1.0, -1.0), (2.0, 3.0)],
                                   "x double, y double")
        with pytest.raises(ValueError, match="negative"):
            fit_poisson(df, "y", ["x"])


def test_fits_without_usable_rows_raise(spark):
    # every row has a NaN feature, so the design frame is empty
    df = spark.createDataFrame([(float("nan"), 1.0, 2.0)],
                               "x double, y double, t double")
    with pytest.raises(ValueError, match="fit_logistic: no usable rows"):
        fit_logistic(df, "y", ["x"])
    with pytest.raises(ValueError, match="fit_poisson: no usable rows"):
        fit_poisson(df, "y", ["x"])
    with pytest.raises(ValueError, match="cox_ph: no usable rows"):
        cox_ph(df, "t", "y", ["x"])


@pytest.mark.parametrize("fit", [fit_logistic, fit_poisson])
def test_newton_fits_reject_max_iter_below_one(spark, fit):
    df = spark.createDataFrame([(0.0, 0.0), (1.0, 1.0), (2.0, 1.0)],
                               "x double, y double")
    with pytest.raises(ValueError, match="max_iter must be >= 1"):
        fit(df, "y", ["x"], max_iter=0)
