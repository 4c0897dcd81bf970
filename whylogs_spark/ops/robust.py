"""Robust (Huber) and quantile linear regression — the
outlier-resistant siblings of ``ops/glm.py ols_report``: squared loss
within ``delta`` robust scales of the fit, absolute loss outside, so a
handful of wild rows bends the line instead of owning it (Huber
1964); or the pinball loss of a conditional quantile.

Both fit by IRLS on ``ops.glm``'s shared Newton driver (:func:`_irls`)
and differ only in their weights: each iteration runs ONE weighted
moment-matrix aggregate over the data (p(p+3)/2 scalars collected,
never rows) and a driver-side p×p solve.  Huber re-estimates the
robust scale sigma each iteration from the median absolute residual
(one exact-percentile aggregate).  Job count = iterations, data
touched once per iteration, everything else is driver algebra on a
tiny matrix.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whylogs_spark.ops.glm import _design, _eta, _gram, _moments, _newton

__all__ = ["huber_regression", "quantile_regression"]


def _irls(df: DataFrame, y_col: str, x_cols: Sequence[str],
          weight: Callable, name: str, max_iter: int, tol: float,
          finish: Optional[Callable] = None):
    """Iteratively reweighted least squares of ``y ~ intercept + x``.
    Starts from OLS (unit weights); each step solves the least squares
    weighted by ``weight(base, r)`` at the current residuals ``r`` and
    returns ``None`` instead of a weight to stop as a perfect fit.
    Converged once no coefficient moves by ``tol·(1 + max|beta|)``.
    ``finish(base, r)`` runs at the final residuals.  Returns ``(beta,
    iterations, converged, n, finish's result)``."""
    p = len(x_cols) + 1
    xs = [F.lit(1.0)] + [F.col(f"__x{i}") for i in range(p - 1)]
    y = F.col("__y")
    seen = {}

    def residuals(beta):
        return y - _eta(beta, xs, clamp=False)

    def wls(base, w):
        m, _ = _moments(base.agg(*_gram(xs + [y], w)).collect()[0], p + 1)
        return np.linalg.solve(m[:p, :p], m[:p, p])

    def start(base):
        n = seen["n"] = base.count()
        if n < p + 1:
            raise ValueError(f"{name} needs > {p} rows, got {n}")
        return wls(base, F.lit(1.0))

    def step(base, beta):
        w = weight(base, residuals(beta))
        return None if w is None else wls(base, w)

    beta, it, converged, out = _newton(
        _design(df, x_cols, __y=y_col), start, step, max_iter=max_iter,
        tol=tol, relative=True,
        finish=(lambda base, b: finish(base, residuals(b)))
        if finish else None)
    return beta, it, converged, seen["n"], out


def huber_regression(
    df: DataFrame,
    y_col: str,
    x_cols: Sequence[str],
    delta: float = 1.345,
    max_iter: int = 25,
    tol: float = 1e-8,
) -> DataFrame:
    """-> one row per coefficient (intercept first): ``(term, beta,
    iterations, converged, sigma, n)``.

    ``delta=1.345`` gives 95% efficiency under pure Gaussian noise —
    the standard choice.  Weights: ``w_i = 1`` when ``|r_i| <=
    delta*sigma``, else ``delta*sigma/|r_i|``; ``sigma`` is the
    normalized median absolute residual (MAD / 0.6745).  Null/NaN
    rows drop.  Starts from the OLS solution (iteration 0 with unit
    weights).
    """
    if delta <= 0:
        raise ValueError(f"delta must be > 0: {delta}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1: {max_iter}")
    xs = list(x_cols)
    fit = {"sigma": float("nan")}

    def weight(base, r: Column) -> Optional[Column]:
        mad = base.agg(F.percentile(F.abs(r), 0.5)).collect()[0][0]
        sigma = fit["sigma"] = float(mad) / 0.6745
        if sigma <= 0:
            return None  # perfect fit
        cut = delta * sigma
        return F.when(F.abs(r) <= cut, F.lit(1.0)) \
            .otherwise(F.lit(cut) / F.abs(r))

    beta, it, converged, n, _ = _irls(
        df, y_col, xs, weight, "huber_regression", max_iter, tol)
    sigma = fit["sigma"]

    terms = ["intercept"] + xs
    rows = [(t, float(b_), it, bool(converged), float(sigma), int(n))
            for t, b_ in zip(terms, beta)]
    return df.sparkSession.createDataFrame(
        rows, "term string, beta double, iterations int, "
              "converged boolean, sigma double, n long")


def quantile_regression(
    df: DataFrame,
    y_col: str,
    x_cols: Sequence[str],
    tau: float = 0.5,
    max_iter: int = 50,
    tol: float = 1e-8,
    eps: float = 1e-6,
) -> DataFrame:
    """Quantile (pinball-loss) linear regression: fit the conditional
    ``tau``-quantile of ``y`` — median regression at ``tau = 0.5``,
    tail behavior at 0.9/0.99 (SLA latency curves, demand upper
    bounds) — where OLS fits only the conditional MEAN.  One row per
    coefficient (intercept first): ``(term, beta, tau, iterations,
    converged, pinball_loss, n)``.

    Fit by IRLS on the check function rho_tau(r) = r*(tau - 1{r<0})
    (Koenker & Bassett 1978): each step reweights
    ``w_i = |tau - 1{r_i < 0}| / max(|r_i|, eps)`` (the standard
    smoothed-|r| scheme) and solves weighted least squares.  ``eps``
    floors the near-zero residuals that would otherwise blow up the
    weights; the fixed point is the pinball-loss minimizer up to the
    smoothing.  Starts from OLS (unit weights).

    Same loop as :func:`huber_regression` (:func:`_irls`): every
    iteration runs ONE weighted moment-matrix aggregate over the data
    (p(p+3)/2 scalars collected, never rows) and a driver-side p x p
    solve; the final pinball loss is one more bounded aggregate.  Job
    count = iterations; the base is materialized once.
    """
    if not 0.0 < tau < 1.0:
        raise ValueError(f"tau must be in (0, 1): {tau}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1: {max_iter}")
    if eps <= 0:
        raise ValueError(f"eps must be > 0: {eps}")
    xs = list(x_cols)

    def weight(base, r: Column) -> Column:
        return (F.abs(F.lit(tau)
                      - F.when(r < 0, F.lit(1.0)).otherwise(F.lit(0.0)))
                / F.greatest(F.abs(r), F.lit(float(eps))))

    def pinball(base, r: Column) -> float:
        return base.agg(F.avg(
            F.when(r >= 0, F.lit(tau) * r)
            .otherwise((F.lit(tau) - 1.0) * r)).alias("l")
        ).collect()[0]["l"]

    beta, it, converged, n, loss = _irls(
        df, y_col, xs, weight, "quantile_regression", max_iter, tol,
        finish=pinball)

    terms = ["intercept"] + xs
    rows = [(t, float(b_), float(tau), it, bool(converged),
             float(loss), int(n)) for t, b_ in zip(terms, beta)]
    return df.sparkSession.createDataFrame(
        rows, "term string, beta double, tau double, iterations int, "
              "converged boolean, pinball_loss double, n long")
