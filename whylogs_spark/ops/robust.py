"""Robust (Huber) linear regression — the outlier-resistant sibling
of ``ops/glm.py ols_report``: squared loss within ``delta`` robust
scales of the fit, absolute loss outside, so a handful of wild rows
bends the line instead of owning it (Huber 1964).

Fit by IRLS exactly like the house GLM family: each iteration runs
ONE weighted moment-matrix aggregate over the data (p(p+3)/2 scalars
collected, never rows) and a driver-side p×p solve.  The robust
scale sigma is re-estimated each iteration from the median absolute
residual (one exact-percentile aggregate).  Scale shape identical to
``fit_poisson``: job count = iterations, data touched once per
iteration, everything else is driver algebra on a tiny matrix.
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["huber_regression", "quantile_regression"]


def _weighted_moments(frame: DataFrame, feats: List[str], p: int):
    """ONE weighted moment-matrix aggregate: p(p+3)/2 scalars
    (upper-triangle X'WX + X'Wy) collected to the driver — the shared
    IRLS data pass for the robust/GLM family.  ``frame`` must carry
    ``__w`` (weight) and ``__y`` columns."""
    aggs = []
    for i in range(p):
        for j in range(i, p):
            aggs.append(F.sum(
                F.col("__w") * F.col(feats[i]) * F.col(feats[j])
            ).alias(f"m_{i}_{j}"))
        aggs.append(F.sum(
            F.col("__w") * F.col(feats[i]) * F.col("__y")
        ).alias(f"v_{i}"))
    row = frame.agg(*aggs).collect()[0]
    A = np.zeros((p, p))
    b = np.zeros(p)
    for i in range(p):
        for j in range(i, p):
            A[i, j] = A[j, i] = row[f"m_{i}_{j}"]
        b[i] = row[f"v_{i}"]
    return A, b


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
    p = len(xs) + 1
    y = F.col(y_col).cast("double")
    cond = y.isNotNull() & ~F.isnan(y)
    for c in xs:
        xc = F.col(c).cast("double")
        cond = cond & xc.isNotNull() & ~F.isnan(xc)
    base = df.filter(cond).select(
        y.alias("__y"), *[F.col(c).cast("double").alias(f"__x{i}")
                          for i, c in enumerate(xs)])
    from whylogs_spark.core.util import materialize, release
    base = materialize(base)
    try:
        n = base.count()
        if n < p + 1:
            raise ValueError(f"huber_regression needs > {p} rows, got {n}")

        feats = ["__one"] + [f"__x{i}" for i in range(len(xs))]
        wdf = base.withColumn("__one", F.lit(1.0))

        A, bvec = _weighted_moments(
            wdf.withColumn("__w", F.lit(1.0)), feats, p)
        beta = np.linalg.solve(A, bvec)
        converged = False
        it = 0
        sigma = float("nan")
        for it in range(1, max_iter + 1):
            pred = F.lit(float(beta[0]))
            for i in range(len(xs)):
                pred = pred + F.lit(float(beta[i + 1])) * F.col(f"__x{i}")
            resid = F.col("__y") - pred
            r = wdf.withColumn("__r", resid)
            mad = r.agg(F.expr(
                "percentile(abs(__r), 0.5)").alias("m")).collect()[0]["m"]
            sigma = float(mad) / 0.6745
            if sigma <= 0:
                converged = True  # perfect fit
                break
            cut = delta * sigma
            w = F.when(F.abs(F.col("__r")) <= cut, F.lit(1.0)) \
                .otherwise(F.lit(cut) / F.abs(F.col("__r")))
            A, bvec = _weighted_moments(r.withColumn("__w", w), feats, p)
            new_beta = np.linalg.solve(A, bvec)
            if float(np.max(np.abs(new_beta - beta))) < tol * (
                    1.0 + float(np.max(np.abs(beta)))):
                beta = new_beta
                converged = True
                break
            beta = new_beta
    finally:
        release(base)

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

    Scale shape identical to :func:`huber_regression` /
    ``ops.glm.fit_poisson``: every iteration runs ONE weighted
    moment-matrix aggregate over the data (p(p+3)/2 scalars
    collected, never rows) and a driver-side p x p solve; the final
    pinball loss is one more bounded aggregate.  Job count =
    iterations; the base is materialized once.
    """
    if not 0.0 < tau < 1.0:
        raise ValueError(f"tau must be in (0, 1): {tau}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1: {max_iter}")
    if eps <= 0:
        raise ValueError(f"eps must be > 0: {eps}")
    xs = list(x_cols)
    p = len(xs) + 1
    y = F.col(y_col).cast("double")
    cond = y.isNotNull() & ~F.isnan(y)
    for c in xs:
        xc = F.col(c).cast("double")
        cond = cond & xc.isNotNull() & ~F.isnan(xc)
    base = df.filter(cond).select(
        y.alias("__y"), *[F.col(c).cast("double").alias(f"__x{i}")
                          for i, c in enumerate(xs)])
    from whylogs_spark.core.util import materialize, release
    base = materialize(base)
    try:
        n = base.count()
        if n < p + 1:
            raise ValueError(
                f"quantile_regression needs > {p} rows, got {n}")

        feats = ["__one"] + [f"__x{i}" for i in range(len(xs))]
        wdf = base.withColumn("__one", F.lit(1.0))

        A, bvec = _weighted_moments(
            wdf.withColumn("__w", F.lit(1.0)), feats, p)
        beta = np.linalg.solve(A, bvec)
        converged = False
        it = 0
        for it in range(1, max_iter + 1):
            pred = F.lit(float(beta[0]))
            for i in range(len(xs)):
                pred = pred + F.lit(float(beta[i + 1])) * F.col(f"__x{i}")
            resid = F.col("__y") - pred
            r = wdf.withColumn("__r", resid)
            w = (F.abs(F.lit(tau)
                       - F.when(F.col("__r") < 0, F.lit(1.0))
                       .otherwise(F.lit(0.0)))
                 / F.greatest(F.abs(F.col("__r")), F.lit(float(eps))))
            A, bvec = _weighted_moments(r.withColumn("__w", w), feats, p)
            new_beta = np.linalg.solve(A, bvec)
            if float(np.max(np.abs(new_beta - beta))) < tol * (
                    1.0 + float(np.max(np.abs(beta)))):
                beta = new_beta
                converged = True
                break
            beta = new_beta

        pred = F.lit(float(beta[0]))
        for i in range(len(xs)):
            pred = pred + F.lit(float(beta[i + 1])) * F.col(f"__x{i}")
        rr = F.col("__y") - pred
        loss = base.agg(F.avg(
            F.when(rr >= 0, F.lit(tau) * rr)
            .otherwise((F.lit(tau) - 1.0) * rr)).alias("l")
        ).collect()[0]["l"]
    finally:
        release(base)

    terms = ["intercept"] + xs
    rows = [(t, float(b_), float(tau), it, bool(converged),
             float(loss), int(n)) for t, b_ in zip(terms, beta)]
    return df.sparkSession.createDataFrame(
        rows, "term string, beta double, tau double, iterations int, "
              "converged boolean, pinball_loss double, n long")
