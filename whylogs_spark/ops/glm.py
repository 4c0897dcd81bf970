"""Distributed ordinary least squares — the closed-form GLM sibling
of ``ops/causal.fit_logistic`` (IRLS): coefficients, standard errors,
t statistics and R² for a FIXED small feature list, computed from ONE
aggregation pass.

Beyond-reference extension family (SURVEY.md §2.12).

The normal equations need only the (p+1)x(p+1) moment matrix ``X'X``
and the vector ``X'y`` — p(p+3)/2 + p + 3 scalars, all conditional
sums the executors partial-agg map-side.  The driver solves the tiny
system with numpy and the result is emitted as a bounded coefficient
table (one row per term), so downstream joins/scoring stay in Spark.
This is a GLM fit, not a deep model: p is the number of NAMED feature
columns (tens at most), never data-sized.

Scoring (``ols_score_col``) is a pure map-side expression — the same
contract as ``causal.logistic_score_col``.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["fit_ols", "ols_report", "ols_score_col",
           "fit_poisson", "poisson_score_col"]


def _moment_row(df: DataFrame, label_col: str,
                feats: List[str]):
    """ONE partial-agged pass: n, X'X upper triangle, X'y, y'y."""
    y = F.col(label_col).cast("double")
    ok = y.isNotNull() & ~F.isnan(y)
    xs = [F.lit(1.0)]
    for c in feats:
        xc = F.col(c).cast("double")
        ok = ok & xc.isNotNull() & ~F.isnan(xc)
        xs.append(xc)
    base = df.filter(ok)
    p1 = len(xs)
    aggs = [F.count(F.lit(1)).cast("double").alias("__n"),
            F.sum(y * y).alias("__yy")]
    for j in range(p1):
        aggs.append(F.sum(xs[j] * y).alias(f"__xy{j}"))
        for k in range(j, p1):
            aggs.append(F.sum(xs[j] * xs[k]).alias(f"__xx{j}_{k}"))
    return base.agg(*aggs).collect()[0], p1


def fit_ols(
    df: DataFrame,
    label_col: str,
    feature_cols: Sequence[str],
    ridge: float = 0.0,
) -> Dict:
    """Fit ``y ~ intercept + features`` by OLS.  Returns
    ``{"intercept", "coef": {col: b}, "se": {term: se}, "n", "r2",
    "sigma2"}`` where ``se`` includes ``"intercept"``.

    ``ridge`` adds an L2 diagonal (skipping the intercept) for
    collinear features; SEs are the classical OLS ones and are only
    reported when ``ridge == 0``.
    """
    feats = list(feature_cols)
    if not feats:
        raise ValueError("fit_ols needs >= 1 feature column")
    row, p1 = _moment_row(df, label_col, feats)
    n = float(row["__n"])
    if n <= p1:
        raise ValueError(
            f"fit_ols needs more rows ({int(n)}) than terms ({p1})")
    xtx = np.zeros((p1, p1))
    xty = np.zeros(p1)
    for j in range(p1):
        xty[j] = row[f"__xy{j}"]
        for k in range(j, p1):
            xtx[j, k] = xtx[k, j] = row[f"__xx{j}_{k}"]
    if ridge:
        reg = ridge * np.eye(p1)
        reg[0, 0] = 0.0
        xtx_solve = xtx + reg
    else:
        xtx_solve = xtx
    beta = np.linalg.solve(xtx_solve, xty)
    yy = float(row["__yy"])
    # residual sum of squares via the moment identities:
    # RSS = y'y - 2 b'X'y + b'X'X b
    rss = yy - 2.0 * float(beta @ xty) + float(beta @ xtx @ beta)
    sum_y = float(xty[0])          # X col 0 is the intercept ones
    tss = yy - sum_y * sum_y / n
    sigma2 = rss / (n - p1)
    out = {
        "intercept": float(beta[0]),
        "coef": {c: float(beta[i + 1]) for i, c in enumerate(feats)},
        "n": int(n),
        "r2": float(1.0 - rss / tss) if tss > 0 else float("nan"),
        "sigma2": float(sigma2),
        "se": {},
    }
    if not ridge:
        cov = sigma2 * np.linalg.inv(xtx)
        ses = np.sqrt(np.maximum(np.diag(cov), 0.0))
        out["se"] = {"intercept": float(ses[0]),
                     **{c: float(ses[i + 1])
                        for i, c in enumerate(feats)}}
    return out


def ols_report(
    df: DataFrame,
    label_col: str,
    feature_cols: Sequence[str],
) -> DataFrame:
    """The fit as a bounded Spark frame — one row per term:
    ``(term, beta, se, t_stat)`` plus a ``__model__`` row carrying
    ``(n, r2)`` in ``beta``/``se`` (= n, r2) for single-frame
    consumption by reports.  The data is touched exactly once (the
    moment pass inside :func:`fit_ols`)."""
    m = fit_ols(df, label_col, feature_cols)
    spark = df.sparkSession
    rows = [("intercept", m["intercept"], m["se"].get("intercept"))]
    rows += [(c, m["coef"][c], m["se"].get(c))
             for c in feature_cols]
    rows.append(("__model__", float(m["n"]), m["r2"]))
    schema = T.StructType([
        T.StructField("term", T.StringType()),
        T.StructField("beta", T.DoubleType()),
        T.StructField("se", T.DoubleType()),
    ])
    rep = spark.createDataFrame(rows, schema)
    return rep.select(
        "term", "beta", "se",
        F.when((F.col("term") != "__model__") & (F.col("se") > 0),
               F.col("beta") / F.col("se")).alias("t_stat"))


def ols_score_col(model: Dict,
                  feature_cols: Optional[Sequence[str]] = None) -> Column:
    """Pure map-side prediction expression for a :func:`fit_ols`
    model: ``b0 + sum b_i x_i``."""
    feats = list(feature_cols) if feature_cols else list(model["coef"])
    eta = F.lit(float(model["intercept"]))
    for c in feats:
        eta = eta + F.lit(float(model["coef"][c])) * \
            F.col(c).cast("double")
    return eta


def fit_poisson(
    df: DataFrame,
    label_col: str,
    feature_cols: Sequence[str],
    max_iter: int = 25,
    tol: float = 1e-8,
    ridge: float = 1e-8,
) -> Dict:
    """Distributed Newton/IRLS fit of a Poisson regression with log
    link (counts-per-unit modeling: events per user, orders per
    day).  Returns ``{"intercept", "coef": {col: b}, "se": {term:
    se}, "n", "iterations", "converged", "log_likelihood"}``
    (log-likelihood up to the constant ``-sum log y!``).

    Same engine discipline as ``causal.fit_logistic``: each Newton
    iteration is ONE map-side-combined aggregate of the gradient
    ``X'(y - mu)`` and Hessian ``X'WX`` with ``mu = W = e^{xb}`` —
    p(p+3)/2 + p + 2 JVM expressions — and a tiny driver solve.
    ``eta`` is clamped to ±30 so the exponent never overflows.
    Rows with null/NaN label or features drop; negative labels
    raise (Poisson counts are nonnegative).
    """
    import numpy as np

    feats = list(feature_cols)
    if not feats:
        raise ValueError("fit_poisson needs >= 1 feature column")
    p1 = len(feats) + 1
    y = F.col(label_col).cast("double")
    ok = y.isNotNull() & ~F.isnan(y)
    xs = [F.lit(1.0)]
    for c in feats:
        xc = F.col(c).cast("double")
        ok = ok & xc.isNotNull() & ~F.isnan(xc)
        xs.append(xc)
    base = df.filter(ok).select(
        y.alias("__y"),
        *[x.alias(f"__z{j}") for j, x in enumerate(xs)])
    # One lineage cut before the Newton loop: the negative-label probe
    # plus up to max_iter gradient/Hessian aggregates otherwise each
    # re-execute the full upstream plan.
    from whylogs_spark.core.util import materialize, release
    base = materialize(base)
    try:
        neg = base.filter(F.col("__y") < 0).limit(1).count()
        if neg:
            raise ValueError("fit_poisson: negative label values")
        xcols = [F.col(f"__z{j}") for j in range(p1)]

        beta = np.zeros(p1)
        n = None
        converged = False
        ll = float("nan")
        it = 0
        for it in range(1, max_iter + 1):
            eta = None
            for j in range(p1):
                term = F.lit(float(beta[j])) * xcols[j]
                eta = term if eta is None else eta + term
            eta = F.greatest(F.lit(-30.0), F.least(F.lit(30.0), eta))
            mu = F.exp(eta)
            resid = F.col("__y") - mu
            aggs = [F.count(F.lit(1)).cast("double").alias("__n"),
                    F.sum(F.col("__y") * eta - mu).alias("__ll")]
            for j in range(p1):
                aggs.append(F.sum(resid * xcols[j]).alias(f"__g{j}"))
            for j in range(p1):
                for k in range(j, p1):
                    aggs.append(F.sum(mu * xcols[j] * xcols[k])
                                .alias(f"__h{j}_{k}"))
            row = base.agg(*aggs).collect()[0]
            n = int(row["__n"])
            if n == 0:
                raise ValueError("fit_poisson: no usable rows")
            ll = float(row["__ll"])
            grad = np.array([row[f"__g{j}"] for j in range(p1)])
            hess = np.zeros((p1, p1))
            for j in range(p1):
                for k in range(j, p1):
                    hess[j, k] = hess[k, j] = row[f"__h{j}_{k}"]
            hess += ridge * np.eye(p1)
            step = np.linalg.solve(hess, grad)
            beta = beta + step
            if float(np.abs(step).max()) < tol:
                converged = True
                break
    finally:
        release(base)
    se = {}
    try:
        cov = np.linalg.inv(hess)
        ses = np.sqrt(np.maximum(np.diag(cov), 0.0))
        se = {"intercept": float(ses[0]),
              **{c: float(ses[j + 1]) for j, c in enumerate(feats)}}
    except np.linalg.LinAlgError:
        pass
    return {
        "intercept": float(beta[0]),
        "coef": {c: float(beta[j + 1]) for j, c in enumerate(feats)},
        "se": se, "n": n, "iterations": it, "converged": converged,
        "log_likelihood": ll,
    }


def poisson_score_col(model: Dict,
                      feature_cols: Optional[Sequence[str]] = None) -> Column:
    """Map-side expected-count expression for a :func:`fit_poisson`
    model: ``exp(b0 + sum b_i x_i)``."""
    feats = list(feature_cols) if feature_cols else list(model["coef"])
    eta = F.lit(float(model["intercept"]))
    for c in feats:
        eta = eta + F.lit(float(model["coef"][c])) *             F.col(c).cast("double")
    eta = F.greatest(F.lit(-30.0), F.least(F.lit(30.0), eta))
    return F.exp(eta)
