"""Distributed generalized linear models — closed-form OLS and the
Newton/IRLS Poisson fit — and the one Newton driver every iterative
fit of the library runs on.

Beyond-reference extension family (SURVEY.md §2.12).

``fit_ols`` needs only the (p+1)x(p+1) moment matrix ``X'X`` and the
vector ``X'y`` — p(p+3)/2 + p + 3 scalars, all conditional sums the
executors partial-agg map-side.  The driver solves the tiny system
with numpy and the result is emitted as a bounded coefficient table
(one row per term), so downstream joins/scoring stay in Spark.  This
is a GLM fit, not a deep model: p is the number of NAMED feature
columns (tens at most), never data-sized.

The iterative fits (``fit_poisson``, ``causal.fit_logistic``,
``robust.huber_regression``/``quantile_regression``,
``survival.cox_ph``) share four pieces and supply only their step:

* :func:`_design` — the null/NaN-free double design frame;
* :func:`_eta` — the ±30-clamped linear predictor;
* :func:`_gram` — ONE aggregate of ``Σ w·x·xᵀ``, ``Σ v·x`` and any
  extra scalars (read back by :func:`_moments`);
* :func:`_newton` — the loop: one materialized base, the iteration
  count and the ``converged`` flag.

Scoring (``ols_score_col``, ``poisson_score_col``) is a pure map-side
expression — the same contract as ``causal.logistic_score_col``.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Callable, Dict, List, Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whylogs_spark.core.util import materialize, release

__all__ = ["fit_ols", "ols_report", "ols_score_col",
           "fit_poisson", "poisson_score_col"]


def _design(df: DataFrame, feats: Sequence[str], **labels: str) -> DataFrame:
    """The rows of ``df`` whose labels and features are all non-null
    and non-NaN, cast to double: each label under its keyword
    (``__y=label_col``), then feature ``i`` as ``__x{i}``."""
    xs = [F.col(c).cast("double") for c in [*labels.values(), *feats]]
    ok = reduce(operator.and_, [x.isNotNull() & ~F.isnan(x) for x in xs])
    names = [*labels, *(f"__x{i}" for i in range(len(feats)))]
    return df.filter(ok).select(*[x.alias(a) for x, a in zip(xs, names)])


def _eta(beta: Sequence[float], xs: Sequence[Column],
         clamp: bool = True) -> Column:
    """The linear predictor ``Σ beta[j]·xs[j]`` (an intercept is a
    ``F.lit(1.0)`` column), clamped to ±30 so a link's exponent never
    overflows; ``clamp=False`` for the identity link."""
    eta = reduce(operator.add,
                 [F.lit(float(b)) * x for b, x in zip(beta, xs)])
    return F.greatest(F.lit(-30.0), F.least(F.lit(30.0), eta)) \
        if clamp else eta


def _score_eta(model: Dict, feature_cols: Optional[Sequence[str]],
               clamp: bool = True) -> Column:
    """:func:`_eta` of a fitted ``{"intercept", "coef"}`` model over
    the named columns (default: the model's own features)."""
    feats = list(feature_cols) if feature_cols else list(model["coef"])
    return _eta([model["intercept"], *(model["coef"][c] for c in feats)],
                [F.lit(1.0), *(F.col(c).cast("double") for c in feats)],
                clamp)


def _gram(xs: Sequence[Column], w: Column, v: Optional[Column] = None,
          **extra: Column) -> List[Column]:
    """The expressions of ONE aggregate: the upper triangle of
    ``Σ w·x·xᵀ`` (``__h{j}_{k}``), ``Σ v·x`` (``__g{j}``) when ``v`` is
    given, and each extra aggregate under its keyword — p(p+3)/2 sums
    plus the extras, all partial-agged map-side.  A least-squares fit
    appends ``y`` to ``xs`` instead of passing ``v``: the last column of
    the augmented matrix is then ``X'Wy``.  :func:`_moments` reads a
    row back."""
    p = len(xs)
    return ([F.sum(w * xs[j] * xs[k]).alias(f"__h{j}_{k}")
             for j in range(p) for k in range(j, p)]
            + ([F.sum(v * x).alias(f"__g{j}") for j, x in enumerate(xs)]
               if v is not None else [])
            + [c.alias(a) for a, c in extra.items()])


def _moments(row, p: int):
    """``(A, b)`` of a row carrying :func:`_gram`'s columns: the
    symmetric p x p ``Σ w·x·xᵀ`` and ``Σ v·x`` (``None`` without
    ``v``); a null sum (no rows) reads as 0."""
    r = row.asDict()
    A = np.zeros((p, p))
    for j in range(p):
        for k in range(j, p):
            A[j, k] = A[k, j] = r[f"__h{j}_{k}"] or 0.0
    b = np.array([r[f"__g{j}"] or 0.0 for j in range(p)]) \
        if "__g0" in r else None
    return A, b


def _newton(base: DataFrame, start: Callable, step: Callable, *,
            max_iter: int, tol: float, relative: bool = False,
            finish: Optional[Callable] = None):
    """The one iteration driver of the fits.

    ``base`` is materialized once — each step is a full aggregate over
    it, which would otherwise re-run the upstream plan — and released
    when the fit ends, failed or not.  ``start(base)`` returns the
    first coefficients (after any probe of the base); ``step(base,
    beta)`` returns the next ones, or ``None`` to stop as converged (a
    perfect fit).  The loop stops after ``max_iter`` steps, or as
    converged once a step moves no coefficient by ``tol`` (by
    ``tol·(1 + max|beta|)`` when ``relative``).  ``finish(base,
    beta)`` runs on the final coefficients before the release.

    Returns ``(beta, iterations, converged, finish's result)``."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1: {max_iter}")
    base = materialize(base)
    try:
        beta = start(base)
        iterations, converged = 0, False
        while iterations < max_iter:
            iterations += 1
            nxt = step(base, beta)
            if nxt is None:
                converged = True
                break
            moved = float(np.abs(nxt - beta).max())
            bound = tol * (1.0 + float(np.abs(beta).max())) \
                if relative else tol
            beta = nxt
            if moved < bound:
                converged = True
                break
        return (beta, iterations, converged,
                finish(base, beta) if finish else None)
    finally:
        release(base)


def _glm(df: DataFrame, label_col: str, feature_cols: Sequence[str],
         link: Callable, name: str, max_iter: int, tol: float,
         ridge: float, probe: Optional[Callable] = None):
    """Newton fit of a canonical-link GLM with intercept.  ``link(eta)``
    returns ``(mu, w, a)``: the mean, the Hessian weight and the
    cumulant, so the log-likelihood is ``Σ y·eta − a``.  Each step is
    ONE :func:`_gram` aggregate of the Hessian ``X'WX`` and gradient
    ``X'(y − mu)`` plus a driver solve; convergence is an absolute
    step below ``tol``.  Returns ``{"intercept", "coef", "se", "n",
    "iterations", "converged", "log_likelihood"}``, the SEs from the
    last step's ridged Hessian."""
    feats: List[str] = list(feature_cols)
    if not feats:
        raise ValueError(f"{name} needs >= 1 feature column")
    p1 = len(feats) + 1
    xs = [F.lit(1.0)] + [F.col(f"__x{i}") for i in range(len(feats))]
    y = F.col("__y")
    last = {"n": None, "ll": float("nan"), "hess": None}

    def step(base, beta):
        eta = _eta(beta, xs)
        mu, w, a = link(eta)
        row = base.agg(*_gram(
            xs, w, y - mu, __n=F.count(F.lit(1)).cast("double"),
            __ll=F.sum(y * eta - a))).collect()[0]
        n = int(row["__n"])
        if n == 0:
            raise ValueError(f"{name}: no usable rows")
        hess, grad = _moments(row, p1)
        hess += ridge * np.eye(p1)
        last.update(n=n, ll=float(row["__ll"]), hess=hess)
        return beta + np.linalg.solve(hess, grad)

    def first(base):
        if probe:
            probe(base)
        return np.zeros(p1)

    beta, it, converged, _ = _newton(
        _design(df, feats, __y=label_col), first, step,
        max_iter=max_iter, tol=tol)
    se = {}
    if last["hess"] is not None:
        try:
            ses = np.sqrt(np.maximum(
                np.diag(np.linalg.inv(last["hess"])), 0.0))
            se = {"intercept": float(ses[0]),
                  **{c: float(ses[j + 1]) for j, c in enumerate(feats)}}
        except np.linalg.LinAlgError:
            pass
    return {
        "intercept": float(beta[0]),
        "coef": {c: float(beta[i + 1]) for i, c in enumerate(feats)},
        "se": se, "n": last["n"], "iterations": it,
        "converged": converged, "log_likelihood": last["ll"],
    }


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
    p1 = len(feats) + 1
    xs = [F.lit(1.0)] + [F.col(f"__x{i}") for i in range(len(feats))]
    row = _design(df, feats, __y=label_col).agg(*_gram(
        xs + [F.col("__y")], F.lit(1.0),
        __n=F.count(F.lit(1)).cast("double"))).collect()[0]
    n = float(row["__n"])
    if n <= p1:
        raise ValueError(
            f"fit_ols needs more rows ({int(n)}) than terms ({p1})")
    m, _ = _moments(row, p1 + 1)
    xtx, xty, yy = m[:p1, :p1], m[:p1, p1], m[p1, p1]
    if ridge:
        reg = ridge * np.eye(p1)
        reg[0, 0] = 0.0
        xtx_solve = xtx + reg
    else:
        xtx_solve = xtx
    beta = np.linalg.solve(xtx_solve, xty)
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
    return _score_eta(model, feature_cols, clamp=False)


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

    ``causal.fit_logistic`` with the log link, on the same driver
    (:func:`_glm`): each Newton iteration is ONE map-side-combined
    aggregate of the gradient ``X'(y - mu)`` and Hessian ``X'WX``
    with ``mu = W = e^{xb}`` — p(p+3)/2 + p + 2 JVM expressions — and
    a tiny driver solve.
    ``eta`` is clamped to ±30 so the exponent never overflows.
    Rows with null/NaN label or features drop; negative labels
    raise (Poisson counts are nonnegative).
    """
    def probe(base):
        if base.filter(F.col("__y") < 0).limit(1).count():
            raise ValueError("fit_poisson: negative label values")

    return _glm(df, label_col, feature_cols, _poisson_link, "fit_poisson",
                max_iter, tol, ridge, probe)


def _poisson_link(eta: Column):
    mu = F.exp(eta)
    return mu, mu, mu


def poisson_score_col(model: Dict,
                      feature_cols: Optional[Sequence[str]] = None) -> Column:
    """Map-side expected-count expression for a :func:`fit_poisson`
    model: ``exp(b0 + sum b_i x_i)``."""
    return F.exp(_score_eta(model, feature_cols))
