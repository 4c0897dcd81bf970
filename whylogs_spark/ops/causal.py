"""Causal-inference estimators for observational readouts:
difference-in-differences, distributed IRLS logistic regression for
propensity scores, and inverse-propensity-weighted ATT — the
"no randomized experiment available" complement of ``ops/abtest.py``
(Welch/CUPED/mSPRT run on randomized traffic; these run on logs).

Beyond-reference extension family (the reference stops at profiling
and drift; see SURVEY.md §2.12).

Scale shapes:
  * ``did_estimator`` — ONE partial-agged pass to the four
    (group x period) cells, then a 1-row reduce.  Fully
    SQL-expressible (DuckDB gate oracle replays it exactly).
  * ``fit_logistic`` — Newton/IRLS with the data NEVER leaving the
    executors: each iteration is ONE map-side-combined aggregate of
    the gradient ``X'(y - p)`` and Hessian ``X'WX`` (p(p+3)/2
    scalars, p = #features, bounded); the driver solves the p x p
    system with numpy and broadcasts the next coefficient vector as
    literals.  Iterations are bounded (default 25); features must be
    a FIXED small list — this is a GLM fit, not a deep model.
  * ``ipw_att`` — score attach is a pure map-side expression over the
    fitted betas; the ATT reduce is one aggregate.
"""

from __future__ import annotations

import math
from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whylogs_spark.ops.glm import _glm, _score_eta

__all__ = ["did_estimator", "fit_logistic", "logistic_score_col",
           "ipw_att", "propensity_match_att", "covariate_balance"]


def did_estimator(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    treated,
    post,
    alpha: float = 0.05,
) -> DataFrame:
    """Two-by-two difference-in-differences: ``(mean_t_post -
    mean_t_pre) - (mean_c_post - mean_c_pre)`` with a large-sample
    normal CI from the four cell variances (Welch-style, unequal
    variances).  ONE row: ``(n, did, se, ci_lo, ci_hi, mean_t_pre,
    mean_t_post, mean_c_pre, mean_c_post)``.

    ``treated`` / ``post`` are the values of ``group_col`` /
    ``period_col`` marking the treated group and the post period;
    every other non-null value is control / pre.  Rows with nulls in
    any of the three columns (or NaN values) are excluded.

    Scale shape: ONE partial-agged aggregate straight to a single row
    (conditional sums for the four cells) — no join, no shuffle
    beyond the 1-row reduce.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1): {alpha}")
    v = F.col(value_col).cast("double")
    t = (F.col(group_col) == F.lit(treated)).cast("int")
    p = (F.col(period_col) == F.lit(post)).cast("int")
    base = (df.filter(F.col(group_col).isNotNull()
                      & F.col(period_col).isNotNull()
                      & v.isNotNull() & ~F.isnan(v))
            .select(t.alias("__t"), p.alias("__p"), v.alias("__v")))

    def cell(tt: int, pp: int, what: Column) -> Column:
        return F.sum(F.when((F.col("__t") == tt)
                            & (F.col("__p") == pp), what))

    aggs = []
    for tt in (0, 1):
        for pp in (0, 1):
            tag = f"{tt}{pp}"
            aggs += [
                F.coalesce(cell(tt, pp, F.lit(1.0)), F.lit(0.0))
                .alias(f"__n{tag}"),
                cell(tt, pp, F.col("__v")).alias(f"__s{tag}"),
                cell(tt, pp, F.col("__v") * F.col("__v"))
                .alias(f"__ss{tag}"),
            ]
    rep = base.agg(*aggs)

    means, vars_n = {}, {}
    for tag in ("00", "01", "10", "11"):
        n = F.col(f"__n{tag}")
        m = F.try_divide(F.col(f"__s{tag}"), n)
        # unbiased cell variance / n  (the mean's squared SE)
        var = F.try_divide(
            F.col(f"__ss{tag}") - n * m * m,
            F.when(n > 1, n - 1))
        means[tag] = m
        vars_n[tag] = F.try_divide(var, n)
    did = (means["11"] - means["10"]) - (means["01"] - means["00"])
    se = F.sqrt(vars_n["11"] + vars_n["10"]
                + vars_n["01"] + vars_n["00"])
    # two-sided normal quantile via the scalar inverse (bounded use:
    # one literal) — erfcinv-free rational approx is overkill here,
    # the caller fixed alpha so the z is a plain python constant
    z = _norm_ppf(1.0 - alpha / 2.0)
    ntot = (F.col("__n00") + F.col("__n01") + F.col("__n10")
            + F.col("__n11"))
    return rep.select(
        ntot.cast("long").alias("n"),
        did.alias("did"),
        se.alias("se"),
        (did - F.lit(z) * se).alias("ci_lo"),
        (did + F.lit(z) * se).alias("ci_hi"),
        means["10"].alias("mean_t_pre"),
        means["11"].alias("mean_t_post"),
        means["00"].alias("mean_c_pre"),
        means["01"].alias("mean_c_post"))


def _norm_ppf(q: float) -> float:
    """Acklam's rational approximation of the standard normal inverse
    CDF (public algorithm, |rel err| < 1.15e-9) — enough for CI
    z-multipliers; refined with one Newton step via erfc."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile must be in (0, 1): {q}")
    a = [-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00]
    plow, phigh = 0.02425, 1 - 0.02425
    if q < plow:
        ql = math.sqrt(-2 * math.log(q))
        x = (((((c[0] * ql + c[1]) * ql + c[2]) * ql + c[3]) * ql
              + c[4]) * ql + c[5]) / \
            ((((d[0] * ql + d[1]) * ql + d[2]) * ql + d[3]) * ql + 1)
    elif q > phigh:
        ql = math.sqrt(-2 * math.log(1 - q))
        x = -(((((c[0] * ql + c[1]) * ql + c[2]) * ql + c[3]) * ql
               + c[4]) * ql + c[5]) / \
            ((((d[0] * ql + d[1]) * ql + d[2]) * ql + d[3]) * ql + 1)
    else:
        ql = q - 0.5
        r = ql * ql
        x = (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r
              + a[4]) * r + a[5]) * ql / \
            (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r
              + b[4]) * r + 1)
    # one Newton refinement: F(x) - q has derivative phi(x)
    e = 0.5 * math.erfc(-x / math.sqrt(2)) - q
    u = e * math.sqrt(2 * math.pi) * math.exp(x * x / 2)
    return x - u / (1 + x * u / 2)


def fit_logistic(
    df: DataFrame,
    label_col: str,
    feature_cols: Sequence[str],
    max_iter: int = 25,
    tol: float = 1e-8,
    ridge: float = 1e-8,
) -> Dict:
    """Distributed Newton/IRLS fit of a logistic regression (with
    intercept) — the propensity model.  Returns ``{"intercept": b0,
    "coef": {col: b}, "n": n, "iterations": i, "converged": bool,
    "log_likelihood": ll}``.

    Each iteration aggregates the exact gradient and Hessian of the
    log-likelihood in ONE map-side-combined pass (p+1 gradient terms
    + (p+1)(p+2)/2 Hessian terms as conditional-sum expressions — all
    JVM codegen, no Python on the data path); the (p+1)-dim solve
    happens on the driver (``ops.glm``'s shared Newton driver with the
    logit link).  ``ridge`` adds an L2 diagonal for separable data.
    Rows with null/NaN in any feature or the label are excluded; the
    label must cast to 0/1.
    """
    out = _glm(df, label_col, feature_cols, _logistic_link,
               "fit_logistic", max_iter, tol, ridge)
    del out["se"]
    return out


def _logistic_link(eta: Column):
    mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
    return mu, mu * (1.0 - mu), F.log(F.lit(1.0) + F.exp(eta))


def logistic_score_col(model: Dict, feature_cols: Optional[Sequence[str]] = None) -> Column:
    """Pure map-side scoring expression for a :func:`fit_logistic`
    model: ``sigmoid(b0 + sum b_i x_i)`` — attach with
    ``df.withColumn("propensity", logistic_score_col(m))``."""
    return _logistic_link(_score_eta(model, feature_cols))[0]


def ipw_att(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    feature_cols: Sequence[str],
    max_iter: int = 25,
    clip: float = 0.99,
) -> DataFrame:
    """Average treatment effect on the treated via inverse-propensity
    weighting: fit the propensity model (:func:`fit_logistic`), weight
    each CONTROL row by the odds ``e(x)/(1 - e(x))`` (clipped at
    propensity ``clip``), and report ``ATT = mean(y | t=1) -
    weighted_mean(y | t=0)``.  ONE row: ``(n, n_treat, n_ctrl,
    mean_treat, mean_ctrl_weighted, att, ess_ctrl, model_converged,
    model_iterations)`` where ``ess_ctrl`` is the Kish effective
    sample size of the control weights.

    After the bounded IRLS fit, scoring + the ATT reduce are one
    map-side expression pass and one aggregate — the data shuffles
    zero times.
    """
    if not 0.0 < clip < 1.0:
        raise ValueError(f"clip must be in (0, 1): {clip}")
    model = fit_logistic(df, treat_col, feature_cols,
                         max_iter=max_iter)
    t = F.col(treat_col).cast("double")
    yv = F.col(outcome_col).cast("double")
    ok = (t.isNotNull() & ~F.isnan(t)
          & yv.isNotNull() & ~F.isnan(yv))
    for c in feature_cols:
        xc = F.col(c).cast("double")
        ok = ok & xc.isNotNull() & ~F.isnan(xc)
    e = logistic_score_col(model, feature_cols)
    e = F.least(e, F.lit(float(clip)))
    w = F.when(t == 1.0, F.lit(1.0)).otherwise(e / (F.lit(1.0) - e))
    base = df.filter(ok).select(
        t.alias("__t"), yv.alias("__y"), w.alias("__w"))
    rep = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__t")).cast("long").alias("n_treat"),
        F.sum(F.lit(1.0) - F.col("__t")).cast("long").alias("n_ctrl"),
        F.try_divide(
            F.sum(F.when(F.col("__t") == 1.0, F.col("__y"))),
            F.sum(F.col("__t"))).alias("mean_treat"),
        F.try_divide(
            F.sum(F.when(F.col("__t") == 0.0,
                         F.col("__w") * F.col("__y"))),
            F.sum(F.when(F.col("__t") == 0.0, F.col("__w"))))
        .alias("mean_ctrl_weighted"),
        F.try_divide(
            F.pow(F.sum(F.when(F.col("__t") == 0.0, F.col("__w"))),
                  F.lit(2.0)),
            F.sum(F.when(F.col("__t") == 0.0,
                         F.col("__w") * F.col("__w"))))
        .alias("ess_ctrl"))
    return rep.select(
        "n", "n_treat", "n_ctrl", "mean_treat", "mean_ctrl_weighted",
        (F.col("mean_treat") - F.col("mean_ctrl_weighted"))
        .alias("att"),
        "ess_ctrl",
        F.lit(bool(model["converged"])).alias("model_converged"),
        F.lit(int(model["iterations"])).alias("model_iterations"))


def propensity_match_att(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    feature_cols: Sequence[str],
    id_col: str,
    caliper: float = 0.05,
    max_iter: int = 25,
    max_controls_per_bucket: int = 200,
) -> DataFrame:
    """ATT by nearest-neighbor propensity matching WITH replacement
    inside a caliper: each treated row matches the control with the
    closest propensity score within ``caliper``; unmatched treated
    rows drop (and are reported).  ONE row: ``(n_treat, n_matched,
    match_rate, att, mean_treat_matched, mean_ctrl_matched,
    model_converged)``.

    Distributed matching: scores bucket at caliper granularity
    (``floor(e / caliper)``); each treated row meets only the
    controls of its own and the two adjacent buckets (any control
    within the caliper lives there by construction), so candidate
    generation is a bucket equi-join, never a cross join.  A hot
    bucket (scores pile up around a mode) is capped to the
    ``max_controls_per_bucket`` deterministically-md5-ranked controls
    — with replacement and scores within one caliper of each other,
    any retained neighbor is an acceptable match, so the cap bounds
    skew at a documented, reproducible approximation.

    Ties in |score distance| break by smallest control id (total
    order → run-to-run identical).  The propensity model is
    :func:`fit_logistic` (bounded IRLS).
    """
    if not 0.0 < caliper < 1.0:
        raise ValueError(f"caliper must be in (0, 1): {caliper}")
    model = fit_logistic(df, treat_col, feature_cols,
                         max_iter=max_iter)
    t = F.col(treat_col).cast("double")
    yv = F.col(outcome_col).cast("double")
    ok = t.isNotNull() & ~F.isnan(t) & yv.isNotNull() & ~F.isnan(yv)
    for c in feature_cols:
        xc = F.col(c).cast("double")
        ok = ok & xc.isNotNull() & ~F.isnan(xc)
    e = logistic_score_col(model, feature_cols)
    scored = df.filter(ok).select(
        t.alias("__t"), yv.alias("__y"),
        F.col(id_col).cast("string").alias("__id"),
        e.alias("__e"),
        F.floor(e / F.lit(float(caliper))).cast("long")
        .alias("__b"))
    treated = scored.filter(F.col("__t") == 1.0).select(
        F.col("__id").alias("__tid"), F.col("__y").alias("__ty"),
        F.col("__e").alias("__te"), F.col("__b").alias("__tb"))
    ctrl = scored.filter(F.col("__t") == 0.0)
    # deterministic per-bucket cap (md5 rank) bounds hot buckets
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("__b").orderBy(
            F.md5(F.col("__id")), F.col("__id")))
    ctrl = (ctrl.select("__id", "__y", "__e", "__b", rk.alias("__rk"))
            .filter(F.col("__rk") <= max_controls_per_bucket))
    # each control also serves the two adjacent buckets
    ctrl3 = ctrl.select(
        F.explode(F.array(F.col("__b") - 1, F.col("__b"),
                          F.col("__b") + 1)).alias("__tb"),
        F.col("__id").alias("__cid"), F.col("__y").alias("__cy"),
        F.col("__e").alias("__ce"))
    cand = (treated.join(ctrl3, "__tb")
            .filter(F.abs(F.col("__te") - F.col("__ce"))
                    <= F.lit(float(caliper))))
    best = cand.groupBy("__tid").agg(
        F.min(F.struct(
            F.abs(F.col("__te") - F.col("__ce")).alias("d"),
            F.col("__cid").alias("cid"),
            F.col("__cy").alias("cy"),
            F.col("__ty").alias("ty"))).alias("__m"))
    matched = best.select(
        F.col("__m.ty").alias("__ty"), F.col("__m.cy").alias("__cy"))
    stats = matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.avg("__ty").alias("mean_treat_matched"),
        F.avg("__cy").alias("mean_ctrl_matched"),
        F.avg(F.col("__ty") - F.col("__cy")).alias("att"))
    ntr = treated.agg(
        F.count(F.lit(1)).cast("long").alias("n_treat"))
    rep = ntr.crossJoin(F.broadcast(stats))
    return rep.select(
        "n_treat", "n_matched",
        F.try_divide(F.col("n_matched").cast("double"),
                     F.col("n_treat").cast("double"))
        .alias("match_rate"),
        "att", "mean_treat_matched", "mean_ctrl_matched",
        F.lit(bool(model["converged"])).alias("model_converged"))


def covariate_balance(
    df: DataFrame,
    treatment_col: str,
    x_cols: Sequence[str],
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Covariate balance table — the standard propensity-weighting
    diagnostic: one row per covariate with per-arm moments, the
    standardized mean difference (SMD), and the WEIGHTED SMD under
    ``weight_col`` (e.g. IPW weights), so you can read "balanced
    after weighting" as |wsmd| < 0.1 next to the raw |smd|.

    Columns: ``(covariate, n_t, n_c, mean_t, mean_c, sd_t, sd_c,
    smd, wmean_t, wmean_c, wsmd)``.

    * ``smd = (mean_t - mean_c) / sqrt((var_t + var_c) / 2)`` with
      SAMPLE variances (null when the pooled sd is 0 or an arm has
      < 2 rows).
    * ``wsmd`` standardizes the WEIGHTED mean difference by the SAME
      unweighted pooled sd — the convention that keeps pre/post
      weighting comparable on one scale.
    * ``weight_col=None`` uses unit weights, so the weighted columns
      equal their unweighted siblings and the schema stays fixed.
    * null/NaN covariate cells drop per covariate; null treatment or
      weight drops the row everywhere.

    Scale shape: ONE ``stack()`` unpivot in-scan (rows x |x_cols|,
    no data duplication past the projection) and ONE partial-agged
    groupBy on the bounded covariate key — every statistic is a
    conditional sum, so the DuckDB oracle replays the identical IEEE
    arithmetic from the same sums.
    """
    xs = list(x_cols)
    if not xs:
        raise ValueError("x_cols must be non-empty")
    missing = [c for c in xs + [treatment_col]
               + ([weight_col] if weight_col else [])
               if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in df: {missing}")
    t = F.col(treatment_col).cast("boolean").cast("int")
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    base = df.filter(t.isNotNull()).select(
        t.alias("__t"), w.alias("__w"),
        *[F.col(c).cast("double").alias(f"__x{i}")
          for i, c in enumerate(xs)])
    if weight_col:
        base = base.filter(F.col("__w").isNotNull()
                           & ~F.isnan(F.col("__w")))
    pairs = ", ".join(f"'{c}', __x{i}" for i, c in enumerate(xs))
    long = base.select(
        "__t", "__w",
        F.expr(f"stack({len(xs)}, {pairs}) AS (covariate, __x)")
    ).filter(F.col("__x").isNotNull() & ~F.isnan(F.col("__x")))

    ti = F.col("__t")
    ci = F.lit(1) - F.col("__t")
    x = F.col("__x")
    g = long.groupBy("covariate").agg(
        F.sum(ti).alias("n_t"), F.sum(ci).alias("n_c"),
        F.sum(ti * x).alias("__st"), F.sum(ci * x).alias("__sc"),
        F.sum(ti * x * x).alias("__sst"),
        F.sum(ci * x * x).alias("__ssc"),
        F.sum(ti * F.col("__w")).alias("__wt"),
        F.sum(ci * F.col("__w")).alias("__wc"),
        F.sum(ti * F.col("__w") * x).alias("__wxt"),
        F.sum(ci * F.col("__w") * x).alias("__wxc"))

    nt = F.col("n_t").cast("double")
    nc = F.col("n_c").cast("double")
    mt = F.col("__st") / nt
    mc = F.col("__sc") / nc
    vt = F.when(F.col("n_t") >= 2,
                (F.col("__sst") - F.col("__st") * F.col("__st") / nt)
                / (nt - F.lit(1.0)))
    vc = F.when(F.col("n_c") >= 2,
                (F.col("__ssc") - F.col("__sc") * F.col("__sc") / nc)
                / (nc - F.lit(1.0)))
    pooled = F.sqrt(F.greatest((vt + vc) / F.lit(2.0), F.lit(0.0)))
    smd = F.when(pooled > 0, (mt - mc) / pooled)
    wmt = F.when(F.col("__wt") > 0, F.col("__wxt") / F.col("__wt"))
    wmc = F.when(F.col("__wc") > 0, F.col("__wxc") / F.col("__wc"))
    wsmd = F.when(pooled > 0, (wmt - wmc) / pooled)
    sdt = F.when(vt.isNotNull(),
                 F.sqrt(F.greatest(vt, F.lit(0.0))))
    sdc = F.when(vc.isNotNull(),
                 F.sqrt(F.greatest(vc, F.lit(0.0))))
    return g.select(
        "covariate", "n_t", "n_c",
        mt.alias("mean_t"), mc.alias("mean_c"),
        sdt.alias("sd_t"), sdc.alias("sd_c"), smd.alias("smd"),
        wmt.alias("wmean_t"), wmc.alias("wmean_c"),
        wsmd.alias("wsmd"))
