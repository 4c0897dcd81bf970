"""Kaplan-Meier survival estimation over right-censored durations —
time-to-churn / time-to-failure curves for user lifecycles, hardware
fleets, or label-delay analysis.

Beyond the reference (whose model metrics stop at classification /
regression / ranking — ``python/whylogs/core/model_performance_metrics``);
survival curves are the standard answer to "how long do users stay",
where naive averages are biased by the users who haven't churned YET
(right censoring).

Scale shape: the raw (duration, event) rows collapse to one row per
DISTINCT duration with a partial-aggregated groupBy; every ordered walk
after that runs through the two-phase range-partitioned prefix machinery
(``core.prefix.running_sums``) — no single-partition window over the
data, matching the repo-wide global-window audit. Two prefix passes
total: one for the at-risk counts, one for the log-survival /
Greenwood accumulations (the second depends on the first's output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whylogs_spark.core.prefix import running_sums
from whylogs_spark.core.util import materialize, release
from whylogs_spark.ops.glm import _design, _eta, _gram, _moments, _newton

__all__ = ["km_survival", "logrank_test", "nelson_aalen", "rmst",
           "cumulative_incidence", "cox_ph", "cox_report",
           "concordance_index"]


def km_survival(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier product-limit estimate.

    Input: one row per subject; ``duration_col`` (numeric time on
    study) and ``event_col`` (truthy = the event happened at that
    time; falsy = censored — still alive / still subscribed when
    observation ended). Null/NaN durations are excluded.

    Output, one row per distinct duration (ascending): ``(t, n_risk,
    n_events, n_censored, survival, se)`` where ``n_risk`` counts
    subjects with duration >= t, ``survival`` is the product-limit
    S(t) = prod_{t' <= t} (1 - d/n) over event times, and ``se`` is
    the Greenwood standard error (null once S hits 0, where the
    variance sum is undefined).

    Computed in log space: ln S(t) is a running SUM of ln(1 - d/n),
    which distributes through ``running_sums``; a duration where every
    remaining subject dies (d = n) zeroes the curve from there on
    (handled by a cumulative flag, not a -inf logarithm).
    """
    dur = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("boolean").cast("int")
    base = df.filter(dur.isNotNull() & ~F.isnan(dur)).select(
        dur.alias("t"),
        F.coalesce(ev, F.lit(0)).alias("__e"))
    g = base.groupBy("t").agg(
        F.sum("__e").alias("n_events"),
        F.sum(F.lit(1) - F.col("__e")).alias("n_censored"),
        F.count(F.lit(1)).alias("__tot"),
    )
    # pass 1: cumulative subjects up to and including t -> at-risk
    c1 = running_sums(g, ["t"], ["__tot"])
    c1 = c1.withColumn(
        "n_risk", F.col("__g___tot") - F.col("__cum___tot")
        + F.col("__tot"))
    d = F.col("n_events").cast("double")
    n = F.col("n_risk").cast("double")
    # ln(1 - d/n): null at a total-death time (d = n); the zero flag
    # carries the "curve is 0 from here" fact through the prefix sum
    term = F.when(d < n, F.log(F.lit(1.0) - d / n)).otherwise(F.lit(0.0))
    gw = F.when((d > 0) & (d < n), d / (n * (n - d))).otherwise(F.lit(0.0))
    dead = (d >= n).cast("int")
    c2 = running_sums(
        c1.select("t", "n_risk", "n_events", "n_censored",
                  term.alias("__ln"), gw.alias("__gw"),
                  dead.alias("__dead")),
        ["t"], ["__ln", "__gw", "__dead"])
    surv = F.when(F.col("__cum___dead") > 0, F.lit(0.0)) \
        .otherwise(F.exp(F.col("__cum___ln")))
    se = F.when(F.col("__cum___dead") > 0, F.lit(None)) \
        .otherwise(surv * F.sqrt(F.col("__cum___gw")))
    return c2.select(
        "t", "n_risk", "n_events", "n_censored",
        surv.alias("survival"), se.cast("double").alias("se"),
    ).orderBy("t")


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample log-rank test — "do these two arms have the same
    survival curve?", the hypothesis-test companion to
    :func:`km_survival` (compare churn between an A/B test's arms,
    or failure curves between hardware batches, censoring handled
    exactly).

    At every distinct duration t with at least one event, arm A's
    observed events d_A(t) are compared with the hypergeometric
    expectation  E_A(t) = d(t) * n_A(t) / n(t)  given the at-risk
    counts, with variance
    V(t) = d(t) (n_A/n) (1 - n_A/n) (n - d) / (n - 1).
    ``chi2 = (sum d_A - sum E_A)^2 / sum V`` with dof 1 (feed to
    ``core.drift.chi2_sf``).

    Scale shape: one groupBy(duration) collapse carrying BOTH arms'
    per-time counts, ONE prefix-sum pass (``running_sums``) for the
    two at-risk suffix counts, then a 1-row aggregation — the same
    machinery as the KM curve, one pass fewer. Null/NaN durations
    and rows outside the two arms are excluded.

    Returns one row: ``(n_a, n_b, events_a, events_b, observed_a,
    expected_a, chi2, dof)`` (``observed_a``/``expected_a`` summed
    over event times; chi2 null when every variance term is 0 —
    e.g. all events tie at one time with one arm at risk).
    """
    dur = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("boolean").cast("int")
    is_a = (F.col(group_col) == F.lit(group_a)).cast("int")
    base = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(dur.isNotNull() & ~F.isnan(dur))
        .select(dur.alias("t"),
                F.coalesce(ev, F.lit(0)).alias("__e"),
                is_a.alias("__a"))
    )
    g = base.groupBy("t").agg(
        F.sum(F.col("__e") * F.col("__a")).alias("__da"),
        F.sum(F.col("__e") * (F.lit(1) - F.col("__a"))).alias("__db"),
        F.sum("__a").alias("__ma"),
        F.sum(F.lit(1) - F.col("__a")).alias("__mb"),
    )
    c = running_sums(g, ["t"], ["__ma", "__mb"])
    na = (F.col("__g___ma") - F.col("__cum___ma")
          + F.col("__ma")).cast("double")
    nb = (F.col("__g___mb") - F.col("__cum___mb")
          + F.col("__mb")).cast("double")
    n = na + nb
    d = (F.col("__da") + F.col("__db")).cast("double")
    e_a = F.when(n > 0, d * na / n)
    v = F.when(
        n > 1,
        d * (na / n) * (F.lit(1.0) - na / n) * (n - d)
        / (n - F.lit(1.0))).otherwise(F.lit(0.0))
    per_t = c.filter(d > 0).select(
        F.col("__da").cast("double").alias("__oa"),
        e_a.alias("__ea"), v.alias("__v"))
    totals = base.agg(
        F.sum("__a").alias("n_a"),
        F.sum(F.lit(1) - F.col("__a")).alias("n_b"),
        F.sum(F.col("__e") * F.col("__a")).alias("events_a"),
        F.sum(F.col("__e") * (F.lit(1) - F.col("__a")))
        .alias("events_b"))
    agg = per_t.agg(
        F.sum("__oa").alias("observed_a"),
        F.sum("__ea").alias("expected_a"),
        F.sum("__v").alias("__sv"))
    out = totals.crossJoin(F.broadcast(agg))
    chi2 = F.when(
        F.col("__sv") > 0,
        (F.col("observed_a") - F.col("expected_a")) ** 2
        / F.col("__sv"))
    return out.select(
        "n_a", "n_b", "events_a", "events_b",
        "observed_a", "expected_a",
        chi2.alias("chi2"), F.lit(1).alias("dof"))


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator — the additive
    companion to :func:`km_survival` (H(t) = sum_{t' <= t} d/n), the
    standard basis for hazard-ratio eyeballing and for the
    Breslow-type baseline hazard.  Same input contract as
    ``km_survival``; output one row per distinct duration:
    ``(t, n_risk, n_events, cum_hazard, se)`` with the Poisson-type
    variance sum d/n² under the square root.

    Same scale shape as the KM curve: one partial-agged collapse to
    distinct durations, then the two-phase range-partitioned prefix
    machinery for the at-risk counts and the hazard/variance
    accumulations — no single-partition window over the data.
    """
    dur = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("boolean").cast("int")
    base = df.filter(dur.isNotNull() & ~F.isnan(dur)).select(
        dur.alias("t"),
        F.coalesce(ev, F.lit(0)).alias("__e"))
    g = base.groupBy("t").agg(
        F.sum("__e").alias("n_events"),
        F.count(F.lit(1)).alias("__tot"))
    c1 = running_sums(g, ["t"], ["__tot"])
    c1 = c1.withColumn(
        "n_risk", F.col("__g___tot") - F.col("__cum___tot")
        + F.col("__tot"))
    d = F.col("n_events").cast("double")
    n = F.col("n_risk").cast("double")
    c2 = running_sums(
        c1.select("t", "n_risk", "n_events",
                  (d / n).alias("__h"),
                  (d / (n * n)).alias("__v")),
        ["t"], ["__h", "__v"])
    return c2.select(
        "t", "n_risk", "n_events",
        F.col("__cum___h").alias("cum_hazard"),
        F.sqrt(F.col("__cum___v")).alias("se"),
    ).orderBy("t")


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    tau: float,
) -> DataFrame:
    """Restricted mean survival time: ``RMST(τ) = ∫₀^τ S(t) dt`` under
    the Kaplan-Meier step curve — "average event-free time in the
    first τ units", the standard effect measure when hazards aren't
    proportional (Royston & Parmar 2013).  One row: ``(n, tau, rmst,
    km_at_tau)`` with ``km_at_tau`` the curve's value at τ.

    The KM step function contributes ``S(t_i)·(min(t_{i+1}, τ) −
    t_i)`` per segment plus the initial ``[0, min(t_1, τ))`` stretch
    at S = 1; segments starting at or past τ contribute nothing.
    Durations are assumed non-negative (time on study).  No SE (the
    Klein variance needs suffix areas — use a group bootstrap for
    CIs).

    Scale shape: the KM walk itself (``km_survival``: groupBy(t)
    collapse + two ``running_sums`` passes), one more slice-
    partitioned ``lead`` for the successor time (the
    ``ks_wasserstein_exact`` boundary pattern — never a global
    window), and a 1-row reduce.
    """
    from pyspark.sql import Window

    from whylogs_spark.core.prefix import (require_exchange_reuse,
                                           slice_rollup)

    km = km_survival(df, duration_col, event_col) \
        .select("t", "survival", "n_events", "n_censored")
    require_exchange_reuse(km)
    rp = km.repartitionByRange(F.col("t")) \
        .withColumn("__slice", F.spark_partition_id())
    wlead = Window.partitionBy("__slice").orderBy("t")
    local = rp.select(
        "*", F.lead("t").over(wlead).alias("__tnext"))
    totals = rp.groupBy("__slice").agg(
        F.sum("n_events").alias("n_events"),
        F.min("t").alias("__fv"))
    meta = F.broadcast(
        slice_rollup(totals, ["n_events"], first_col="__fv"))
    j = local.join(meta, "__slice")
    tau_l = F.lit(float(tau))
    seg_end = F.least(
        F.coalesce(F.col("__tnext"), F.col("__next_first"), tau_l),
        tau_l)
    seg = F.when(F.col("t") < tau_l,
                 F.col("survival") * (seg_end - F.col("t"))) \
        .otherwise(F.lit(0.0))
    one = j.agg(
        F.sum(seg).alias("__area"),
        F.min("t").alias("__t1"),
        # S at the last event time <= tau (min_by over negated t =
        # value at max t; rows past tau have a null ordering key and
        # are ignored)
        F.min_by("survival", F.when(F.col("t") <= tau_l,
                                    -F.col("t"))).alias("__s_tau"),
        (F.sum("n_events") + F.sum("n_censored")).alias("n"))
    return one.select(
        F.col("n").cast("long").alias("n"),
        tau_l.alias("tau"),
        (F.least(F.col("__t1"), tau_l) + F.col("__area"))
        .alias("rmst"),
        F.coalesce(F.col("__s_tau"), F.lit(1.0)).alias("km_at_tau"))


def cumulative_incidence(
    df: DataFrame,
    duration_col: str,
    cause_col: str,
) -> DataFrame:
    """Aalen-Johansen cumulative incidence under competing risks —
    the probability of failing FROM EACH CAUSE by time t when other
    causes can strike first (1 − KM per cause is wrong there: it
    treats competitors as censoring and overstates every curve;
    Putter, Fiocco & Geskus 2007).  ``cause_col``: 0 = censored,
    k ≥ 1 = failure cause.  One row per (distinct duration, observed
    cause): ``(t, cause, n_risk, n_events, cif)`` with
    ``CIF_k(t) = Σ_{t_i ≤ t} S(t_i⁻)·d_k(t_i)/n(t_i)`` and S the
    ALL-CAUSE KM curve.

    Scale shape: groupBy(t, cause) collapse, a pivot-free per-time
    rollup riding the same exchange, ONE prefix-sum pass for at-risk
    + the all-cause log-survival walk, then one more prefix sum per
    (cause) — every pass is ``running_sums`` machinery, no global
    window, no join beyond its broadcasts.
    """
    dur = F.col(duration_col).cast("double")
    cause = F.col(cause_col).cast("int")
    base = df.filter(dur.isNotNull() & ~F.isnan(dur)
                     & cause.isNotNull()).select(
        dur.alias("t"), cause.alias("cause"))
    # per (t, cause) event counts; per-time totals ride a second
    # groupBy over the bounded (t, cause) frame, not the raw data
    tc = base.groupBy("t", "cause").agg(
        F.count(F.lit(1)).alias("n_events"))
    per_t = tc.groupBy("t").agg(
        F.sum("n_events").alias("__tot"),
        F.sum(F.when(F.col("cause") != 0, F.col("n_events"))
              .otherwise(F.lit(0))).alias("__d_all"))
    c1 = running_sums(per_t, ["t"], ["__tot"])
    n = (F.col("__g___tot") - F.col("__cum___tot")
         + F.col("__tot")).cast("double")
    d = F.col("__d_all").cast("double")
    term = F.when(d < n, F.log(F.lit(1.0) - d / n)).otherwise(
        F.lit(0.0))
    dead = (d >= n).cast("int")
    c2 = running_sums(
        c1.select("t", n.alias("n_risk"), "__d_all",
                  term.alias("__ln"), dead.alias("__dead")),
        ["t"], ["__ln", "__dead"])
    # S(t⁻) = S(t) / (1 − d/n): back out the CURRENT time's factor
    s_prev = F.when(
        F.col("__cum___dead") - F.col("__dead") > 0, F.lit(0.0)
    ).otherwise(F.exp(F.col("__cum___ln") - F.col("__ln")))
    walk = c2.select("t", "n_risk",
                     s_prev.alias("__s_prev"))
    # increment per (t, cause): S(t⁻)·d_k/n — join the bounded walk
    # back to the (t, cause) cells by broadcast-ineligible equi-join
    # on t (both sides are the collapsed time grain)
    cells = tc.filter(F.col("cause") != 0).join(walk, "t")
    inc = cells.select(
        "t", "cause", "n_risk", "n_events",
        (F.col("__s_prev") * F.col("n_events") / F.col("n_risk"))
        .alias("__inc"))
    out = running_sums(inc, ["cause", "t"], ["__inc"])
    # the prefix runs in (cause, t) order; a cause switch must reset,
    # which running_sums does NOT do — subtract the prior causes'
    # grand totals via a per-cause offset
    pc = inc.groupBy("cause").agg(F.sum("__inc").alias("__ctot"))
    from pyspark.sql import Window as _W

    woff = _W.orderBy("cause").rowsBetween(
        _W.unboundedPreceding, -1)
    # bounded frame: one row per cause
    off = pc.select("cause",
                    F.coalesce(F.sum("__ctot").over(woff),
                               F.lit(0.0)).alias("__off"))
    res = out.join(F.broadcast(off), "cause")
    return res.select(
        "t", "cause", F.col("n_risk").cast("long").alias("n_risk"),
        "n_events",
        (F.col("__cum___inc") - F.col("__off")).alias("cif")
    ).orderBy("cause", "t")


def cox_ph(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    feature_cols,
    max_iter: int = 25,
    tol: float = 1e-8,
    ridge: float = 1e-9,
):
    """Cox proportional-hazards regression (Breslow ties) by
    distributed Newton on the partial likelihood.  Returns
    ``{"coef": {col: b}, "se": {col: se}, "hazard_ratio": {col:
    exp(b)}, "n", "n_events", "iterations", "converged",
    "log_likelihood"}``.

    The partial likelihood needs, per distinct event time t, the
    RISK-SET sums ``S0 = Σ_{T_j ≥ t} e^{xβ}``, ``S1_k = Σ x_k e^{xβ}``
    and ``S2_kl = Σ x_k x_l e^{xβ}``.  Each Newton iteration is:

    1. ONE partial-agged groupBy(duration) over the checkpointed base
       (the weighted moment terms — p(p+3)/2 + p + 2 expressions, all
       JVM codegen);
    2. ONE two-phase prefix pass (``core.prefix.running_sums``) whose
       grand-total-minus-exclusive-prefix IS the suffix (risk-set)
       sum — no single-partition window;
    3. ONE 1-row reduce over the event times for the gradient /
       Hessian / log-likelihood;
    4. a p×p driver solve (numpy), p = #named features (tens max).

    Features are internally centered (Cox coefficients are invariant
    to covariate shifts; centering keeps ``e^{xβ}`` conditioned).
    Rows with null/NaN duration, event, or features drop; ``event``
    must cast to 0/1 (1 = event, 0 = right-censored).  The filtered
    base is materialized once so the 25 iterations never rescan the
    source.
    """
    import numpy as np

    feats = list(feature_cols)
    if not feats:
        raise ValueError("cox_ph needs >= 1 feature column")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1: {max_iter}")
    p = len(feats)
    raw = _design(df, feats, __t=duration_col, __e=event_col)
    means = raw.agg(
        *[F.avg(f"__x{j}").alias(f"__m{j}") for j in range(p)],
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__e").cast("long").alias("__ne")).collect()[0]
    n = int(means["__n"])
    if n == 0:
        raise ValueError("cox_ph: no usable rows")
    n_events = int(means["__ne"])
    xs = [F.col(f"__x{j}") for j in range(p)]
    # with a leading ones column, the Gram aggregate per duration holds
    # S0 (__h0_0), S1_k (__h0_{k+1}), S2_kl (__h{k+1}_{l+1}), the event
    # count d (__g0) and Σ e·x_k (__g{k+1})
    ones = [F.lit(1.0)] + xs
    last = {}

    def step(base, beta):
        eta = _eta(beta, xs)
        # cut here rather than inside the walk, so this step's blocks
        # can be released once its row is on the driver
        g = materialize(base.groupBy("__t").agg(*_gram(
            ones, F.exp(eta), F.col("__e"),
            __se=F.sum(F.col("__e") * eta))))
        try:
            r = running_sums(
                g, ["__t"], [c for c in g.columns if c.startswith("__h")])

            # suffix (risk-set) sum = grand − exclusive prefix
            def suf(c):
                return (F.col(f"__g_{c}")
                        - (F.col(f"__cum_{c}") - F.col(c)))

            s0 = suf("__h0_0")
            d = F.col("__g0")

            def s1(k):
                return suf(f"__h0_{k + 1}") / s0

            red = [F.sum(F.col("__se")).alias("__lse"),
                   F.sum(d * F.log(s0)).alias("__dls")]
            # the reduce's own __g/__h columns are the gradient and
            # Hessian that _moments reads
            red += [F.sum(F.col(f"__g{k + 1}")
                          - d * suf(f"__h0_{k + 1}") / s0).alias(f"__g{k}")
                    for k in range(p)]
            red += [F.sum(d * (suf(f"__h{k + 1}_{m + 1}") / s0
                               - s1(k) * s1(m))).alias(f"__h{k}_{m}")
                    for k in range(p) for m in range(k, p)]
            row = r.filter(d > 0).agg(*red).collect()[0]
        finally:
            release(g)
        last["ll"] = float((row["__lse"] or 0.0) - (row["__dls"] or 0.0))
        hess, grad = _moments(row, p)
        last["hess"] = hess + ridge * np.eye(p)
        return beta + np.linalg.solve(last["hess"], grad)

    beta, it, converged, _ = _newton(
        raw.select("__t", "__e", *[
            (x - F.lit(float(means[f"__m{j}"]))).alias(f"__x{j}")
            for j, x in enumerate(xs)]),
        lambda base: np.zeros(p), step, max_iter=max_iter, tol=tol)
    se = {}
    try:
        cov = np.linalg.inv(last["hess"])
        ses = np.sqrt(np.maximum(np.diag(cov), 0.0))
        se = {c: float(ses[j]) for j, c in enumerate(feats)}
    except np.linalg.LinAlgError:
        pass
    return {
        "coef": {c: float(beta[j]) for j, c in enumerate(feats)},
        "se": se,
        "hazard_ratio": {c: float(np.exp(beta[j]))
                         for j, c in enumerate(feats)},
        "n": n, "n_events": n_events, "iterations": it,
        "converged": converged, "log_likelihood": last["ll"],
    }


def cox_report(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    feature_cols,
) -> DataFrame:
    """The :func:`cox_ph` fit as a bounded Spark frame — one row per
    feature: ``(term, beta, se, z, hazard_ratio)`` plus a
    ``__model__`` row carrying (n, n_events) in (beta, se)."""
    from pyspark.sql import types as T

    m = cox_ph(df, duration_col, event_col, feature_cols)
    rows = [(c, m["coef"][c], m["se"].get(c),
             m["hazard_ratio"][c]) for c in feature_cols]
    rows.append(("__model__", float(m["n"]),
                 float(m["n_events"]), None))
    schema = T.StructType([
        T.StructField("term", T.StringType()),
        T.StructField("beta", T.DoubleType()),
        T.StructField("se", T.DoubleType()),
        T.StructField("hazard_ratio", T.DoubleType()),
    ])
    rep = df.sparkSession.createDataFrame(rows, schema)
    return rep.select(
        "term", "beta", "se",
        F.when((F.col("term") != "__model__") & (F.col("se") > 0),
               F.col("beta") / F.col("se")).alias("z"),
        "hazard_ratio")


def concordance_index(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    score_col: str,
    max_cells: int = 5000,
) -> DataFrame:
    """Harrell's concordance index for a risk score against
    right-censored durations (higher score = higher risk = expected
    earlier event).  ONE row: ``(n, n_events, comparable, concordant,
    tied_score, c_index)``.

    Pair convention (the standard lifelines one): pair (i, j) is
    comparable when ``t_i < t_j`` and i had the event, or
    ``t_i == t_j`` with i an event and j censored.  Concordant when
    ``s_i > s_j``; equal scores credit 0.5.  ``c_index =
    (concordant + 0.5 * tied_score) / comparable``.

    Scale shape: the data collapses to one cell per DISTINCT
    (duration, score) with event/censored counts — every pair
    statistic is then a sum of cell-count products, so the pair join
    runs over CELLS, never rows.  The cell pair join is inherently a
    range theta-join (quadratic in cells), so the collapsed cell
    count is guarded by ``max_cells`` (one cheap count): above it,
    quantize the score (e.g. ``F.round(score, 3)``) or the duration
    to a coarser grain first — for calibrated model scores and
    rollup-grain durations the cell table is naturally tiny.
    """
    t = F.col(duration_col).cast("double")
    e = F.col(event_col).cast("double")
    sc = F.col(score_col).cast("double")
    base = (df.filter(t.isNotNull() & ~F.isnan(t)
                      & e.isNotNull() & ~F.isnan(e)
                      & sc.isNotNull() & ~F.isnan(sc))
            .select(t.alias("__t"), e.alias("__e"), sc.alias("__s")))
    cells = base.groupBy("__t", "__s").agg(
        F.sum("__e").alias("__d"),
        F.sum(F.lit(1.0) - F.col("__e")).alias("__c"),
        F.count(F.lit(1)).cast("double").alias("__m"))
    # NOT checkpointed (r13, measured): the (duration, score) cell
    # table is quasi-row-scale for continuous scores, and cutting it
    # cost 10.1 -> 16.1 s on cindex_psm_poisson (materialization +
    # lost pair-join width); the two-pass recompute is cheaper.
    n_cells = cells.count()
    if n_cells > max_cells:
        raise ValueError(
            f"concordance_index: {n_cells} distinct (duration, "
            f"score) cells > max_cells={max_cells}; the pair join "
            "is quadratic in cells — quantize the score or duration "
            "to a coarser grain first, or raise max_cells")
    # lazy: the returned frame's own job builds the event cells
    ev = materialize(cells.filter(F.col("__d") > 0).select(
        F.col("__t").alias("__ti"), F.col("__s").alias("__si"),
        F.col("__d").alias("__di")), lazy=True)
    other = cells.select(
        F.col("__t").alias("__tj"), F.col("__s").alias("__sj"),
        F.col("__m").alias("__mj"), F.col("__c").alias("__cj"))
    # comparable weight from cell i (events only) to cell j:
    # t_i < t_j  -> all m_j rows;  t_i == t_j -> censored c_j rows
    pairs = ev.join(
        F.broadcast(other), F.col("__ti") <= F.col("__tj"))
    w = F.when(F.col("__ti") < F.col("__tj"), F.col("__mj"))         .otherwise(F.col("__cj"))
    conc = F.when(F.col("__si") > F.col("__sj"), w).otherwise(0.0)
    tie = F.when(F.col("__si") == F.col("__sj"), w).otherwise(0.0)
    agg = pairs.agg(
        F.sum(F.col("__di") * w).alias("__comp"),
        F.sum(F.col("__di") * conc).alias("__conc"),
        F.sum(F.col("__di") * tie).alias("__tie"))
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("n"),
                   F.sum("__e").cast("long").alias("n_events"))
    rep = tot.crossJoin(F.broadcast(agg))
    comp = F.coalesce(F.col("__comp"), F.lit(0.0))
    return rep.select(
        "n", "n_events",
        comp.cast("long").alias("comparable"),
        F.coalesce(F.col("__conc"), F.lit(0.0)).cast("double")
        .alias("concordant"),
        F.coalesce(F.col("__tie"), F.lit(0.0)).cast("double")
        .alias("tied_score"),
        F.when(comp > 0,
               (F.coalesce(F.col("__conc"), F.lit(0.0))
                + 0.5 * F.coalesce(F.col("__tie"), F.lit(0.0)))
               / comp).alias("c_index"))
