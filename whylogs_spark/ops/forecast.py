"""Exponential-smoothing forecasts over grouped time series — the
"what should this metric be tomorrow" companion of the monitoring
family (``core/monitor.py`` EWMA charts look backward at deviations;
this projects the level forward) and of ``seasonal_naive`` in
``ops/events.py``.

Beyond-reference extension family (SURVEY.md §2.12).

Simple exponential smoothing has a CLOSED FORM: with ``l_1 = x_1``
and ``l_t = a*x_t + (1-a)*l_{t-1}``,

    l_n = a * sum_{i=0..n-2} (1-a)^i * x_{n-i}  +  (1-a)^{n-1} * x_1

— a reverse-weighted window sum whose weights are all <= 1 (numerically
stable, no recursion).  That makes SES fully declarative: one
per-group ordered window pass, Catalyst-planned, and exactly
reproducible in ANSI SQL (the DuckDB gate oracle replays the same
power series).

Grain contract (same as ops/trend.py): feed COLLAPSED rollup-grain
series (one row per group per bucket).  The window sorts each group's
series inside its partition; series length is the rollup bucket
count, not raw events.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["ses_forecast", "holt_forecast"]


def ses_forecast(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: Optional[Sequence[str]] = None,
    alpha: float = 0.3,
    max_points: int = 100_000,
) -> DataFrame:
    """Simple exponential smoothing per group; one row per group:
    ``(n, alpha, first_value, last_value, level, forecast,
    one_step_error)``.

    * ``level`` — the smoothed level ``l_n`` (the closed-form
      reverse-weighted sum above; ``l_1 = x_1`` init).
    * ``forecast`` — the flat h-step-ahead forecast (= ``level``).
    * ``one_step_error`` — ``x_n - l_{n-1}``, the holdout error of
      forecasting the newest point from its past (null when n < 2).

    Duplicate timestamps within a group are pre-collapsed by MEAN
    (deterministic regardless of row order).  Nulls/NaNs drop.
    ``max_points`` guards the documented rollup-grain contract: any
    group longer than it raises at plan build (count is one cheap
    agg) — re-grain with a coarser bucket instead of feeding raw
    events.

    Scale shape: one groupBy collapse, one PER-GROUP window pass
    (partitioned by the group keys — no global sort), one 1-row-per-
    group reduce.  Weights ``(1-a)^i`` enter as ``pow`` on the
    reversed row index, all JVM codegen.

    Ungrouped-path bound (BY DESIGN): with no ``group_cols`` the
    window partitions on ``lit(1)`` — ONE series, one partition, a
    single-task sort.  That is the contract, not an accident: an
    ungrouped SES fit is a driver-bounded series whose length the
    ``max_points`` guard caps at plan build (the count runs before
    the window exists), so the single partition holds ≤ ``max_points``
    collapsed rows, never raw-event volume.  For per-entity fitting
    at scale, pass ``group_cols`` and the sort distributes.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1]: {alpha}")
    groups = list(group_cols or [])
    v = F.col(value_col).cast("double")
    t = F.col(time_col)
    base = (df.filter(t.isNotNull() & v.isNotNull() & ~F.isnan(v))
            .groupBy(*(groups + [time_col]))
            .agg(F.avg(v).alias("__v")))
    # the guard job and the fit both consume the collapse — pay the
    # upstream once when Catalyst bounds it
    from whylogs_spark.core.util import materialize
    base = materialize(base, only_if_expensive=True)

    sizes = base.groupBy(*groups).agg(F.count(F.lit(1)).alias("__n"))
    worst = sizes.agg(F.max("__n").alias("m")).collect()[0]["m"]
    if worst is not None and worst > max_points:
        raise ValueError(
            f"ses_forecast: a group has {worst} points > max_points="
            f"{max_points}; collapse to a coarser rollup grain first "
            "(ops/events.rollup_timeseries)")

    part = [F.col(c) for c in groups] if groups \
        else [F.lit(1).alias("__all")]
    w_ord = Window.partitionBy(*part).orderBy(F.col(time_col).asc())
    ranked = base.select(
        *groups, "__v",
        F.row_number().over(w_ord).alias("__k"),
        F.count(F.lit(1)).over(
            Window.partitionBy(*part)).alias("__n"),
        F.first("__v").over(w_ord).alias("__x1"))
    a = float(alpha)
    one_m_a = F.lit(1.0 - a)
    # level over the first m points: contribution of x_k (k>=2) is
    # a*(1-a)^(m-k); x_1 contributes (1-a)^(m-1).
    contrib_n = F.when(
        F.col("__k") >= 2,
        F.lit(a) * F.pow(one_m_a, F.col("__n") - F.col("__k"))
        * F.col("__v")).otherwise(F.lit(0.0))
    contrib_n1 = F.when(
        (F.col("__k") >= 2) & (F.col("__k") <= F.col("__n") - 1),
        F.lit(a) * F.pow(one_m_a, F.col("__n") - 1 - F.col("__k"))
        * F.col("__v")).otherwise(F.lit(0.0))
    rep = ranked.groupBy(*groups).agg(
        F.max("__n").cast("long").alias("n"),
        F.max("__x1").alias("first_value"),
        F.max(F.when(F.col("__k") == F.col("__n"), F.col("__v")))
        .alias("last_value"),
        (F.sum(contrib_n)
         + F.max(F.pow(one_m_a, F.col("__n") - 1) * F.col("__x1")))
        .alias("level"),
        F.sum(contrib_n1).alias("__lev_prev_tail"),
        F.max(F.pow(one_m_a, F.col("__n") - 2) * F.col("__x1"))
        .alias("__lev_prev_x1"))
    lev_prev = F.col("__lev_prev_tail") + F.col("__lev_prev_x1")
    return rep.select(
        *groups, "n",
        F.lit(a).alias("alpha"),
        "first_value", "last_value", "level",
        F.col("level").alias("forecast"),
        F.when(F.col("n") >= 2,
               F.col("last_value") - lev_prev)
        .alias("one_step_error"))


def holt_forecast(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: Optional[Sequence[str]] = None,
    alpha: float = 0.3,
    beta: float = 0.1,
    phi: float = 1.0,
    horizon: int = 3,
    max_points: int = 50_000,
) -> DataFrame:
    """Holt linear-trend exponential smoothing per group, with optional
    damping (Gardner-McKenzie): ``phi=1`` is classic Holt, ``phi<1``
    flattens the projected trend geometrically.

    Recursion (l_1 = x_1, b_1 = x_2 - x_1, folded from t=2)::

        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + phi*b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*phi*b_{t-1}

    One row per group: ``(n, alpha, beta, phi, level, trend,
    one_step_error, fc_1..fc_horizon)`` where ``fc_h = level +
    (phi + phi^2 + ... + phi^h) * trend`` (h*trend when phi=1) and
    ``one_step_error = x_n - (l_{n-1} + phi*b_{n-1})`` — carried
    through the fold state, null until n >= 3 (the first prediction
    exists at t=3; the t=2 "prediction" would use x_2 to predict
    itself through the b_1 init).  Groups with n < 2 emit null
    level/trend/forecasts (no trend is estimable).

    Unlike SES, the coupled level/trend recursion has no clean
    reverse-weight closed form, so each group's COLLAPSED series is
    folded once with a higher-order ``aggregate`` over a
    struct(level, trend) state — all JVM codegen, no Python, no
    window.  The identical fold replays in the DuckDB oracle as
    ``list_reduce`` over 2-element list states, so results are
    bit-reproducible cross-engine.

    Scale shape: one groupBy collapse (duplicate timestamps pre-merged
    by MEAN), ONE ``collect_list(struct(t, v))`` per group (bounded by
    ``max_points`` — raises at plan build; feed rollup-grain series,
    not raw events), ``array_sort`` + one O(n) fold per group.  The
    grain contract and guard follow :func:`ses_forecast`; grouped
    series distribute, and there is no ungrouped global window at all
    (the fold happens inside the aggregate).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1]: {alpha}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"beta must be in [0, 1]: {beta}")
    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1]: {phi}")
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1: {horizon}")
    groups = list(group_cols or [])
    v = F.col(value_col).cast("double")
    t = F.col(time_col)
    base = (df.filter(t.isNotNull() & v.isNotNull() & ~F.isnan(v))
            .groupBy(*(groups + [time_col]))
            .agg(F.avg(v).alias("__v")))
    # the guard job and the fold both consume the collapse — pay the
    # upstream once when Catalyst bounds it
    from whylogs_spark.core.util import materialize
    base = materialize(base, only_if_expensive=True)

    sizes = base.groupBy(*groups).agg(F.count(F.lit(1)).alias("__n"))
    worst = sizes.agg(F.max("__n").alias("m")).collect()[0]["m"]
    if worst is not None and worst > max_points:
        raise ValueError(
            f"holt_forecast: a group has {worst} points > max_points="
            f"{max_points}; collapse to a coarser rollup grain first "
            "(ops/events.rollup_timeseries)")

    a, b, p = float(alpha), float(beta), float(phi)
    rep = base.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct(
                F.col(time_col).alias("t"), F.col("__v").alias("v")))),
            lambda s: s["v"]).alias("__vs"))

    def _lnew(acc, x):
        return a * x + (1.0 - a) * (acc["l"] + p * acc["b"])

    # fold from the 3rd point; state seeded from the first two.
    # For phi = 1, l_1 = x_1 and b_1 = x_2 - x_1 give l_2 = x_2
    # exactly under the recursion, so (l, b) = (x_2, x_2 - x_1) IS
    # the t=2 state; with damping (phi < 1) the same seed is an
    # initialization CONVENTION, mirrored verbatim by the DuckDB
    # oracle so cross-engine parity holds either way.
    # e carries the latest one-step prediction error.
    state0 = F.struct(
        F.element_at("__vs", 2).alias("l"),
        (F.element_at("__vs", 2) - F.element_at("__vs", 1)).alias("b"),
        F.lit(None).cast("double").alias("e"))
    folded = F.aggregate(
        F.slice("__vs", 3, F.greatest(F.size("__vs") - 2, F.lit(0))),
        state0,
        lambda acc, x: F.struct(
            _lnew(acc, x).alias("l"),
            (b * (_lnew(acc, x) - acc["l"])
             + (1.0 - b) * p * acc["b"]).alias("b"),
            (x - (acc["l"] + p * acc["b"])).alias("e")))
    rep = rep.withColumn(
        "__st", F.when(F.size("__vs") >= 2, folded))

    damp = [p] if p < 1.0 else [1.0]
    for _ in range(1, horizon):
        damp.append(damp[-1] * p if p < 1.0 else 1.0)
    csum = []
    acc_ = 0.0
    for d in damp:
        acc_ += d
        csum.append(acc_)
    fcs = [
        (F.col("__st.l") + F.lit(csum[h - 1]) * F.col("__st.b"))
        .alias(f"fc_{h}")
        for h in range(1, horizon + 1)
    ]
    return rep.select(
        *groups, "n",
        F.lit(a).alias("alpha"), F.lit(b).alias("beta"),
        F.lit(p).alias("phi"),
        F.col("__st.l").alias("level"),
        F.col("__st.b").alias("trend"),
        F.col("__st.e").alias("one_step_error"),
        *fcs)
