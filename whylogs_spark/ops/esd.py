"""Seasonal-Hybrid ESD anomaly detection (Hochenbaum, Vallis &
Kejariwal 2017 — Twitter's AnomalyDetection): generalized extreme
Studentized deviate over seasonally-adjusted residuals, with the
median/MAD robustification that lets it survive up to ~50% anomalous
points where classic ESD's mean/sd masks them.

Complements the monitoring family: ``core/monitor.anomaly_scan``
judges each point against a trailing baseline (streaming-friendly,
one pass); S-H-ESD answers the RETROSPECTIVE question — "which k
points of this series are statistically anomalous at level alpha,
accounting for seasonality" — with a proper multiple-testing-aware
critical value per removal step.

Scale shape (the house iterative-fit discipline): the series
collapses to rollup grain (``max_points``-guarded at plan build),
seasonal medians come from ONE grouped exact-percentile pass, the
residual frame is materialized once, and each of the <=
``max_anomalies`` ESD steps runs TWO bounded aggregates (median, MAD)
plus a 1-row argmax collect — never a data collect.  Job count is
O(max_anomalies), data volume per job is the collapsed series.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["seasonal_esd"]


def _t_ppf(p: float, df: float) -> float:
    """Student-t quantile by bisection on the engine's own
    ``student_t_sf`` (scipy-free; |err| < 1e-10 in p)."""
    from ..core.drift import student_t_sf

    if not 0.0 < p < 1.0:
        raise ValueError(f"p must be in (0, 1): {p}")
    if p == 0.5:
        return 0.0
    lo, hi = -1e3, 1e3
    for _ in range(200):
        mid = (lo + hi) / 2.0
        # CDF(mid) = 1 - sf(mid) for the upper tail; student_t_sf is
        # the two-sided-friendly survival function of |t|? No — treat
        # sf as P(T > t) for t >= 0 and use symmetry
        if mid >= 0:
            cdf = 1.0 - student_t_sf(mid, df)
        else:
            cdf = student_t_sf(-mid, df)
        if cdf < p:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


def seasonal_esd(
    df: DataFrame,
    time_col: str,
    value_col: str,
    period: int,
    max_anomalies: int = 10,
    alpha: float = 0.05,
    max_points: int = 20_000,
    hybrid: bool = True,
) -> DataFrame:
    """-> the detected anomalies, one row each: ``(ts, value,
    residual, score, step, critical, anomalous)`` ordered by removal
    step.  Rows up to the LAST step whose test statistic exceeded its
    critical value are ``anomalous = true`` (the GESD rule: the
    largest i with R_i > lambda_i declares the top i points).

    ``period`` is the season length in BUCKETS of the (already
    rolled-up) series — pass 24 for hourly data with daily
    seasonality.  ``hybrid=True`` uses median/MAD (S-H-ESD);
    ``False`` uses mean/stddev (classic GESD).  Duplicate timestamps
    collapse by mean; nulls/NaNs drop.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2: {period}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1): {alpha}")
    if max_anomalies < 1:
        raise ValueError(f"max_anomalies must be >= 1: {max_anomalies}")
    v = F.col(value_col).cast("double")
    t = F.col(time_col)
    base = (df.filter(t.isNotNull() & v.isNotNull() & ~F.isnan(v))
            .groupBy(time_col).agg(F.avg(v).alias("__v")))
    # the guard count, the phase-median branch and the deseasonalize
    # branch all consume the collapse — pay the upstream once when
    # Catalyst bounds it
    from whylogs_spark.core.util import materialize, release
    base = materialize(base, only_if_expensive=True)
    try:
        n = base.count()
        if n > max_points:
            raise ValueError(
                f"seasonal_esd: {n} points > max_points={max_points}; "
                "collapse to a coarser rollup grain first "
                "(ops/events.rollup_timeseries)")
        if n < 2 * period:
            raise ValueError(
                f"seasonal_esd needs >= 2 periods of data "
                f"({2 * period} points), got {n}")
        max_anomalies = min(max_anomalies, max(1, n // 2 - 1))

        # phase index from the rank of each bucket (robust to gaps and to
        # non-epoch-aligned grains), seasonal median per phase, global
        # median of the deseasonalized series
        rnk = F.row_number().over(Window.orderBy(time_col))
        ranked = base.withColumn("__ph", (rnk - 1) % F.lit(period))
        smed = ranked.groupBy("__ph").agg(
            F.expr("percentile(__v, 0.5)").alias("__smed"))
        des = ranked.join(F.broadcast(smed), "__ph").select(
            time_col, "__v", (F.col("__v") - F.col("__smed")).alias("__d"))
        gmed = des.agg(F.expr("percentile(__d, 0.5)").alias("m")) \
            .collect()[0]["m"]
        resid = des.select(
            time_col, "__v",
            (F.col("__d") - F.lit(float(gmed))).alias("__r"))
        resid = materialize(resid)
    finally:
        release(base)

    out_rows = []
    excluded = []
    last_sig = 0
    try:
        for step in range(1, max_anomalies + 1):
            cur = resid
            for ts_x in excluded:
                cur = cur.filter(F.col(time_col) != F.lit(ts_x))
            if hybrid:
                st = cur.agg(
                    F.expr("percentile(__r, 0.5)").alias("c")).collect()[0]
                center = float(st["c"])
                mad = cur.agg(F.expr(
                    f"percentile(abs(__r - {center!r}), 0.5)").alias("s")
                ).collect()[0]["s"]
                spread = 1.4826 * float(mad)
            else:
                st = cur.agg(F.avg("__r").alias("c"),
                             F.stddev_samp("__r").alias("s")).collect()[0]
                center, spread = float(st["c"]), float(st["s"] or 0.0)
            if not spread or spread <= 0:
                break
            top = (cur.select(
                time_col, "__v", "__r",
                (F.abs(F.col("__r") - F.lit(center)) / F.lit(spread))
                .alias("__score"))
                .orderBy(F.desc("__score"), F.col(time_col))
                .limit(1).collect())
            if not top:
                break
            r = top[0]
            n_i = n - (step - 1)
            p = 1.0 - alpha / (2.0 * n_i)
            tq = _t_ppf(p, n_i - 2)
            lam = ((n_i - 1) * tq
                   / math.sqrt((n_i - 2 + tq * tq) * n_i))
            if r["__score"] > lam:
                last_sig = step
            out_rows.append((r[time_col], float(r["__v"]),
                             float(r["__r"]), float(r["__score"]),
                             step, float(lam)))
            excluded.append(r[time_col])
    finally:
        release(resid)
    spark = df.sparkSession
    schema = (f"{time_col} {base.schema[time_col].dataType.simpleString()}, "
              "value double, residual double, score double, "
              "step int, critical double, anomalous boolean")
    rows = [(ts, vv, rr, sc, stp, lam, stp <= last_sig)
            for ts, vv, rr, sc, stp, lam in out_rows]
    return spark.createDataFrame(rows, schema)
