"""Non-parametric trend detection over bucketed metric series:
Mann-Kendall S / variance / z and the Theil-Sen slope + intercept —
the robust "is this metric drifting up or down" answer a monitoring
pipeline wants (immune to outliers and to the distribution shape,
unlike an OLS slope).

No reference analogue (whylogs ships point-in-time drift scores, not
trend tests); the statistics follow Mann (1945) / Kendall (1975) with
the standard tie-corrected variance and Sen (1968) slopes.

Scale shape: the input is collapsed to ONE row per (group, time) —
duplicate timestamps average — so the quadratic pair expansion runs
over series LENGTH, not row count.  The op targets rollup-grain
series (``ops.events.rollup_timeseries`` output: daily buckets give
n=365 → 66k pairs per group), where n² is trivially bounded; the
self-join is an equi-join on the group key, so skew bound = one
group's series length squared and groups parallelize.  Sen's median
slope uses exact ``percentile`` over the pair frame; the tie term is
one more (group, value) partial-agged aggregation.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["mann_kendall", "with_trend_pvalues", "cusum_changepoint",
           "binary_segmentation"]


def mann_kendall(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: Optional[Sequence[str]] = None,
    max_points: int = 20_000,
) -> DataFrame:
    """One row per group: ``(group..., n, s_stat, var_s, z,
    sen_slope, sen_intercept)``.

    * ``s_stat`` — Mann-Kendall S = Σ_{i<j} sign(v_j − v_i) over the
      time-ordered collapsed series.
    * ``var_s`` — tie-corrected variance
      [n(n−1)(2n+5) − Σ_t c_t(c_t−1)(2c_t+5)] / 18.
    * ``z`` — continuity-corrected (S∓1)/√var_s; 0 when S = 0; null
      when var_s = 0 (a constant series has no trend evidence).
    * ``sen_slope`` — median of all pairwise slopes
      (v_j − v_i)/(t_j − t_i) in value-units per SECOND for
      timestamp time columns (per time-unit for numeric ones).
    * ``sen_intercept`` — median of (v − sen_slope·t), the robust
      line's level.

    Null/NaN values and null times drop; duplicate timestamps within
    a group average before the walk (MK is defined on a sequence).
    Attach p-values with :func:`with_trend_pvalues`.

    GRAIN CONTRACT (enforced): the pair walk and the exact
    ``percentile(__slope, 0.5)`` are O(n²) in the COLLAPSED series
    length — the aggregation buffer holds every pair slope of a
    group in executor memory.  Fine at rollup grain (hundreds of
    buckets); catastrophic on raw events.  ``max_points`` (default
    20k ⇒ ≤ 2·10⁸ pairs for the worst group) is checked with one
    cheap count over the collapsed frame and raises with a pointer
    at ``ops.events.rollup_timeseries`` for re-graining.
    """
    from whylogs_spark.ops.features import _epoch_seconds

    groups: List[str] = list(group_cols or [])
    t = _epoch_seconds(df, time_col)
    v = F.col(value_col).cast("double")
    base = df.filter(
        t.isNotNull() & v.isNotNull() & ~F.isnan(v)
    ).select(*groups, t.alias("__t"), v.alias("__v"))
    # one row per (group, time): MK needs a sequence
    g = base.groupBy(*groups, "__t").agg(F.avg("__v").alias("__v"))
    # the guard, both pair-join sides, and the tie pass all consume
    # the collapse — pay the upstream once when Catalyst bounds it
    from whylogs_spark.core.util import materialize
    g = materialize(g, only_if_expensive=True)

    if max_points is not None:
        worst = (g.groupBy(*groups)
                 .agg(F.count(F.lit(1)).alias("__n"))
                 .agg(F.max("__n").alias("m")).collect()[0]["m"])
        if worst is not None and worst > max_points:
            raise ValueError(
                f"mann_kendall: a group's collapsed series has "
                f"{worst} points > max_points={max_points}; the "
                "pair walk is O(n²) per group — collapse to a "
                "coarser bucket first (ops.events.rollup_timeseries) "
                "or raise max_points explicitly")

    a = g.select(*groups, F.col("__t").alias("__t1"),
                 F.col("__v").alias("__v1"))
    b = g.select(*[F.col(c).alias(f"__g_{c}") for c in groups],
                 F.col("__t").alias("__t2"),
                 F.col("__v").alias("__v2"))
    if groups:
        cond = None
        for c in groups:
            eq = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
            cond = eq if cond is None else (cond & eq)
        pairs = a.join(b, cond & (F.col("__t2") > F.col("__t1")))
    else:
        # global series: the collapsed frame is series-length-sized
        # (rollup grain), so broadcasting one side is bounded
        pairs = a.join(F.broadcast(b),
                       F.col("__t2") > F.col("__t1"))
    sgn = (F.when(F.col("__v2") > F.col("__v1"), 1)
           .when(F.col("__v2") < F.col("__v1"), -1)
           .otherwise(0))
    slope = (F.col("__v2") - F.col("__v1")) \
        / (F.col("__t2") - F.col("__t1"))
    pair_stats = (
        pairs.select(*groups, sgn.alias("__sgn"),
                     slope.alias("__slope"))
        .groupBy(*groups)
        .agg(F.sum("__sgn").alias("s_stat"),
             F.expr("percentile(__slope, 0.5)").alias("sen_slope"))
    )

    # tie term + series length from the collapsed series
    tie_sizes = g.groupBy(*groups, "__v").agg(
        F.count(F.lit(1)).cast("double").alias("__c"))
    c = F.col("__c")
    counts = tie_sizes.groupBy(*groups).agg(
        F.sum("__c").cast("long").alias("n"),
        F.sum(c * (c - 1) * (2 * c + 5)).alias("__ties"))

    if groups:
        rep = counts.join(pair_stats, groups, "left")
    else:
        rep = counts.join(F.broadcast(pair_stats), F.lit(True), "left")
    nd = F.col("n").cast("double")
    var_s = (nd * (nd - 1) * (2 * nd + 5) - F.col("__ties")) / 18.0
    s = F.col("s_stat").cast("double")
    z = F.when(
        var_s > 0,
        F.when(s > 0, (s - 1) / F.sqrt(var_s))
        .when(s < 0, (s + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0)))
    rep = rep.select(*groups, "n", "s_stat", var_s.alias("var_s"),
                     z.alias("z"), "sen_slope")

    # robust intercept: median residual level at the Sen slope — one
    # more agg over the collapsed series with the bounded per-group
    # report broadcast back
    if groups:
        back = g.join(
            F.broadcast(rep.select(*groups, "sen_slope")), groups)
    else:
        back = g.crossJoin(
            F.broadcast(rep.select("sen_slope")))
    inter = (back.select(
        *groups,
        (F.col("__v") - F.col("sen_slope") * F.col("__t"))
        .alias("__r"))
        .groupBy(*groups)
        .agg(F.expr("percentile(__r, 0.5)").alias("sen_intercept")))
    if groups:
        return rep.join(inter, groups, "left")
    return rep.crossJoin(F.broadcast(inter))


def with_trend_pvalues(report: DataFrame) -> DataFrame:
    """Attach the two-sided normal p-value of the MK ``z`` to a
    :func:`mann_kendall` frame — Arrow batch over the bounded
    (one-row-per-group) report, same pattern as
    ``ops.abtest.with_ab_pvalues``."""
    from whylogs_spark.core.drift import normal_sf

    schema = T.StructType(
        list(report.schema.fields)
        + [T.StructField("p_value", T.DoubleType())])

    def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            pv = [None if pd.isna(zz) else 2.0 * normal_sf(abs(float(zz)))
                  for zz in pdf["z"]]
            pdf = pdf.copy()
            pdf["p_value"] = pd.array(pv, dtype="float64")
            yield pdf

    return report.mapInPandas(gen, schema)


def cusum_changepoint(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: Optional[Sequence[str]] = None,
    terms: int = 5,
) -> DataFrame:
    """Single mean-shift changepoint per group via the CUSUM statistic.

    One row per group: ``(group..., n, mean, std, cp_index, cp_time,
    cusum_abs, cusum_stat, p_value, mean_before, mean_after, shift)``.

    * ``cusum_abs`` — max_{t<n} |S_t| where S_t = Σ_{i≤t}(v_i − v̄)
      over the time-ordered collapsed series (the MLE location of a
      single mean shift; Page 1954 / Pettitt-style scan).
    * ``cusum_stat`` — cusum_abs / (σ·√n), the Brownian-bridge-scaled
      statistic (σ = population std); null for constant series.
    * ``p_value`` — asymptotic sup-bridge tail
      2·Σ_{j≥1} (−1)^{j+1} exp(−2 j² λ²) truncated at ``terms``
      (the Kolmogorov series), clamped to [0, 1].
    * ``cp_index`` / ``cp_time`` — 1-based prefix length / last time
      bucket BEFORE the shift (earliest argmax on ties);
      ``mean_before`` / ``mean_after`` the two segment means and
      ``shift`` their difference.
    * A group whose collapsed series has a single point still emits
      its row (one row per group, always): ``n``/``mean``/``std``
      populated, every changepoint-derived field null — a length-1
      series has no interior split to test.

    Same collapse discipline as :func:`mann_kendall`: one row per
    (group, time) — duplicate timestamps average — so the window walk
    runs over series LENGTH (rollup grain), not raw row count, and
    each group's series is one window partition; groups parallelize.
    The per-group totals frame (bounded by group cardinality) joins
    back broadcast.  No reference analogue (whylogs ships static
    drift scores); complements :func:`mann_kendall` (monotone trend)
    with abrupt-shift detection.
    """
    from pyspark.sql import Window

    from whylogs_spark.ops.features import _epoch_seconds

    groups: List[str] = list(group_cols or [])
    t = _epoch_seconds(df, time_col)
    v = F.col(value_col).cast("double")
    base = df.filter(
        t.isNotNull() & v.isNotNull() & ~F.isnan(v)
    ).select(*groups, t.alias("__t"), v.alias("__v"))
    g = base.groupBy(*groups, "__t").agg(F.avg("__v").alias("__v"))

    tot = g.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__v").alias("mean"),
        # population std: the Brownian-bridge scaling's conventional
        # normalizer (and the simpler exact-oracle expression)
        F.coalesce(F.stddev_pop("__v"), F.lit(0.0)).alias("std"))

    w = Window.partitionBy(*groups).orderBy("__t")
    walk = g.select(
        *groups, "__t", "__v",
        F.row_number().over(w).alias("__k"),
        F.sum("__v").over(w).alias("__cum"))
    if groups:
        walk = walk.join(F.broadcast(tot), groups)
    else:
        walk = walk.crossJoin(F.broadcast(tot))
    s_t = F.col("__cum") - F.col("__k") * F.col("mean")
    cand = (walk
            .withColumn("__abs_s", F.abs(s_t))
            .filter(F.col("__k") < F.col("n")))

    mx = cand.groupBy(*groups).agg(F.max("__abs_s").alias("__mx"))
    if groups:
        hit = cand.join(F.broadcast(mx), groups)
    else:
        hit = cand.crossJoin(F.broadcast(mx))
    # exact-double equality is safe: __mx is the max OF these values
    best = (hit.filter(F.col("__abs_s") == F.col("__mx"))
            .groupBy(*groups)
            .agg(F.min_by(
                F.struct("__t", "__k", "__cum", "__abs_s"),
                F.col("__k")).alias("b"))
            .select(*groups,
                    F.col("b.__t").alias("__cp_t"),
                    F.col("b.__k").alias("__cp_k"),
                    F.col("b.__cum").alias("__cp_cum"),
                    F.col("b.__abs_s").alias("__cp_abs")))
    # left-join onto the totals frame so a single-point group (no
    # k < n candidate row) still emits its row — with null
    # changepoint fields — honoring the one-row-per-group contract
    if groups:
        rep = tot.join(F.broadcast(best), groups, "left")
    else:
        rep = tot.join(F.broadcast(best), F.lit(True), "left")

    nd = F.col("n").cast("double")
    kd = F.col("__cp_k").cast("double")
    sig = F.col("std")
    lam = F.when((sig > 0) & (nd > 1),
                 F.col("__cp_abs") / (sig * F.sqrt(nd)))
    series = None
    for j in range(1, terms + 1):
        term = F.lit(float((-1) ** (j + 1))) * \
            F.exp(F.lit(-2.0 * j * j) * lam * lam)
        series = term if series is None else series + term
    p = F.when(lam.isNotNull(),
               F.greatest(F.lit(0.0),
                          F.least(F.lit(1.0), 2.0 * series)))
    mean_before = F.col("__cp_cum") / kd
    mean_after = (nd * F.col("mean") - F.col("__cp_cum")) / (nd - kd)
    return rep.select(
        *groups,
        "n", "mean",
        sig.alias("std"),
        F.col("__cp_k").alias("cp_index"),
        F.col("__cp_t").alias("cp_time"),
        F.col("__cp_abs").alias("cusum_abs"),
        lam.alias("cusum_stat"),
        p.alias("p_value"),
        mean_before.alias("mean_before"),
        mean_after.alias("mean_after"),
        (mean_after - mean_before).alias("shift"))


def binary_segmentation(
    df: DataFrame,
    time_col: str,
    value_col: str,
    max_changepoints: int = 3,
    alpha: float = 0.05,
    min_segment: int = 5,
) -> DataFrame:
    """MULTIPLE mean-shift changepoints by binary segmentation
    (Scott & Knott 1974 recursion over the CUSUM test): repeatedly
    split the segment whose best internal changepoint is most
    significant, until ``max_changepoints`` are found or no split
    reaches ``alpha``.  Returns the found changepoints as a bounded
    frame: ``(order_found, cp_time, p_value, cusum_stat,
    mean_before, mean_after, shift, segment_n)``.

    Scale shape: each recursion LEVEL is ONE grouped
    :func:`cusum_changepoint` pass — all current segments are scanned
    together (the segment id is a literal CASE over the boundary
    times, pure map-side), so the driver loop runs at most
    ``max_changepoints`` Spark passes regardless of how many
    segments exist.  The per-level report is one row per segment
    (bounded), collected to pick the winner.  ``min_segment``
    suppresses splits that would leave a side shorter than it.
    """
    if max_changepoints < 1:
        raise ValueError(
            f"max_changepoints must be >= 1: {max_changepoints}")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1]: {alpha}")
    from whylogs_spark.ops.features import _epoch_seconds

    t = _epoch_seconds(df, time_col)
    v = F.col(value_col).cast("double")
    base = df.filter(
        t.isNotNull() & v.isNotNull() & ~F.isnan(v)
    ).select(t.alias("__t"), v.alias("__v"))

    boundaries = []          # epoch-seconds cp times, sorted
    found = []
    for step in range(1, int(max_changepoints) + 1):
        seg = F.lit(0)
        for b in sorted(boundaries):
            seg = seg + (F.col("__t") > F.lit(float(b))).cast("int")
        level = base.withColumn("__seg", seg)
        rep = cusum_changepoint(level, "__t", "__v", ["__seg"])             .collect()
        best = None
        for r in rep:
            if r["p_value"] is None or r["cp_index"] is None:
                continue
            if r["p_value"] > alpha:
                continue
            if (r["cp_index"] < min_segment
                    or r["n"] - r["cp_index"] < min_segment):
                continue
            key = (r["p_value"], -r["cusum_stat"], r["cp_time"])
            if best is None or key < best[0]:
                best = (key, r)
        if best is None:
            break
        r = best[1]
        boundaries.append(float(r["cp_time"]))
        found.append((step, float(r["cp_time"]),
                      float(r["p_value"]), float(r["cusum_stat"]),
                      float(r["mean_before"]), float(r["mean_after"]),
                      float(r["shift"]), int(r["n"])))
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("order_found", T.IntegerType()),
        T.StructField("cp_time", T.DoubleType()),
        T.StructField("p_value", T.DoubleType()),
        T.StructField("cusum_stat", T.DoubleType()),
        T.StructField("mean_before", T.DoubleType()),
        T.StructField("mean_after", T.DoubleType()),
        T.StructField("shift", T.DoubleType()),
        T.StructField("segment_n", T.IntegerType()),
    ])
    return df.sparkSession.createDataFrame(found, schema)
