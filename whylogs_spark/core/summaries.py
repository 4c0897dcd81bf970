"""Oracle-checkable summary tables derived from profiling.

These produce EXACT-valued summaries (the parts of a profile that have an
ANSI-SQL equivalent) so they can be verified against an external engine.
Sketch-backed estimates (HLL / KLL / FI) are bound-checked in the test
suite instead — an estimate can't hash-match an exact oracle.

Each helper is a single aggregation pass (wide agg -> explode to long),
the same execution shape as the profiler.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .datatypes import ValueType, value_type_of
from .util import ensure_parallelism


def counts_table(df: DataFrame, columns: Optional[List[str]] = None) -> DataFrame:
    """(col_name, n, n_null, n_distinct) per column — all exact."""
    cols = columns or df.columns
    # exact multi-column countDistinct plans an 11x Expand of the input;
    # make sure that widened stream isn't pinned to one scan partition
    df = ensure_parallelism(df)
    aggs = []
    for i, c in enumerate(cols):
        aggs += [
            F.count(F.lit(1)).alias(f"n_{i}"),
            (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"nn_{i}"),
            F.countDistinct(F.col(c)).alias(f"nd_{i}"),
        ]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"n_{i}").alias("n"),
            F.col(f"nn_{i}").alias("n_null"),
            F.col(f"nd_{i}").alias("n_distinct"),
        )
        for i, c in enumerate(cols)
    ]
    return wide.select(F.explode(F.array(*structs)).alias("r")).select("r.*")


def string_table(
    df: DataFrame, columns: Optional[List[str]] = None, ndigits: int = 4
) -> DataFrame:
    """(col_name, n, n_distinct, min_len, max_len, avg_len) per string col."""
    df = ensure_parallelism(df)
    cols = columns or [
        f.name
        for f in df.schema.fields
        if value_type_of(f.dataType) == ValueType.STRING
    ]
    aggs = []
    for i, c in enumerate(cols):
        ln = F.length(F.col(c))
        aggs += [
            F.count(F.col(c)).alias(f"n_{i}"),
            F.countDistinct(F.col(c)).alias(f"nd_{i}"),
            F.min(ln).cast(T.LongType()).alias(f"mn_{i}"),
            F.max(ln).cast(T.LongType()).alias(f"mx_{i}"),
            F.round(F.avg(ln), ndigits).alias(f"av_{i}"),
        ]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"n_{i}").alias("n"),
            F.col(f"nd_{i}").alias("n_distinct"),
            F.col(f"mn_{i}").alias("min_len"),
            F.col(f"mx_{i}").alias("max_len"),
            F.col(f"av_{i}").alias("avg_len"),
        )
        for i, c in enumerate(cols)
    ]
    return wide.select(F.explode(F.array(*structs)).alias("r")).select("r.*")


def top_k_items(
    df: DataFrame, column: str, k: int = 5
) -> DataFrame:
    """Exact frequent-items top-k: (value, cnt), count desc then value asc.

    The profile's FI sketch gives the same answer within error bounds; this
    exact variant exists for oracle checks and small-cardinality columns.
    """
    return (
        df.groupBy(F.col(column).cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("value").asc())
        .limit(k)
    )


def weighted_quantiles(
    df: DataFrame, col: str, weight_col: str, qs: List[float],
    group_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Exact WEIGHTED quantiles: for each q, the smallest value whose
    cumulative weight reaches ``q * W`` (weighted inverse CDF, lower
    interpolation) — e.g. the token-weighted median document quality,
    where a 100k-token document should pull the quantile 100k times
    harder than a tweet. ``total_weight`` is returned alongside the
    ``q_<percent>`` columns. With ``group_cols``, one row per group.

    Rows with null/NaN value, null/NaN weight, or weight <= 0 are
    excluded (a negative weight has no CDF meaning — fail-soft by
    exclusion, matching the null policy of :func:`exact_quantiles`).

    Distributed shape: identical to :func:`exact_quantiles` — value
    collapse partial-aggs map-side (summing weights instead of
    counting), then the shared two-phase range-partitioned prefix sum
    (``core.prefix.grouped_running_sums``) walks cumulative weight.
    No single-partition window at any scale.
    """
    from .planner import qcol
    from .prefix import grouped_running_sums

    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile out of [0,1]: {q}")
    v = qcol(col).cast("double")
    w = F.col(weight_col).cast("double")
    groups = list(group_cols or [])
    g = (
        df.select(*groups, v.alias("v"), w.alias("w"))
        .filter(F.col("v").isNotNull() & ~F.isnan("v")
                & F.col("w").isNotNull() & ~F.isnan("w")
                & (F.col("w") > 0))
        .groupBy(*groups, "v").agg(F.sum("w").alias("ct"))
    )
    j = grouped_running_sums(g, groups, ["v"], ["ct"])
    aggs = []
    for q in qs:
        # float-robust threshold guard: q*W can overshoot its
        # mathematical value by ~1 ulp (2^-52 relative), so back off
        # a few ulps — NOT the 1e-12 exact_quantiles uses inside its
        # ceil() (there the ceil absorbs it; here the raw comparison
        # would select the PREVIOUS value once cumulative weights
        # exceed ~1e12 and a genuine sub-target cum falls inside the
        # slack)
        qw = F.lit(float(q)) * F.col("__g_ct")
        target = qw - qw * F.lit(4e-16) - F.lit(1e-9)
        name = f"q_{str(q).replace('.', '_')}"
        aggs.append(
            F.min(F.when(F.col("__cum_ct") >= target, F.col("v")))
            .alias(name))
    aggs.append(F.first("__g_ct").alias("total_weight"))
    if groups:
        return j.groupBy(*groups).agg(*aggs)
    return j.agg(*aggs)


def exact_quantiles(
    df: DataFrame, col: str, qs: List[float],
    group_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Exact empirical quantiles (``q_<percent>`` columns): for each
    q, the smallest value whose cumulative count reaches ``ceil(q *
    n)`` (inverse empirical CDF, lower interpolation) — the
    deterministic ground truth for the profiler's KLL quantile
    estimates at any scale. With ``group_cols``, one row PER GROUP
    (the verifier for segmented profiles).

    Distributed shape: groupBy(value) collapses duplicates map-side,
    the rank walk is the two-phase range-partitioned prefix sum — the
    global form via ``core.prefix.running_sums``, the grouped form
    with the same structure keyed by (group, slice) so every window
    carries a partition key and the rollup frame stays bounded at
    groups x slices rows. Every requested quantile reads off the same
    walked table in one final aggregation. NaN/null excluded, like
    the sketch path.
    """
    from .planner import qcol
    from .prefix import require_exchange_reuse, running_sums

    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile out of [0,1]: {q}")

    def rank_aggs():
        aggs = []
        for q in qs:
            # float-robust ceil: q*n can overshoot its mathematical
            # value by one ulp (0.07 * 100 = 7.000000000000001 ->
            # ceil 8, the wrong order statistic); subtract a
            # relative+absolute guard far above double rounding error
            # but far below 1 rank
            qn = F.lit(float(q)) * F.col("__n")
            target = F.greatest(
                F.ceil(qn - qn * F.lit(1e-12) - F.lit(1e-9)), F.lit(1))
            name = f"q_{str(q).replace('.', '_')}"
            aggs.append(
                F.min(F.when(F.col("__cum_ct") >= target, F.col("v")))
                .alias(name))
        aggs.append(F.first("__n").cast("long").alias("n"))
        return aggs

    v = qcol(col).cast("double")
    groups = list(group_cols or [])
    g = (
        df.select(*groups, v.alias("v"))
        .filter(F.col("v").isNotNull() & ~F.isnan("v"))
        .groupBy(*groups, "v").agg(F.count(F.lit(1)).alias("ct"))
    )
    if not groups:
        j = running_sums(g, ["v"], ["ct"]) \
            .withColumnRenamed("__g_ct", "__n")
        return j.agg(*rank_aggs())

    # grouped walk: same two-phase shape keyed by (group, slice),
    # cross-slice metadata via the shared bounded rollup
    from functools import reduce as _reduce
    from operator import and_ as _and
    from pyspark.sql import Window

    from .prefix import slice_rollup

    require_exchange_reuse(g)
    part = [F.col(c) for c in groups]
    rp = g.repartitionByRange(*part, F.col("v")) \
        .withColumn("__slice", F.spark_partition_id())
    wcum = Window.partitionBy(*part, F.col("__slice")) \
        .orderBy("v") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = rp.withColumn("__l_ct", F.sum("ct").over(wcum))
    totals = rp.groupBy(*groups, "__slice").agg(
        F.sum("ct").alias("ct"))
    meta = slice_rollup(totals, ["ct"], partition_cols=groups)
    # NULL segment keys are legal (the profiler's "None" sentinel
    # class) — the join must be null-safe on the group columns or
    # null-keyed groups silently vanish
    cond = _reduce(_and, [local[c].eqNullSafe(meta[c])
                          for c in groups]
                   + [local["__slice"] == meta["__slice"]])
    j = local.join(meta, cond) \
        .drop(meta["__slice"], *[meta[c] for c in groups]) \
        .withColumn("__cum_ct", F.col("__l_ct") + F.col("__o_ct")) \
        .withColumnRenamed("__g_ct", "__n")
    return j.groupBy(*groups).agg(*rank_aggs())


# ------------------------------------------------- exact histogram

def histogram_exact(
    df: DataFrame,
    column: str,
    n_bins: int = 20,
    lo: Optional[float] = None,
    hi: Optional[float] = None,
) -> DataFrame:
    """Exact equi-width histogram of a numeric column — the
    ground-truth companion to the KLL-derived
    ``ProfileView.histogram`` (same contract as the exact/sketch
    split in drift: KLL for monitoring, this for verification and
    small-cardinality columns).

    Returns ALL ``n_bins`` rows (empty bins included, count 0):
    (bin, bin_start, bin_end, n). The last bin is closed on the
    right (max lands in bin n_bins-1); a constant column collapses
    into bin 0. Nulls (and NaN) are excluded.

    Bounds default to the column min/max computed in-plan (1-row
    aggregate, broadcast via cross join — no driver action); pass
    ``lo``/``hi`` to pin them (e.g. shared axes across snapshots).

    Scale shape: one pruned scan -> partial-agg groupBy(bin) (at most
    n_bins groups) -> broadcast join onto a literal bin spine. No
    sort, no window, nothing corpus-sized past the scan.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    c = F.col(column).cast("double")
    vals = df.select(c.alias("__v")).filter(
        F.col("__v").isNotNull() & ~F.isnan("__v"))
    if lo is None or hi is None:
        bounds = vals.agg(F.min("__v").alias("__lo"),
                          F.max("__v").alias("__hi"))
    else:
        bounds = None
    spark = df.sparkSession
    spine = spark.range(n_bins).select(F.col("id").cast("int")
                                       .alias("bin"))
    if bounds is not None:
        v = vals.crossJoin(F.broadcast(bounds))
        lo_c, hi_c = F.col("__lo"), F.col("__hi")
    else:
        v = vals.withColumn("__lo", F.lit(float(lo))).withColumn(
            "__hi", F.lit(float(hi)))
        lo_c, hi_c = F.col("__lo"), F.col("__hi")
    width = (hi_c - lo_c) / F.lit(float(n_bins))
    bin_expr = F.when(hi_c <= lo_c, F.lit(0)).otherwise(
        F.least(F.floor((F.col("__v") - lo_c) / width),
                F.lit(n_bins - 1)).cast("int"))
    counts = (
        v.filter((F.col("__v") >= lo_c) & (F.col("__v") <= hi_c))
        .select(bin_expr.alias("bin"), "__lo", "__hi")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"),
             F.first("__lo").alias("__lo"), F.first("__hi").alias("__hi"))
    )
    # the spine needs the bounds too (for empty-bin edges): reuse the
    # same 1-row aggregate — Catalyst/AQE dedups it via exchange reuse
    spine_b = (spine.crossJoin(F.broadcast(bounds)) if bounds is not None
               else spine.withColumn("__lo", F.lit(float(lo)))
               .withColumn("__hi", F.lit(float(hi))))
    w2 = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    return (
        spine_b.join(F.broadcast(counts.select("bin", "n")), "bin",
                     "left")
        .select(
            "bin",
            F.round(F.col("__lo") + F.col("bin") * w2, 6)
            .alias("bin_start"),
            F.round(F.col("__lo") + (F.col("bin") + 1) * w2, 6)
            .alias("bin_end"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
        .orderBy("bin")
    )


# ------------------------------------- quantile bins & robust outliers

def with_quantile_bins(
    df: DataFrame,
    column: str,
    n_bins: int = 10,
    bin_col: Optional[str] = None,
) -> DataFrame:
    """Equal-frequency discretization: add ``bin_col`` (default
    ``<column>_qbin``) in ``0 .. n_bins-1`` — the bucket between
    consecutive exact quantile boundaries. The curation/stratification
    primitive (difficulty tiers, score deciles for mixture weighting,
    calibration buckets) in one declarative plan.

    Boundaries are ``exact_quantiles`` order statistics (lower
    interpolation — integer ranks, no FP interpolation), so the same
    bucketing reproduces exactly in any engine. Bucket rule: ``bin =
    #{boundaries <= x}``; heavy ties can leave earlier buckets empty
    (duplicate boundaries collapse), which is the honest answer for
    low-cardinality data. Null/NaN rows get a null bin.

    Plan shape: the boundary row is a broadcast 1-row branch
    (two-phase distributed quantile walk, see ``exact_quantiles``);
    assignment is a shuffle-free codegen'd fold per row. The input is
    scanned twice (boundaries, then assignment) — cache upstream if it
    is an expensive derived frame.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    qs = [i / n_bins for i in range(1, n_bins)]
    names = [f"q_{str(q).replace('.', '_')}" for q in qs]
    qrow = exact_quantiles(df, column, qs).select(
        F.array(*[F.col(nm) for nm in names]).alias("__thr"))
    x = F.col(column).cast("double")
    ok = F.col(column).isNotNull() & ~F.isnan(x)
    bin_ = F.size(F.filter(F.col("__thr"),
                           lambda t: t.isNotNull() & (x >= t)))
    return (df.crossJoin(F.broadcast(qrow))
            .withColumn(bin_col or f"{column}_qbin",
                        F.when(ok, bin_).cast("int"))
            .drop("__thr"))


_MODIFIED_Z = 0.6745  # Iglewicz-Hoaglin modified z-score constant


def with_robust_z(
    df: DataFrame,
    column: str,
    group_cols: Optional[List[str]] = None,
    threshold: float = 3.5,
) -> DataFrame:
    """Row-level robust outlier flags: ``robust_z`` = the modified
    z-score ``0.6745 * (x - median) / MAD`` (Iglewicz & Hoaglin 1993)
    and ``is_outlier`` = ``|robust_z| > threshold``, optionally per
    ``group_cols`` segment. Median and MAD are ``exact_quantiles``
    order statistics (lower interpolation), so both the scores and the
    flags reproduce bit-for-bit in the DuckDB oracle — and the
    quantile walks are the repo's two-phase distributed prefix sum,
    never a single-task sort.

    Degenerate segments (MAD = 0, i.e. >= half the rows share the
    lower-interpolation median) yield null ``robust_z``;
    ``is_outlier`` is then simply ``x != median`` — a constant column
    still flags its exceptions instead of hiding them behind a 0/0.
    Note the lower-median convention makes MAD = 0 more common on
    TINY segments (a 2-row group always degenerates and flags its
    second value) — treat flags from segments with n below ~10 as
    screening noise. Null/NaN x: null z, null flag.
    """
    groups = list(group_cols or [])
    med_frame = exact_quantiles(df, column, [0.5], groups) \
        .select(*groups, F.col("q_0_5").alias("__med"))
    if groups:
        j1 = df.join(med_frame, groups, "left")
    else:
        j1 = df.crossJoin(F.broadcast(med_frame))
    x = F.col(column).cast("double")
    j1 = j1.withColumn("__ad", F.abs(x - F.col("__med")))
    mad_frame = exact_quantiles(j1, "__ad", [0.5], groups) \
        .select(*groups, F.col("q_0_5").alias("__mad"))
    if groups:
        j2 = j1.join(mad_frame, groups, "left")
    else:
        j2 = j1.crossJoin(F.broadcast(mad_frame))
    ok = F.col(column).isNotNull() & ~F.isnan(x)
    z = F.when(ok & (F.col("__mad") > 0),
               F.round(F.lit(_MODIFIED_Z) * (x - F.col("__med"))
                       / F.col("__mad"), 6))
    flag = (F.when(~ok, F.lit(None).cast("boolean"))
            .when(F.col("__mad") > 0,
                  F.abs(z) > F.lit(float(threshold)))
            .otherwise(x != F.col("__med")))
    return (j2.withColumn("robust_z", z)
            .withColumn("is_outlier", flag)
            .drop("__med", "__ad", "__mad"))


def robust_outlier_summary(
    df: DataFrame,
    column: str,
    group_cols: Optional[List[str]] = None,
    threshold: float = 3.5,
) -> DataFrame:
    """Per-segment rollup of :func:`with_robust_z`: ``n, n_outliers,
    outlier_rate, max_abs_z`` — the screening table a data-quality
    report leads with."""
    groups = list(group_cols or [])
    scored = with_robust_z(df, column, groups, threshold)
    out = (scored.groupBy(*groups).agg(
        F.count(F.col(column)).alias("n"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
        .cast("long").alias("n_outliers"),
        F.round(F.max(F.abs(F.col("robust_z"))), 6)
        .alias("max_abs_z")))
    rate = F.when(F.col("n") > 0,
                  F.round(F.col("n_outliers") / F.col("n"), 6))
    out = out.select(*groups, "n", "n_outliers",
                     rate.alias("outlier_rate"), "max_abs_z")
    return out.orderBy(*groups) if groups else out


def winsorize(
    df: DataFrame,
    column: str,
    lower: float = 0.01,
    upper: float = 0.99,
    clip_col: Optional[str] = None,
) -> DataFrame:
    """Winsorization: clip ``column`` to its exact [lower, upper]
    quantiles — the standard heavy-tail taming step before scaling /
    model features (cap the 1-cent and the million-dollar rows instead
    of dropping them).

    Adds ``clip_col`` (default ``<column>_winsorized``). The
    boundaries are ``exact_quantiles`` order statistics (lower
    interpolation — actual data values, engine-reproducible), and the
    clip itself is pure comparison (``least(greatest(x, lo), hi)``) —
    no arithmetic, so clipped values are bit-identical to existing
    data values in any engine. Null/NaN rows pass through null.

    Plan shape: the boundary row is the two-phase distributed quantile
    walk (no single-task sort) broadcast via cross join; assignment is
    a shuffle-free codegen'd projection. Two scans of the input
    (boundaries, then clip) — cache upstream if derived.
    """
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError(
            f"need 0 <= lower < upper <= 1: ({lower}, {upper})")
    qs = [lower, upper]
    names = [f"q_{str(q).replace('.', '_')}" for q in qs]
    qrow = exact_quantiles(df, column, qs).select(
        F.col(names[0]).alias("__w_lo"),
        F.col(names[1]).alias("__w_hi"))
    x = F.col(column).cast("double")
    ok = F.col(column).isNotNull() & ~F.isnan(x)
    clipped = F.least(F.greatest(x, F.col("__w_lo")), F.col("__w_hi"))
    return (df.crossJoin(F.broadcast(qrow))
            .withColumn(clip_col or f"{column}_winsorized",
                        F.when(ok, clipped))
            .drop("__w_lo", "__w_hi"))


def histogram2d(
    df: DataFrame,
    col_x: str,
    col_y: str,
    n_bins_x: int = 20,
    n_bins_y: int = 20,
) -> DataFrame:
    """Exact equi-width 2-D histogram — the joint-distribution heatmap
    behind pair drift inspection and correlation triage (a correlation
    coefficient says HOW MUCH two columns move together; the 2-D
    histogram shows WHERE).

    Returns ALL ``n_bins_x * n_bins_y`` cells (empty cells count 0):
    ``(bin_x, bin_y, x_start, x_end, y_start, y_end, n)``. Bounds are
    the in-plan min/max of each column over rows where BOTH are
    present (pairwise-complete, matching ``correlation_matrix``); the
    last bin on each axis is closed on the right; constant axes
    collapse to bin 0. Null/NaN rows are excluded.

    Scale shape: one pruned scan -> 1-row bounds aggregate broadcast
    back -> partial-agg groupBy(bin_x, bin_y) (at most
    n_bins_x*n_bins_y groups) -> broadcast join onto a literal cell
    spine. No sort, no window, nothing corpus-sized past the scan.
    """
    if n_bins_x < 1 or n_bins_y < 1:
        raise ValueError("n_bins must be >= 1")
    x = F.col(col_x).cast("double")
    y = F.col(col_y).cast("double")
    vals = df.select(x.alias("__x"), y.alias("__y")).filter(
        F.col("__x").isNotNull() & ~F.isnan("__x")
        & F.col("__y").isNotNull() & ~F.isnan("__y"))
    bounds = vals.agg(
        F.min("__x").alias("__xlo"), F.max("__x").alias("__xhi"),
        F.min("__y").alias("__ylo"), F.max("__y").alias("__yhi"))
    v = vals.crossJoin(F.broadcast(bounds))

    def bin_of(c, lo, hi, nb):
        width = (F.col(hi) - F.col(lo)) / F.lit(float(nb))
        return F.when(F.col(hi) <= F.col(lo), F.lit(0)).otherwise(
            F.least(F.floor((F.col(c) - F.col(lo)) / width),
                    F.lit(nb - 1)).cast("int"))

    counts = (
        v.select(bin_of("__x", "__xlo", "__xhi", n_bins_x).alias("bin_x"),
                 bin_of("__y", "__ylo", "__yhi", n_bins_y).alias("bin_y"))
        .groupBy("bin_x", "bin_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    spine = (
        spark.range(n_bins_x)
        .select(F.col("id").cast("int").alias("bin_x"))
        .crossJoin(spark.range(n_bins_y)
                   .select(F.col("id").cast("int").alias("bin_y")))
        .crossJoin(F.broadcast(bounds))
    )
    wx = (F.col("__xhi") - F.col("__xlo")) / F.lit(float(n_bins_x))
    wy = (F.col("__yhi") - F.col("__ylo")) / F.lit(float(n_bins_y))
    return (
        spine.join(F.broadcast(counts), ["bin_x", "bin_y"], "left")
        .select(
            "bin_x", "bin_y",
            F.round(F.col("__xlo") + F.col("bin_x") * wx, 6)
            .alias("x_start"),
            F.round(F.col("__xlo") + (F.col("bin_x") + 1) * wx, 6)
            .alias("x_end"),
            F.round(F.col("__ylo") + F.col("bin_y") * wy, 6)
            .alias("y_start"),
            F.round(F.col("__ylo") + (F.col("bin_y") + 1) * wy, 6)
            .alias("y_end"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
        .orderBy("bin_x", "bin_y")
    )


def standardize(
    df: DataFrame,
    columns: List[str],
    method: str = "zscore",
    suffix: str = "_scaled",
) -> DataFrame:
    """Feature scaling: add ``<col><suffix>`` per column.

    Methods: ``zscore`` ((x - mean) / stddev_samp; null when the
    column is constant), ``minmax`` ((x - min) / (max - min); null
    when constant), ``robust`` ((x - median) / IQR with IQR =
    q75 - q25 as exact order statistics; null when IQR is 0).
    Null/NaN inputs scale to null; statistics ignore NaN like NULL.

    Plan shape: ONE aggregation computes every column's statistics
    (partial-agged map-side, one combined row per task — robust uses
    the two-phase exact-quantile walk per column instead); the 1-row
    stats frame broadcasts back and scaling is a shuffle-free codegen
    projection. Two passes over the input total, independent of the
    column count.
    """
    columns = list(columns)
    if not columns:
        raise ValueError("columns must be non-empty")
    if len(set(columns)) != len(columns):
        raise ValueError("duplicate columns")
    if method not in ("zscore", "minmax", "robust"):
        raise ValueError(
            f"method must be zscore|minmax|robust: {method}")

    def clean(c):
        x = F.col(c).cast("double")
        return F.when(~F.isnan(x), x)

    if method == "robust":
        # ONE grouped quantile walk for ALL columns: melt to
        # (column, value) long form, then the group-keyed form of
        # exact_quantiles — one scan + one range exchange total,
        # instead of one full walk per column
        melted = df.select(F.explode(F.array(*[
            F.struct(F.lit(c).alias("__col"),
                     clean(c).alias("__val")) for c in columns
        ])).alias("m")).select("m.__col", "m.__val")
        grouped = exact_quantiles(melted, "__val",
                                  [0.25, 0.5, 0.75],
                                  group_cols=["__col"])
        stats = grouped.agg(*[
            agg for c in columns for agg in (
                F.max(F.when(F.col("__col") == c, F.col("q_0_25")))
                .alias(f"__lo_{c}"),
                F.max(F.when(F.col("__col") == c, F.col("q_0_5")))
                .alias(f"__mid_{c}"),
                F.max(F.when(F.col("__col") == c, F.col("q_0_75")))
                .alias(f"__hi_{c}"),
            )])
    else:
        aggs = []
        for c in columns:
            x = clean(c)
            if method == "zscore":
                aggs += [F.avg(x).alias(f"__mid_{c}"),
                         F.stddev_samp(x).alias(f"__sc_{c}")]
            else:
                aggs += [F.min(x).alias(f"__mid_{c}"),
                         F.max(x).alias(f"__hi_{c}")]
        stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in columns:
        x = clean(c)
        if method == "zscore":
            scale = F.col(f"__sc_{c}")
        elif method == "minmax":
            scale = F.col(f"__hi_{c}") - F.col(f"__mid_{c}")
        else:
            scale = F.col(f"__hi_{c}") - F.col(f"__lo_{c}")
        scaled = F.when(scale > 0,
                        (x - F.col(f"__mid_{c}")) / scale)
        out = out.withColumn(f"{c}{suffix}", scaled)
    # drop ONLY this function's temp stats columns — a blanket
    # '__'-prefix sweep would delete caller columns that happen to
    # share the prefix (e.g. running_sums' __cum_* outputs)
    drop = [n for c in columns
            for n in (f"__mid_{c}", f"__sc_{c}", f"__hi_{c}",
                      f"__lo_{c}")]
    return out.drop(*drop)


def gini_coefficient(df: DataFrame, column: str) -> DataFrame:
    """Exact Gini concentration coefficient of a non-negative column —
    the one-number answer to "how concentrated is the token mass /
    spend / traffic" (0 = perfectly even, ->1 = one row holds all of
    it). Corpus audits use it to catch a dataset where 1% of documents
    carry half the tokens.

    Returns ONE row: ``(n, total, mean, gini)``. Uses the rank
    identity G = 2*sum(i*x_(i)) / (n*sum(x)) - (n+1)/n over ascending
    order statistics, with ties folded in closed form per DISTINCT
    value: a value v with count c entering at cumulative position K
    contributes v*(c*K + c*(c+1)/2). Null/NaN are excluded; if any
    value is negative (Gini is undefined for mixed-sign data) or the
    total is 0, ``gini`` is null rather than a misleading number.

    Scale shape: groupBy(value) collapses ties map-side; the ordered
    walk is the two-phase range-partitioned prefix sum
    (``core.prefix.running_sums`` — no single-partition window); the
    final reduction is a 1-row aggregate.
    """
    from whylogs_spark.core.prefix import running_sums

    x = F.col(column).cast("double")
    g = (df.filter(x.isNotNull() & ~F.isnan(x))
         .groupBy(x.alias("__v"))
         .agg(F.count(F.lit(1)).alias("__c")))
    c = running_sums(g, ["__v"], ["__c"])
    K = F.col("__cum___c") - F.col("__c")  # exclusive cumulative count
    cc = F.col("__c").cast("double")
    contrib = F.col("__v") * (cc * K.cast("double")
                              + cc * (cc + 1) / 2)
    agg = c.agg(
        F.max("__g___c").alias("n"),
        F.sum(F.col("__v") * cc).alias("total"),
        F.sum(contrib).alias("__t"),
        F.min("__v").alias("__min"),
    )
    nn = F.col("n").cast("double")
    gini = F.when(
        (F.col("n") > 0) & (F.col("total") > 0) & (F.col("__min") >= 0),
        2.0 * F.col("__t") / (nn * F.col("total"))
        - (nn + 1) / nn)
    return agg.select(
        "n", "total", (F.col("total") / nn).alias("mean"),
        gini.alias("gini"))


def lorenz_curve(
    df: DataFrame,
    column: str,
    n_points: int = 20,
) -> DataFrame:
    """Lorenz curve of a non-negative column on a fixed grid: one row
    per occupied grid bucket — ``(bucket, pop_share, value_share)``
    where ``pop_share`` is the cumulative fraction of rows (ascending
    by value) at the END of the bucket and ``value_share`` the
    cumulative fraction of the column total they hold. Read it as
    "the bottom 80% of documents hold value_share of the tokens".

    ``bucket = ceil(pop_share * n_points)`` and each bucket reports
    its LAST (largest-pop_share) point, so the curve is exact at the
    reported points — no interpolation. Same distributed prefix-sum
    plan as :func:`gini_coefficient`.
    """
    from whylogs_spark.core.prefix import running_sums

    if n_points < 1:
        raise ValueError(f"n_points must be >= 1: {n_points}")
    x = F.col(column).cast("double")
    g = (df.filter(x.isNotNull() & ~F.isnan(x))
         .groupBy(x.alias("__v"))
         .agg(F.count(F.lit(1)).alias("__c")))
    g = g.withColumn("__w", F.col("__v") * F.col("__c").cast("double"))
    c = running_sums(g, ["__v"], ["__c", "__w"])
    pop = F.col("__cum___c").cast("double") / F.col("__g___c")
    # an all-zero column has grand total 0: null the shares (matching
    # gini_coefficient's degenerate case) instead of emitting NaN
    val = F.when(F.col("__g___w") > 0,
                 F.col("__cum___w") / F.col("__g___w"))
    pts = c.select(
        F.ceil(pop * F.lit(n_points)).cast("int").alias("bucket"),
        pop.alias("pop_share"), val.alias("value_share"))
    return (pts.groupBy("bucket")
            .agg(F.max(F.struct("pop_share", "value_share"))
                 .alias("__p"))
            .select("bucket", F.col("__p.pop_share").alias("pop_share"),
                    F.col("__p.value_share").alias("value_share"))
            .orderBy("bucket"))
