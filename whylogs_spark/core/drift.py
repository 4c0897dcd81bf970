"""Drift detection between two profiles.

Reference algorithms (python/whylogs/viz/drift/column_drift_algorithms.py):
  * KS test      (:308-424) — D-stat via quantile walk over two KLL
                  sketches + kstwo p-value
  * Chi-square   (:205-305) — over frequent-items + cardinality
  * Hellinger    (:95-202)  — distance between PMFs from KLL

scipy isn't available here, so the p-value functions use the standard
published formulas directly:
  * KS p-value: Kolmogorov asymptotic survival function
    Q(x) = 2 * sum_{k>=1} (-1)^{k-1} exp(-2 k^2 x^2)   (Smirnov 1948)
  * chi2 survival: regularized upper incomplete gamma via series /
    continued fraction (Numerical Recipes §6.2 formulas — public math).

Thresholds / categories mirror the reference's defaults
(viz/drift/configs.py): KS p<0.05 => DRIFT, <0.15 => POSSIBLE_DRIFT.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass
from typing import Dict, Iterable, Iterator, List, Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .planner import qcol
from .profiler import ProfileView
from .sketches import FrequentStringsSketch, KllSketch


# ----------------------------------------------------------- special functions
def _kolmogorov_sf(x: float) -> float:
    if x <= 0:
        return 1.0
    s = 0.0
    for k in range(1, 101):
        term = 2.0 * ((-1) ** (k - 1)) * math.exp(-2.0 * k * k * x * x)
        s += term
        if abs(term) < 1e-12:
            break
    return min(max(s, 0.0), 1.0)


def _gammainc_upper_reg(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x)."""
    if x < 0 or a <= 0:
        return float("nan")
    if x == 0:
        return 1.0
    if x < a + 1.0:
        # series for P(a,x), Q = 1 - P
        ap = a
        s = 1.0 / a
        delta = s
        for _ in range(500):
            ap += 1.0
            delta *= x / ap
            s += delta
            if abs(delta) < abs(s) * 1e-14:
                break
        p = s * math.exp(-x + a * math.log(x) - math.lgamma(a))
        return max(0.0, 1.0 - p)
    # continued fraction for Q(a,x)
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-14:
            break
    return h * math.exp(-x + a * math.log(x) - math.lgamma(a))


def chi2_sf(stat: float, dof: int) -> float:
    if dof <= 0:
        return float("nan")
    return _gammainc_upper_reg(dof / 2.0, stat / 2.0)


def normal_sf(z: float) -> float:
    """Standard normal survival function P(Z > z) via erfc."""
    return 0.5 * math.erfc(z / math.sqrt(2.0))


def _betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) — Lentz continued
    fraction with the symmetry pivot at x = (a+1)/(a+b+2) (the
    standard numerically-stable evaluation)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                + a * math.log(x) + b * math.log1p(-x))
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betainc_reg(b, a, 1.0 - x)
    tiny = 1e-300
    c = 1.0
    d = 1.0 - (a + b) * x / (a + 1.0)
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, 300):
        num = m * (b - m) * x / ((a + 2.0 * m - 1.0) * (a + 2.0 * m))
        d = 1.0 + num * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + num / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        num = -(a + m) * (a + b + m) * x / (
            (a + 2.0 * m) * (a + 2.0 * m + 1.0))
        d = 1.0 + num * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + num / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-14:
            break
    return math.exp(ln_front) * h / a


def student_t_sf(t: float, dof: float) -> float:
    """Student-t survival function P(T > t) for real dof > 0."""
    if dof <= 0 or math.isnan(t) or math.isnan(dof):
        return float("nan")
    x = dof / (dof + t * t)
    p = 0.5 * _betainc_reg(dof / 2.0, 0.5, x)
    return p if t >= 0 else 1.0 - p


# ------------------------------------------------------------ sketch tables
# A sketch table holds one profile segment's drift inputs: serialized
# sketches by component and column, {"kll": {column: blob}, "mg": {...}}.
# Every sketch scorer reads two of them (target, reference), whether they
# come from two views or from one pass over a profile store.
SketchTable = Dict[str, Dict[str, bytes]]

SKETCH_COMPONENTS = {"kll": KllSketch, "mg": FrequentStringsSketch}


def sketch_tables(rows: Iterable) -> Dict[str, SketchTable]:
    """Rows carrying (segment, column, component, b) -> {segment: table};
    a later row for the same key replaces an earlier one."""
    out: Dict[str, SketchTable] = {}
    for r in rows:
        out.setdefault(r["segment"], {}).setdefault(
            r["component"], {})[r["column"]] = bytes(r["b"])
    return out


def _view_tables(view: ProfileView,
                 overall: bool = True) -> Dict[str, SketchTable]:
    """The view's sketch tables from ONE collect of its kll + mg rows
    (only the overall ``{}`` segment unless ``overall=False``)."""
    where = {"component": list(SKETCH_COMPONENTS)}
    if overall:
        where["segment"] = "{}"
    rows = view.table(**where).select(
        ["segment", "column", "component", "b"]).to_pylist()
    return sketch_tables(r for r in rows if r["b"] is not None)


def _overall_tables(target: ProfileView, reference: ProfileView
                    ) -> Tuple[SketchTable, SketchTable]:
    return (_view_tables(target).get("{}", {}),
            _view_tables(reference).get("{}", {}))


def _aligned(t: SketchTable, r: SketchTable, component: str,
             skip: Iterable[str] = ()) -> Iterator[tuple]:
    """(column, target sketch, reference sketch) for every column both
    tables carry a ``component`` sketch for, in column order — the
    reference's column alignment (column_drift_algorithms.py:500-515)."""
    cls = SKETCH_COMPONENTS[component]
    tc, rc = t.get(component, {}), r.get(component, {})
    for col in sorted((tc.keys() & rc.keys()) - set(skip)):
        yield col, cls.deserialize(tc[col]), cls.deserialize(rc[col])


# ------------------------------------------------------------------ KS test
def ks_test_from_sketches(
    a: KllSketch, b: KllSketch, quantiles: Optional[List[float]] = None
) -> Tuple[float, float]:
    """(D statistic, p-value) via quantile walk, like the reference's
    compute_ks_test_p_value (column_drift_algorithms.py:320-361)."""
    if a.n == 0 or b.n == 0:
        return float("nan"), float("nan")
    qs = quantiles or [i / 100.0 for i in range(1, 100)]
    # probe every quantile of both sides; one sort per sketch serves
    # all the rank lookups
    probes = np.column_stack((a.quantiles(qs), b.quantiles(qs))).ravel()
    d_max = max(float(np.abs(a.ranks(probes) - b.ranks(probes)).max()),
                0.0)
    # Cap each side's effective sample size at the sketch's resolution:
    # a k-sized KLL carries ~1/k normalized rank-error std, the same D
    # fluctuation as a true sample of ~k^2/5 points. Claiming the raw n
    # would declare "drift" on identical distributions purely from sketch
    # noise once n >> k^2.
    res = a.k * a.k // 5
    n, m = min(a.n, res), min(b.n, res)
    en = math.sqrt(n * m / (n + m))
    p = _kolmogorov_sf((en + 0.12 + 0.11 / en) * d_max)
    return d_max, p


# ------------------------------------------------------------------ Hellinger
def hellinger_from_sketches(
    a: KllSketch, b: KllSketch, n_bins: int = 30
) -> float:
    if a.n == 0 or b.n == 0:
        return float("nan")
    lo = min(a.min_value, b.min_value)
    hi = max(a.max_value, b.max_value)
    if not (hi > lo):
        return 0.0
    splits = [lo + (hi - lo) * i / n_bins for i in range(1, n_bins)]
    pa = a.pmf(splits)
    pb = b.pmf(splits)
    return math.sqrt(
        0.5 * sum((math.sqrt(x) - math.sqrt(y)) ** 2
                  for x, y in zip(pa, pb)))


# ------------------------------------------------------------------ PSI
def psi_from_sketches(
    target: KllSketch, reference: KllSketch,
    n_bins: int = 10, epsilon: float = 1e-4,
) -> float:
    """Population Stability Index from two KLL sketches:
    ``sum_b (pt_b - pr_b) * ln(pt_b / pr_b)`` over ``n_bins``
    equal-width bins spanning the REFERENCE range (out-of-range
    target mass clamps into the edge bins — ``pmf`` puts it there
    naturally), probabilities floored at ``epsilon``. This is the
    same binning convention as ``psi_exact`` (edges from the
    reference side only, _psi_bucket clamping), which is this
    function's ground-truth verifier — combined-range binning would
    silently diverge from it exactly when the target shifts beyond
    the reference, the case PSI exists to detect. (Bin boundary
    closure differs — ``pmf`` is right-closed where the exact bucket
    is left-closed — a discrepancy inside the sketch's rank-error
    budget, unlike a range mismatch which grows with the shift.) The
    sketch path is what composes with the profile store: PSI of a
    stored column over any date range costs two small blobs, not a
    raw-data scan."""
    if target.n == 0 or reference.n == 0:
        return float("nan")
    lo = reference.min_value
    hi = reference.max_value
    if not (hi > lo):
        # degenerate reference range: psi_exact falls back to unit
        # width from lo, clamped into n_bins; mirror it
        splits = [lo + float(i) for i in range(1, n_bins)]
    else:
        splits = [lo + (hi - lo) * i / n_bins
                  for i in range(1, n_bins)]
    pt = target.pmf(splits)
    pr = reference.pmf(splits)
    out = 0.0
    for x, y in zip(pt, pr):
        x = max(x, epsilon)
        y = max(y, epsilon)
        out += (x - y) * math.log(x / y)
    return out


def _categorize_psi(v: float) -> str:
    """Standard PSI bands: < 0.1 stable, 0.1-0.25 moderate shift,
    > 0.25 significant shift."""
    if math.isnan(v):
        return "UNKNOWN"
    if v > 0.25:
        return "DRIFT"
    if v > 0.1:
        return "POSSIBLE_DRIFT"
    return "NO_DRIFT"


def psi_scores(
    target: "ProfileView", reference: "ProfileView",
    n_bins: int = 10, epsilon: float = 1e-4,
) -> List["DriftScore"]:
    """Per-column sketch PSI between two profiles (numeric columns
    with KLL present on both sides), mirroring ``hellinger_scores``."""
    return _psi_table(*_overall_tables(target, reference), n_bins,
                      epsilon)


def _psi_table(t: SketchTable, r: SketchTable, n_bins: int = 10,
               epsilon: float = 1e-4) -> List["DriftScore"]:
    out = []
    for col, a, b in _aligned(t, r, "kll"):
        v = psi_from_sketches(a, b, n_bins, epsilon)
        out.append(DriftScore(col, "psi", v, None, _categorize_psi(v)))
    return out


# ------------------------------------------------------------ Wasserstein
def wasserstein_from_sketches(
    target: KllSketch, reference: KllSketch, n_quantiles: int = 200,
) -> float:
    """Earth-mover (Wasserstein-1) distance between two KLL sketches
    via the quantile formulation ``W1 = integral_0^1 |Q_t(u) - Q_r(u)|
    du``, evaluated on an ``n_quantiles`` midpoint grid. Same accuracy
    contract as the other sketch scorers (~1/k rank error);
    ``wasserstein_exact`` is the ground-truth verifier."""
    if target.n == 0 or reference.n == 0:
        return float("nan")
    us = [(k + 0.5) / n_quantiles for k in range(n_quantiles)]
    qt = target.quantiles(us)
    qr = reference.quantiles(us)
    return sum(abs(x - y) for x, y in zip(qt, qr)) / n_quantiles


def wasserstein_scores(
    target: "ProfileView", reference: "ProfileView",
    n_quantiles: int = 200,
) -> List["DriftScore"]:
    """Per-column sketch W1 between two profiles. The raw statistic is
    scale-dependent, so the drift category uses the RANGE-NORMALIZED
    value (W1 / combined value range, in [0, 1]) with the Hellinger
    bands; the statistic field stays in the column's own units."""
    return _wasserstein_table(*_overall_tables(target, reference),
                              n_quantiles)


def _wasserstein_table(t: SketchTable, r: SketchTable,
                       n_quantiles: int = 200) -> List["DriftScore"]:
    out = []
    for col, a, b in _aligned(t, r, "kll"):
        v = wasserstein_from_sketches(a, b, n_quantiles)
        if a.n and b.n:
            span = max(a.max_value, b.max_value) \
                - min(a.min_value, b.min_value)
            norm = v / span if span > 0 else 0.0
        else:
            norm = float("nan")
        out.append(DriftScore(col, "wasserstein", v, None,
                              _categorize_dist(norm)))
    return out


def _merged_value_counts(
    target: DataFrame, reference: DataFrame, col: str
) -> DataFrame:
    """Shared front end of the exact numeric two-sample tests: merged
    per-DISTINCT-value counts (v, ct, cr), NaN/null excluded on both
    sides. One groupBy with map-side combine — the shuffle carries
    distinct values only."""
    v = qcol(col).cast("double")
    u = target.select(
        v.alias("v"), F.lit(1).alias("wt"), F.lit(0).alias("wr")
    ).unionAll(
        reference.select(v.alias("v"), F.lit(0).alias("wt"),
                         F.lit(1).alias("wr"))
    ).filter(F.col("v").isNotNull() & ~F.isnan("v"))
    return u.groupBy("v").agg(F.sum("wt").alias("ct"),
                              F.sum("wr").alias("cr"))


def ks_wasserstein_exact(
    target: DataFrame, reference: DataFrame, col: str
) -> DataFrame:
    """Exact KS and Wasserstein-1 off ONE walked table, as two rows
    (col_name, algorithm in {ks, wasserstein}, statistic): both
    statistics are functionals of the same merged CDF difference
    ``|F_t(v) - F_r(v)|`` — KS takes its sup, W1 integrates it over
    the value gaps — so they share one groupBy + one range-partitioned
    walk (the shape ``exact_drift_lineitem`` and the bench use).

    Distributed shape: the two-phase prefix-sum pattern inlined so the
    successor value rides the SAME per-slice window pass as the
    cumsums (``lead`` partitioned by __slice — never a global window);
    cross-slice offsets, grand totals, and the boundary successor all
    come from ONE window projection over the bounded slice-totals
    frame (``prefix.slice_rollup`` — its row space only contains
    non-empty slices, so ``lead`` is already the next non-empty
    slice's first value), joined back by broadcast. Exactly two plan
    branches consume the data exchange. NaN/null excluded on both
    sides.
    """
    from pyspark.sql import Window

    from .prefix import require_exchange_reuse, slice_rollup

    g = _merged_value_counts(target, reference, col)
    require_exchange_reuse(g)
    rp = g.repartitionByRange(F.col("v")) \
        .withColumn("__slice", F.spark_partition_id())
    wcum = Window.partitionBy("__slice").orderBy("v") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wlead = Window.partitionBy("__slice").orderBy("v")
    local = rp.select(
        "*",
        F.sum("ct").over(wcum).alias("__l_ct"),
        F.sum("cr").over(wcum).alias("__l_cr"),
        F.lead("v").over(wlead).alias("__vnext"))
    # bounded: one row per non-empty shuffle partition
    totals = rp.groupBy("__slice").agg(
        F.sum("ct").alias("ct"), F.sum("cr").alias("cr"),
        F.min("v").alias("__fv"))
    meta = F.broadcast(
        slice_rollup(totals, ["ct", "cr"], first_col="__fv"))
    j = local.join(meta, "__slice")
    gap = F.coalesce(
        F.coalesce(F.col("__vnext"), F.col("__next_first"))
        - F.col("v"),
        F.lit(0.0))
    # zero guard: an empty / all-NaN side would otherwise abort the
    # whole job under ANSI mode ([DIVIDE_BY_ZERO]); NULL statistics
    # instead
    diff = F.when(
        (F.col("__g_ct") > 0) & (F.col("__g_cr") > 0),
        F.abs(
            (F.col("__l_ct") + F.col("__o_ct")).cast("double")
            / F.col("__g_ct")
            - (F.col("__l_cr") + F.col("__o_cr")).cast("double")
            / F.col("__g_cr")))
    one = j.agg(F.max(diff).alias("__ks"),
                F.sum(diff * gap).alias("__w1"))
    return one.select(F.explode(F.array(
        F.struct(F.lit(col).alias("col_name"),
                 F.lit("ks").alias("algorithm"),
                 F.col("__ks").alias("statistic")),
        F.struct(F.lit(col).alias("col_name"),
                 F.lit("wasserstein").alias("algorithm"),
                 F.col("__w1").alias("statistic")),
    )).alias("r")).select("r.*")


def wasserstein_exact(
    target: DataFrame, reference: DataFrame, col: str
) -> DataFrame:
    """Exact empirical Wasserstein-1 distance as a one-row DataFrame
    (col_name, algorithm, statistic): ``W1 = sum_i |F_t(v_i) -
    F_r(v_i)| * (v_{i+1} - v_i)`` over the merged DISTINCT values.
    A filter over ``ks_wasserstein_exact`` (the KS sup rides the same
    aggregation for free)."""
    return ks_wasserstein_exact(target, reference, col).filter(
        F.col("algorithm") == "wasserstein")


# ------------------------------------------------------------------ chi2
def chi2_from_frequent_items(
    a: FrequentStringsSketch, b: FrequentStringsSketch
) -> Tuple[float, float]:
    """Chi-square over shared frequent items (reference :205-305 requires
    matching categories; returns (stat, p))."""
    if a.n == 0 or b.n == 0:
        return float("nan"), float("nan")
    keys = set(a.counts) | set(b.counts)
    if len(keys) < 2:
        return 0.0, 1.0
    total_a = sum(a.counts.values())
    total_b = sum(b.counts.values())
    stat = 0.0
    for k in keys:
        fa = a.counts.get(k, 0) / max(total_a, 1)
        expected = fa * total_b
        observed = b.counts.get(k, 0)
        if expected > 0:
            stat += (observed - expected) ** 2 / expected
    dof = len(keys) - 1
    return stat, chi2_sf(stat, dof)


# ------------------------------------------------------------------ driver
@dataclass
class DriftScore:
    column: str
    algorithm: str
    statistic: float
    p_value: Optional[float]
    category: str  # DRIFT | POSSIBLE_DRIFT | NO_DRIFT | UNKNOWN


def _categorize_p(p: float) -> str:
    if math.isnan(p):
        return "UNKNOWN"
    if p < 0.05:
        return "DRIFT"
    if p < 0.15:
        return "POSSIBLE_DRIFT"
    return "NO_DRIFT"


def _categorize_dist(d: float, drift_thr: float = 0.5,
                     possible_thr: float = 0.2) -> str:
    if math.isnan(d):
        return "UNKNOWN"
    if d > drift_thr:
        return "DRIFT"
    if d > possible_thr:
        return "POSSIBLE_DRIFT"
    return "NO_DRIFT"


def calculate_drift_scores(
    target: ProfileView, reference: ProfileView,
    with_thresholds: bool = True,
) -> List[DriftScore]:
    """Score drift per shared column: KS for numeric (KLL present),
    chi-square for categorical (FI present). Mirrors the column alignment
    of the reference (column_drift_algorithms.py:500-515)."""
    return _ks_chi2_table(*_overall_tables(target, reference))


def _ks_chi2_table(t: SketchTable, r: SketchTable) -> List[DriftScore]:
    out: List[DriftScore] = []
    for col, a, b in _aligned(t, r, "kll"):
        d, p = ks_test_from_sketches(a, b)
        out.append(DriftScore(col, "ks", d, p, _categorize_p(p)))
    for col, a, b in _aligned(t, r, "mg", skip=t.get("kll", {})):
        stat, p = chi2_from_frequent_items(b, a)
        out.append(DriftScore(col, "chi2", stat, p, _categorize_p(p)))
    return out


# ------------------------------------------------------------- exact tests
def ks_2samp_exact(
    target: DataFrame, reference: DataFrame, col: str
) -> DataFrame:
    """Exact two-sample KS statistic D = sup_x |F_t(x) - F_r(x)| as a
    one-row DataFrame (col_name, algorithm, statistic).

    Distributed shape: both sides project to (value, side-weight), a
    groupBy(value) combines duplicates map-side (the shuffle carries
    DISTINCT values only), then the merged-CDF walk runs as a
    two-phase range-partitioned prefix sum (``core.prefix
    .running_sums`` — range-repartition by value, per-slice cumsums,
    broadcast per-slice offsets), so continuous columns (distinct ≈
    total rows) never serialize into one task. For monitoring at
    scale the KLL-based ``calculate_drift_scores`` remains the
    default; this is its deterministic ground-truth verifier (NaN/null
    excluded on both sides, like the sketch path).
    """
    from .prefix import running_sums

    g = _merged_value_counts(target, reference, col)
    cum = running_sums(g, ["v"], ["ct", "cr"]).select(
        F.col("__cum_ct").alias("sct"),
        F.col("__cum_cr").alias("scr"),
        F.col("__g_ct").alias("nt"),
        F.col("__g_cr").alias("nr"),
    )
    # zero guard: an empty / all-NaN side would otherwise abort the
    # whole job under ANSI mode ([DIVIDE_BY_ZERO]); emit a NULL
    # statistic instead
    diff = F.when(
        (F.col("nt") > 0) & (F.col("nr") > 0),
        F.abs(F.col("sct").cast("double") / F.col("nt")
              - F.col("scr").cast("double") / F.col("nr")))
    return (
        cum.agg(F.max(diff).alias("statistic"))
        .select(F.lit(col).alias("col_name"),
                F.lit("ks").alias("algorithm"), "statistic")
    )


def chi2_exact(
    target: DataFrame, reference: DataFrame, col: str
) -> DataFrame:
    """Exact chi-square drift statistic over full category counts (the
    ground truth the frequent-items path approximates): expected
    frequencies from the reference, observed from the target, summed
    over the key union where expected > 0 — same semantics as
    ``chi2_from_frequent_items``. One groupBy per side (map-side
    combined), a small full-outer join on category, driver never sees
    raw rows."""
    k = qcol(col).cast("string")
    tc = target.filter(k.isNotNull()).groupBy(k.alias("k")).agg(
        F.count(F.lit(1)).alias("obs"))
    rc = reference.filter(k.isNotNull()).groupBy(k.alias("k")).agg(
        F.count(F.lit(1)).alias("refc"))
    tt = tc.agg(F.sum("obs").alias("nt"))
    rt = rc.agg(F.sum("refc").alias("nr"))
    j = (
        tc.join(rc, "k", "full_outer")
        .na.fill({"obs": 0, "refc": 0})
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .withColumn(
            "expected",
            F.col("refc").cast("double") / F.col("nr") * F.col("nt"))
        .filter(F.col("expected") > 0)
    )
    return j.agg(
        F.sum(
            (F.col("obs") - F.col("expected"))
            * (F.col("obs") - F.col("expected")) / F.col("expected")
        ).alias("statistic")
    ).select(F.lit(col).alias("col_name"),
             F.lit("chi2").alias("algorithm"), "statistic")


def exact_drift_scores(
    target: DataFrame,
    reference: DataFrame,
    numeric_cols: List[str],
    categorical_cols: List[str],
) -> DataFrame:
    """Exact drift statistics per column (KS for numeric, chi2 for
    categorical) as one DataFrame — the deterministic ground truth for
    the sketch-based ``calculate_drift_scores``."""
    parts = [ks_2samp_exact(target, reference, c) for c in numeric_cols]
    parts += [chi2_exact(target, reference, c) for c in categorical_cols]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def hellinger_scores(
    target: ProfileView, reference: ProfileView, n_bins: int = 30
) -> List[DriftScore]:
    return _hellinger_table(*_overall_tables(target, reference), n_bins)


def _hellinger_table(t: SketchTable, r: SketchTable,
                     n_bins: int = 30) -> List[DriftScore]:
    out = []
    for col, a, b in _aligned(t, r, "kll"):
        h = hellinger_from_sketches(a, b, n_bins)
        out.append(DriftScore(col, "hellinger", h, None,
                              _categorize_dist(h)))
    return out


# ------------------------------------------------------------------ PSI

def _psi_bucket(v, lo, w, n_bins: int):
    """Equal-width bin index with edge clamping: values at/past the
    top edge land in the last bin, below the bottom edge in bin 0, so
    target values outside the reference range still count."""
    raw = F.floor((v - lo) / w).cast("long")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))


def psi_exact(
    target: DataFrame,
    reference: DataFrame,
    col: str,
    n_bins: int = 10,
    categorical: bool = False,
    epsilon: float = 1e-4,
) -> DataFrame:
    """Population Stability Index between target and reference for one
    column, as a one-row DataFrame (col_name, algorithm='psi',
    statistic).

    ``PSI = sum_b (p_t(b) - p_r(b)) * ln(p_t(b) / p_r(b))`` over
    equal-width bins spanning the REFERENCE min/max (numeric) or the
    category union (categorical=True); proportions are clamped below at
    ``epsilon`` (the standard guard for empty bins, which otherwise
    send the log to +/-inf). Common industry reading: <0.1 stable,
    0.1-0.25 moderate shift, >0.25 major shift.

    Complements the reference's KS / chi2 / Hellinger
    (viz/drift/column_drift_algorithms.py): PSI is the
    binned-proportions drift score scorecard pipelines alert on, and —
    unlike KS — it needs no ordered CDF walk, so the exact computation
    is fully distributed at any scale.

    Scale shape: numeric bins come from a 1-row reference min/max agg
    (broadcast cross-join, stays in-plan); each side then collapses to
    <= n_bins (or <= |categories|) partial-agg rows before its
    exchange; the bin join and final sum touch bin-count rows only.
    NaN/null excluded on both sides, matching the KS path.
    """
    if categorical:
        k = qcol(col).cast("string")
        tc = target.filter(k.isNotNull()).groupBy(k.alias("b")) \
            .agg(F.count(F.lit(1)).alias("ct"))
        rc = reference.filter(k.isNotNull()).groupBy(k.alias("b")) \
            .agg(F.count(F.lit(1)).alias("cr"))
    else:
        v = qcol(col).cast("double")
        tgt = target.select(v.alias("v")).filter(
            F.col("v").isNotNull() & ~F.isnan("v"))
        ref = reference.select(v.alias("v")).filter(
            F.col("v").isNotNull() & ~F.isnan("v"))
        edges = ref.agg(F.min("v").alias("__lo"), F.max("v").alias("__hi"))
        w = F.when(F.col("__hi") > F.col("__lo"),
                   (F.col("__hi") - F.col("__lo")) / F.lit(n_bins)) \
            .otherwise(F.lit(1.0))
        tc = tgt.crossJoin(F.broadcast(edges)).groupBy(
            _psi_bucket(F.col("v"), F.col("__lo"), w, n_bins).alias("b")
        ).agg(F.count(F.lit(1)).alias("ct"))
        rc = ref.crossJoin(F.broadcast(edges)).groupBy(
            _psi_bucket(F.col("v"), F.col("__lo"), w, n_bins).alias("b")
        ).agg(F.count(F.lit(1)).alias("cr"))
    tt = F.broadcast(tc.agg(F.sum("ct").alias("nt")))
    rt = F.broadcast(rc.agg(F.sum("cr").alias("nr")))
    j = (
        tc.join(rc, "b", "full_outer")
        .na.fill({"ct": 0, "cr": 0})
        .crossJoin(tt).crossJoin(rt)
    )
    eps = F.lit(float(epsilon))
    pt = F.greatest(F.col("ct").cast("double") / F.col("nt"), eps)
    pr = F.greatest(F.col("cr").cast("double") / F.col("nr"), eps)
    return j.agg(
        F.sum((pt - pr) * F.log(pt / pr)).alias("statistic")
    ).select(F.lit(col).alias("col_name"),
             F.lit("psi").alias("algorithm"), "statistic")


def rolling_psi(
    df: DataFrame,
    time_col: str,
    col: str,
    unit: str = "day",
    n_bins: int = 10,
    epsilon: float = 1e-4,
) -> DataFrame:
    """Period-over-period PSI of a numeric column: bucket rows into
    calendar periods (``date_trunc(unit)``), bin values into
    equal-width bins spanning the GLOBAL min/max (fixed bins across
    periods, so consecutive periods are compared on the same grid),
    and emit one row per period that has an immediately preceding
    period: (period, statistic, n_current, n_previous).

    This is the monitoring query behind a drift dashboard — "did
    yesterday's distribution move?" — expressed as one batch plan over
    the full history instead of O(periods) pairwise jobs. A period with
    no direct predecessor (gap in the data) emits nothing; `unit` is
    any date_trunc unit (``hour``/``day``/``week``/``month``).

    Scale shape: one groupBy(period, bin) with map-side partial agg
    (shuffle bounded at periods x n_bins rows), a dense (period x bin)
    grid built in-plan via sequence-explode so empty bins participate,
    and a self-join keyed on (previous period, bin) — all joins touch
    grid-sized frames only, never raw rows. The raw-row pass is a
    single zero-shuffle projection + one bounded exchange.

    Period succession is CALENDAR arithmetic (``timestampadd``), not a
    fixed-duration interval: in a non-UTC session a DST-transition
    day's midnight is not the previous midnight + 24h, and a
    fixed-duration ``INTERVAL 1 DAY`` join key would silently drop
    that day's drift row. ``unit`` is validated up front (it is also a
    parse-time identifier), so a typo raises a clean ValueError
    instead of a SQL parse error.
    """
    allowed = {"minute": "MINUTE", "hour": "HOUR", "day": "DAY",
               "week": "WEEK", "month": "MONTH", "quarter": "QUARTER",
               "year": "YEAR"}
    if unit not in allowed:
        raise ValueError(
            f"unit must be one of {sorted(allowed)}, got {unit!r}")
    v = qcol(col).cast("double")
    period = F.date_trunc(unit, qcol(time_col))
    rows = df.select(period.alias("period"), v.alias("v")).filter(
        F.col("v").isNotNull() & ~F.isnan("v")
        & F.col("period").isNotNull())
    edges = rows.agg(F.min("v").alias("__lo"), F.max("v").alias("__hi"))
    w = F.when(F.col("__hi") > F.col("__lo"),
               (F.col("__hi") - F.col("__lo")) / F.lit(n_bins)) \
        .otherwise(F.lit(1.0))
    bc = (
        rows.crossJoin(F.broadcast(edges))
        .groupBy("period",
                 _psi_bucket(F.col("v"), F.col("__lo"), w, n_bins)
                 .alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = bc.groupBy("period").agg(F.sum("c").alias("n"))
    # dense (period x bin) grid: every present period gets all n_bins
    # rows, so bins empty on one side still enter the PSI sum
    grid = tot.select(
        "period", "n",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("b"))
    cur = (
        grid.join(bc, ["period", "b"], "left")
        .select("period", "b", "n",
                F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    prev = cur.select(
        F.timestamp_add(allowed[unit], F.lit(1), F.col("period"))
        .alias("period"),
        F.col("b"),
        F.col("n").alias("n_prev"),
        F.col("c").alias("c_prev"),
    )
    eps = F.lit(float(epsilon))
    joined = cur.join(prev, ["period", "b"], "inner")
    pt = F.greatest(F.col("c").cast("double") / F.col("n"), eps)
    pr = F.greatest(F.col("c_prev").cast("double") / F.col("n_prev"), eps)
    return (
        joined.groupBy("period")
        .agg(F.sum((pt - pr) * F.log(pt / pr)).alias("statistic"),
             F.first("n").alias("n_current"),
             F.first("n_prev").alias("n_previous"))
    )


def schema_diff(target: "ProfileView", reference: "ProfileView"):
    """Schema-level drift between two profiles: added / removed /
    type-changed columns and null-fraction deltas — the monitoring
    layer the distribution scorers don't cover (a column silently
    disappearing or flipping string->fractional is schema drift, not
    value drift; the reference's backend alerts on both).

    Dominant type per column = the ``types`` metric component with the
    highest count (ties broken alphabetically for determinism); a
    column whose every type bucket is 0 (only NULLs in the profile)
    reports type ``null``, so an upstream outage surfaces as
    ``type_changed`` to ``null`` rather than a bogus concrete type.
    Returns one row per (segment, column) across both profiles:
    ``status`` in {added, removed, type_changed, ok}, ``ref_type`` /
    ``tgt_type``, ``ref_null_frac`` / ``tgt_null_frac`` and
    ``null_frac_delta`` (null while unmatched). Everything is a join
    of two already-tiny profile frames — no raw data is touched.
    """
    def summarize(view: "ProfileView"):
        df = view.df
        types = (
            df.filter(F.col("metric") == "types")
            .groupBy("segment", "column")
            .agg(
                F.min_by(
                    "component",
                    # minimize (-count, name): highest count wins,
                    # ties break to the alphabetically smallest name
                    F.struct((-F.coalesce(F.col("n"), F.lit(0)))
                             .alias("neg_n"), F.col("component"))
                ).alias("top_type"),
                F.max(F.coalesce(F.col("n"), F.lit(0)))
                .alias("max_type_n"))
            # every type bucket at 0 = the column held only NULLs in
            # this profile; report 'null', not the alphabetically
            # first bucket (an upstream outage nulling a column must
            # not read as string->boolean)
            .withColumn(
                "dtype",
                F.when(F.col("max_type_n") > 0, F.col("top_type"))
                .otherwise(F.lit("null")))
        )
        counts = (
            df.filter((F.col("metric") == "counts")
                      & F.col("component").isin("n", "null"))
            .groupBy("segment", "column")
            .pivot("component", ["n", "null"]).sum("n")
        )
        null_frac = F.when(
            F.col("n") > 0,
            F.coalesce(F.col("null"), F.lit(0)).cast("double")
            / F.col("n")).otherwise(F.lit(None))
        return types.join(counts, ["segment", "column"], "left") \
            .select("segment", "column", "dtype",
                    null_frac.alias("null_frac"))

    ref = summarize(reference).select(
        "segment", "column", F.col("dtype").alias("ref_type"),
        F.col("null_frac").alias("ref_null_frac"))
    tgt = summarize(target).select(
        "segment", "column", F.col("dtype").alias("tgt_type"),
        F.col("null_frac").alias("tgt_null_frac"))
    joined = ref.join(tgt, ["segment", "column"], "full_outer")
    status = (
        F.when(F.col("ref_type").isNull(), F.lit("added"))
        .when(F.col("tgt_type").isNull(), F.lit("removed"))
        .when(F.col("ref_type") != F.col("tgt_type"),
              F.lit("type_changed"))
        .otherwise(F.lit("ok")))
    return joined.select(
        "segment", "column", status.alias("status"),
        "ref_type", "tgt_type", "ref_null_frac", "tgt_null_frac",
        (F.col("tgt_null_frac") - F.col("ref_null_frac"))
        .alias("null_frac_delta"))


# one registry for every algorithm-selectable surface
# (ProfileStore.drift_between, drift_by_segment): algorithm -> scorer of
# two sketch tables (target, reference); adding an algorithm here
# propagates everywhere
DRIFT_SCORERS = {
    "default": _ks_chi2_table,
    "psi": _psi_table,
    "hellinger": _hellinger_table,
    "wasserstein": _wasserstein_table,
}


def drift_scorer(algorithm: str):
    """The sketch-table scorer registered for ``algorithm``."""
    scorer = DRIFT_SCORERS.get(algorithm)
    if scorer is None:
        raise ValueError(
            f"algorithm must be one of {sorted(DRIFT_SCORERS)}, "
            f"got {algorithm!r}")
    return scorer


@dataclass
class SegmentDriftScore:
    segment: str
    column: str
    algorithm: str
    statistic: float
    p_value: Optional[float]
    category: str


def drift_by_segment(
    target: "ProfileView",
    reference: "ProfileView",
    algorithm: str = "default",
    max_segments: int = 100,
) -> List[SegmentDriftScore]:
    """"Which segment drifted?" — score drift per SHARED segment of
    two segmented profiles (``profile(df, segment_by=[...])``), pairing
    each target segment with the same reference segment. The overall
    drift scorers read only the ``{}`` segment, so a shift confined to
    one country/device class can hide inside the global mixture; this
    runs the same sketch tests segment by segment.

    ``algorithm`` as in ``ProfileStore.drift_between`` (default =
    KS/chi2, or psi / hellinger / wasserstein). Each view costs ONE
    collect of its kll + mg rows (every segment's sketch table at
    once); the per-segment scoring is driver-side over those tables.
    Segmentation for drift monitoring is low-cardinality by design;
    ``max_segments`` guards against accidentally segmenting by a
    high-cardinality key (raise it deliberately if you really have
    more).
    """
    scorer = drift_scorer(algorithm)
    return score_segments(
        _view_tables(target, overall=False),
        _view_tables(reference, overall=False), scorer, max_segments)


def score_segments(
    target: Dict[str, SketchTable],
    reference: Dict[str, SketchTable],
    scorer,
    max_segments: int = 100,
) -> List[SegmentDriftScore]:
    """Run ``scorer`` on every shared non-overall segment of two
    {segment: sketch table} maps, in segment order."""
    shared = sorted((target.keys() & reference.keys()) - {"{}"})
    if not shared:
        raise ValueError(
            "no shared non-overall segments: drift_by_segment "
            "needs SEGMENTED profiles with KLL / frequent-items "
            "sketches on both sides (profile(df, segment_by=[...])); "
            "for unsegmented profiles use the overall scorers "
            "(calculate_drift_scores / drift_between)")
    if len(shared) > max_segments:
        raise ValueError(
            f"{len(shared)} shared segments exceeds max_segments="
            f"{max_segments}; drift segmentation should be "
            "low-cardinality (raise max_segments deliberately)")
    return [
        SegmentDriftScore(s, d.column, d.algorithm, d.statistic,
                          d.p_value, d.category)
        for s in shared for d in scorer(target[s], reference[s])]


def adjust_pvalues(
    df: DataFrame,
    p_col: str,
    id_col: str,
    method: str = "bh",
    alpha: float = 0.05,
) -> DataFrame:
    """Multiple-testing correction over a DRIFT/TEST REPORT (one row
    per test — e.g. the per-column p-values from
    ``calculate_drift_scores``): running 400 column-level KS tests at
    alpha=0.05 yields ~20 false alarms per batch; the corrected
    p-values restore the intended error rate across the whole report.

    Methods: ``bh`` (Benjamini–Hochberg FDR: adjusted_i = min over
    p_j >= p_i of p_j * m / rank_j, clipped at 1, where rank is the
    tie-inclusive count of p <= p_j) and ``bonferroni`` (p * m,
    clipped). Returns the input columns plus ``p_adjusted`` and
    ``reject`` (p_adjusted <= alpha). Null/NaN p-values pass through
    with null adjustment and reject=false, and do NOT count toward m.

    Input contract: a REPORT-sized frame (one row per test — columns,
    segments, metrics), never raw data. The BH suffix-minimum is
    computed with two self-joins over the report (O(m^2) pairs — the
    declarative, engine-portable form; at report sizes the pairs fit
    one task, and even 10^4 tests are ~10^8 cheap comparisons spread
    across the cluster). ``id_col`` must uniquely key the rows.
    """
    if method not in ("bh", "bonferroni"):
        raise ValueError(f"method must be bh|bonferroni: {method}")
    p = F.col(p_col).cast("double")
    ok = p.isNotNull() & ~F.isnan(p)
    base = df.select(F.col(id_col).alias("__id"), p.alias("__p")) \
        .filter(ok)
    m_row = base.agg(F.count(F.lit(1)).alias("__m"))
    if method == "bonferroni":
        adj = F.least(F.col("__p") * F.col("__m"), F.lit(1.0))
        scored = (base.crossJoin(F.broadcast(m_row))
                  .select("__id", adj.alias("p_adjusted")))
    else:
        a = base.select(F.col("__id"), F.col("__p"))
        b = base.select(F.col("__id").alias("__jd"),
                        F.col("__p").alias("__pj"))
        ranks = (
            a.join(b, F.col("__pj") <= F.col("__p"))
            .groupBy("__id", "__p")
            .agg(F.count(F.lit(1)).alias("__rank"))
        )
        bh = (ranks.crossJoin(F.broadcast(m_row))
              .select(F.col("__p").alias("__pj"),
                      (F.col("__p") * F.col("__m") / F.col("__rank"))
                      .alias("__bh")))
        scored = (
            a.join(bh, F.col("__pj") >= F.col("__p"))
            .groupBy("__id")
            .agg(F.least(F.min("__bh"), F.lit(1.0))
                 .alias("p_adjusted"))
        )
    out = df.join(scored.withColumnRenamed("__id", id_col),
                  on=id_col, how="left")
    return out.withColumn(
        "reject",
        F.coalesce(F.col("p_adjusted") <= F.lit(float(alpha)),
                   F.lit(False)))


def qq_table(
    ref: DataFrame,
    target: DataFrame,
    column: str,
    qs: Sequence[float] = (0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9,
                           0.95, 0.99),
) -> DataFrame:
    """Quantile–quantile drift table: the exact quantiles of a column
    in two frames side by side — the inspection view behind a QQ plot
    (the KS statistic says THAT the distributions differ; this shows
    WHERE along the distribution).

    Returns one row per probability: ``(q, ref_q, target_q, diff)``
    with ``diff = target_q - ref_q`` (null when a side is empty).
    Quantiles are ``exact_quantiles`` order statistics (lower
    interpolation — actual data values, engine-reproducible).

    Scale shape: each side is one two-phase distributed quantile walk
    collapsing to a 1-row frame; the QQ table is a broadcast cross
    join of the two 1-row frames plus a free explode. Nothing sorted
    globally, nothing collected.
    """
    from whylogs_spark.core.summaries import exact_quantiles

    qs = list(qs)
    if not qs:
        raise ValueError("qs must be non-empty")
    names = [f"q_{str(q).replace('.', '_')}" for q in qs]
    r = exact_quantiles(ref, column, qs).select(
        *[F.col(n).alias(f"__r_{i}") for i, n in enumerate(names)])
    t = exact_quantiles(target, column, qs).select(
        *[F.col(n).alias(f"__t_{i}") for i, n in enumerate(names)])
    row = r.crossJoin(F.broadcast(t))
    structs = [
        F.struct(
            F.lit(float(q)).alias("q"),
            F.col(f"__r_{i}").alias("ref_q"),
            F.col(f"__t_{i}").alias("target_q"),
        )
        for i, q in enumerate(qs)
    ]
    return (
        row.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.q", "p.ref_q", "p.target_q",
                (F.col("p.target_q") - F.col("p.ref_q")).alias("diff"))
    )


def cvm_ad_exact(
    target: DataFrame, reference: DataFrame, col: str
) -> DataFrame:
    """Exact two-sample Cramér-von Mises and Anderson-Darling
    statistics off ONE merged-CDF walk, as two rows
    (col_name, algorithm in {cvm, anderson_darling}, statistic) —
    the tail-sensitive complements of :func:`ks_2samp_exact` (KS sees
    the single biggest CDF gap; CvM integrates every gap; AD upweights
    the tails where drift usually starts).

    * ``cvm`` — T = (n·m/N²)·Σ_k l_k·(F_t(v_k) − F_r(v_k))², the
      integral ∫(F_t − F_r)² dH_N against the pooled empirical CDF
      (Anderson 1962; equals the classic rank form on untied data,
      and this dH_N convention is the tie treatment).
    * ``anderson_darling`` — the Scholz-Stephens (1987) A²_akN
      midrank form for k = 2: (N−1)/N · Σ_arm (1/n_arm) ·
      Σ_k (l_k/N)·(N·M̄ − n_arm·B̄)² / (B̄(N−B̄) − N·l_k/4) with
      midrank cumulatives M̄ = M_k − f_k/2, B̄ = B_k − l_k/2 —
      what ``scipy.stats.anderson_ksamp`` computes with midranks.

    Distributed shape: identical to ``ks_wasserstein_exact`` — one
    groupBy(value) (shuffle carries DISTINCT values), then the
    two-phase range-partitioned prefix sum (``core.prefix
    .running_sums``); both statistics are one more reduce over the
    walked table.  NaN/null excluded on both sides; either side empty
    → NULL statistics.
    """
    from .prefix import running_sums

    g = _merged_value_counts(target, reference, col)
    cum = running_sums(g, ["v"], ["ct", "cr"]).select(
        F.col("ct").alias("fct"), F.col("cr").alias("fcr"),
        F.col("__cum_ct").alias("sct"),
        F.col("__cum_cr").alias("scr"),
        F.col("__g_ct").alias("nt"),
        F.col("__g_cr").alias("nr"))
    nt = F.col("nt").cast("double")
    nr = F.col("nr").cast("double")
    nn = nt + nr
    ok = (F.col("nt") > 0) & (F.col("nr") > 0)
    l_k = (F.col("fct") + F.col("fcr")).cast("double")
    ft = F.col("sct").cast("double") / nt
    fr = F.col("scr").cast("double") / nr
    cvm_cell = F.when(ok, l_k * (ft - fr) * (ft - fr))

    # midrank cumulatives for A²_akN
    mt = F.col("sct").cast("double") - F.col("fct") / 2.0
    mr = F.col("scr").cast("double") - F.col("fcr") / 2.0
    bb = (F.col("sct") + F.col("scr")).cast("double") - l_k / 2.0
    denom = bb * (nn - bb) - nn * l_k / 4.0
    ad_inner = (
        (1.0 / nt) * F.pow(nn * mt - nt * bb, 2)
        + (1.0 / nr) * F.pow(nn * mr - nr * bb, 2))
    ad_cell = F.when(ok & (denom > 0),
                     (l_k / nn) * ad_inner / denom)
    one = cum.agg(
        F.sum(cvm_cell).alias("__cvm_raw"),
        F.sum(ad_cell).alias("__ad_raw"),
        F.first(F.when(ok, nt * nr / (nn * nn))).alias("__cvm_sc"),
        F.first(F.when(ok, (nn - 1) / nn)).alias("__ad_sc"))
    return one.select(F.explode(F.array(
        F.struct(F.lit(col).alias("col_name"),
                 F.lit("cvm").alias("algorithm"),
                 (F.col("__cvm_raw") * F.col("__cvm_sc"))
                 .alias("statistic")),
        F.struct(F.lit(col).alias("col_name"),
                 F.lit("anderson_darling").alias("algorithm"),
                 (F.col("__ad_raw") * F.col("__ad_sc"))
                 .alias("statistic")),
    )).alias("r")).select("r.*")


def effect_sizes(
    target: DataFrame, reference: DataFrame, col: str
) -> DataFrame:
    """Exact two-sample effect sizes, one row: ``(n_t, n_r, mean_t,
    mean_r, cohens_d, hedges_g, cliffs_delta, cles)`` — the "how BIG
    is the difference" companion to the exact test statistics (KS/
    CvM/AD say whether distributions differ; p-values go to 0 at
    scale, effect sizes stay interpretable).

    * ``cohens_d`` — (mean_t − mean_r)/s_pooled (pooled sample SD);
      ``hedges_g`` applies the small-sample correction
      1 − 3/(4(n_t+n_r) − 9).
    * ``cliffs_delta`` — P(X_t > X_r) − P(X_t < X_r), computed
      EXACTLY from the merged distinct-value counts: Σ_v ct(v)·(#ref
      below v − #ref above v)/(n_t·n_r); ``cles`` — the common-
      language effect size P(X_t > X_r) + ½P(X_t = X_r).
    * Null statistics when either side is empty; d/g null when the
      pooled variance is 0.

    Distributed shape: one groupBy(value) combine (shuffle carries
    DISTINCT values, same front end as the exact KS family), ONE
    prefix-sum pass (``running_sums``) for the below-counts, and a
    1-row reduce; the moments ride the same walked table.  NaN/null
    excluded on both sides.
    """
    from .prefix import running_sums

    g = _merged_value_counts(target, reference, col)
    cum = running_sums(g, ["v"], ["ct", "cr"]).select(
        "v", "ct", "cr",
        F.col("__cum_cr").alias("scr"),
        F.col("__g_ct").alias("nt"),
        F.col("__g_cr").alias("nr"))
    nt = F.col("nt").cast("double")
    nr = F.col("nr").cast("double")
    ok = (F.col("nt") > 0) & (F.col("nr") > 0)
    ct = F.col("ct").cast("double")
    below = (F.col("scr") - F.col("cr")).cast("double")  # ref < v
    above = nr - F.col("scr").cast("double")             # ref > v
    ties = F.col("cr").cast("double")                    # ref = v
    one = cum.agg(
        F.first(F.col("nt")).alias("n_t"),
        F.first(F.col("nr")).alias("n_r"),
        F.try_divide(F.sum(ct * F.col("v")), F.first(nt))
        .alias("mean_t"),
        F.try_divide(F.sum(F.col("cr").cast("double") * F.col("v")),
                     F.first(nr)).alias("mean_r"),
        F.sum(ct * F.col("v") * F.col("v")).alias("__sq_t"),
        F.sum(F.col("cr").cast("double") * F.col("v") * F.col("v"))
        .alias("__sq_r"),
        F.sum(F.when(ok, ct * (below - above))).alias("__num"),
        F.sum(F.when(ok, ct * (below + 0.5 * ties))).alias("__wins"))
    ntd = F.col("n_t").cast("double")
    nrd = F.col("n_r").cast("double")
    var_t = F.try_divide(
        F.col("__sq_t") - ntd * F.col("mean_t") * F.col("mean_t"),
        ntd - 1)
    var_r = F.try_divide(
        F.col("__sq_r") - nrd * F.col("mean_r") * F.col("mean_r"),
        nrd - 1)
    s_pool = F.sqrt(F.try_divide(
        (ntd - 1) * var_t + (nrd - 1) * var_r, ntd + nrd - 2))
    d = F.when((F.col("n_t") > 1) & (F.col("n_r") > 1) & (s_pool > 0),
               (F.col("mean_t") - F.col("mean_r")) / s_pool)
    corr = 1.0 - 3.0 / (4.0 * (ntd + nrd) - 9.0)
    okb = (F.col("n_t") > 0) & (F.col("n_r") > 0)
    return one.select(
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_r").cast("long").alias("n_r"),
        "mean_t", "mean_r",
        d.alias("cohens_d"),
        (d * corr).alias("hedges_g"),
        F.when(okb, F.try_divide(F.col("__num"), ntd * nrd))
        .alias("cliffs_delta"),
        F.when(okb, F.try_divide(F.col("__wins"), ntd * nrd))
        .alias("cles"))


def js_divergence(
    target: DataFrame,
    reference: DataFrame,
    col: str,
) -> DataFrame:
    """Exact Jensen-Shannon divergence between the CATEGORICAL
    distributions of ``col`` in two frames, as one row: ``(col_name,
    algorithm='js', statistic, js_distance, n_target,
    n_reference)``.  ``JS = 0.5·KL(p‖m) + 0.5·KL(q‖m)`` with
    ``m = (p+q)/2`` (natural log; bounded by ln 2); ``js_distance``
    is its square root (a metric).  No smoothing needed: a category
    absent on one side contributes ``p·ln 2`` exactly (the
    0·ln 0 = 0 convention), unlike PSI's epsilon floor.

    Scale shape: one partial-agged groupBy(col) per side (bounded by
    category cardinality), a full-outer join of the two bounded share
    tables, a 1-row reduce.  Null categories form their own group.
    """
    pt = target.groupBy(F.col(col).cast("string").alias("__k")).agg(
        F.count(F.lit(1)).cast("double").alias("__ct"))
    pr = reference.groupBy(
        F.col(col).cast("string").alias("__k")).agg(
        F.count(F.lit(1)).cast("double").alias("__cr"))
    nt = pt.agg(F.sum("__ct").alias("__nt"))
    nr = pr.agg(F.sum("__cr").alias("__nr"))
    cells = (pt.join(pr, pt["__k"].eqNullSafe(pr["__k"]), "outer")
             .select(
                 F.coalesce(pt["__ct"], F.lit(0.0)).alias("__ct"),
                 F.coalesce(pr["__cr"], F.lit(0.0)).alias("__cr"))
             .crossJoin(F.broadcast(nt))
             .crossJoin(F.broadcast(nr)))
    p = F.col("__ct") / F.col("__nt")
    q = F.col("__cr") / F.col("__nr")
    m = (p + q) / 2.0
    term = (F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(0.0)
            + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(0.0))
    rep = cells.agg(
        F.sum(term).alias("__js"),
        F.max("__nt").alias("__n_t"),
        F.max("__nr").alias("__n_r"))
    js = F.greatest(F.col("__js"), F.lit(0.0))
    return rep.select(
        F.lit(col).alias("col_name"),
        F.lit("js").alias("algorithm"),
        js.alias("statistic"),
        F.sqrt(js).alias("js_distance"),
        F.col("__n_t").cast("long").alias("n_target"),
        F.col("__n_r").cast("long").alias("n_reference"))
