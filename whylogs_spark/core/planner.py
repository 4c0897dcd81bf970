"""Resolver / expression planner.

Replaces the reference's resolver machinery (reference:
python/whylogs/core/resolvers.py:187-217 — the STANDARD program mapping
value type -> metric set) with a driver-side planner that emits Spark
``Column`` aggregate expressions. The "physical plan" the reference builds
per column (Dict[col -> Dict[namespace -> Metric]], see
python/whylogs/core/schema.py:206) becomes a flat list of aggregate
expressions executed in ONE ``df.agg(...)`` / ``groupBy(...).agg(...)``
pass — Catalyst then gives us map-side partial aggregation for free
(vs. the reference's hand-rolled mapInPandas+shuffle at
python/whylogs/api/pyspark/experimental/profiler.py:70-73).

Standard metric program (parity with reference resolvers.py):
  Integral   -> counts, types, distribution, ints, cardinality, frequent_items
  Fractional -> counts, types, distribution, cardinality
  Boolean    -> counts(+true), types, cardinality, frequent_items
  String     -> counts, types, cardinality, frequent_items
  Temporal   -> counts, types, distribution(epoch-millis), cardinality,
                frequent_items   (reference leaves datetimes to AnyType;
                this is a strict superset)
  Tensor     -> counts, types
  Object     -> counts, types
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .configs import MetricConfig
from .datatypes import ValueType, value_type_of

# Slot letters for the long-form profile schema.
SLOT_N, SLOT_D, SLOT_S, SLOT_B = "n", "d", "s", "b"


def qcol(name: str) -> Column:
    """Column reference that survives dots in the name (derived columns
    like ``text.digits`` would otherwise parse as struct access)."""
    return F.col("`" + name + "`") if "." in name else F.col(name)


@dataclass
class PlannedAgg:
    column: str          # input column name
    metric: str          # metric namespace ("counts", "distribution", ...)
    component: str       # component name ("n", "mean", "hll", ...)
    slot: str            # which typed slot of the profile row it fills
    expr: Optional[Column]  # aggregate expression (None for derived)
    alias: str           # unique alias in the wide agg row
    # Execution tier: "codegen" aggregates are declarative (HashAggregate,
    # whole-stage codegen); "object" aggregates are TypedImperative
    # (hll_sketch_agg, percentile_approx) which force the WHOLE aggregate
    # exec into interpreted ObjectHashAggregateExec — so they run in a
    # separate pass and the long outputs are unioned.
    tier: str = "codegen"
    # Post-aggregation projection: value = derive(col(derive_from)).
    # Used so e.g. hll estimate/bounds reuse ONE sketch aggregate instead
    # of re-running hll_sketch_agg per derived component.
    derive_from: Optional[str] = None
    derive: Optional[object] = None  # Callable[[Column], Column]
    # emit=False: internal base aggregate (e.g. a quantile array) that
    # exists only for derived components and produces no profile row.
    emit: bool = True
    # Statically-known value (e.g. type-counter buckets that a typed Spark
    # column can never populate): no aggregate runs at all; the value is
    # stamped into the profile row driver-side / as a literal.
    const: Optional[int] = None


@dataclass
class SketchPlan:
    """A column that needs the python sketch path (mapInArrow)."""

    column: str
    kind: str            # "kll" | "fi"
    expr: Column         # pre-cast projection (double for kll, string for fi)
    alias: str


_TYPE_BUCKET = {
    ValueType.INTEGRAL: "integral",
    ValueType.FRACTIONAL: "fractional",
    ValueType.BOOLEAN: "boolean",
    ValueType.STRING: "string",
    ValueType.TEMPORAL: "temporal",
    ValueType.TENSOR: "tensor",
    ValueType.OBJECT: "object",
}

_ALL_TYPE_BUCKETS = [
    "integral", "fractional", "boolean", "string", "temporal", "tensor",
    "object",
]


def _numeric_view(col: str, vt: ValueType) -> Optional[Column]:
    """Projection of the column as DOUBLE for distribution metrics.

    NaNs are nulled out (the reference excludes NaN from metrics but counts
    it — python/whylogs/core/preprocessing.py:126-150); ±Inf passes through
    (counted AND fed to metrics — preprocessing.py:135-139).
    """
    c = qcol(col)
    if vt == ValueType.INTEGRAL:
        return c.cast(T.DoubleType())
    if vt == ValueType.FRACTIONAL:
        return F.when(~F.isnan(c.cast(T.DoubleType())), c.cast(T.DoubleType()))
    if vt == ValueType.BOOLEAN:
        return c.cast(T.IntegerType()).cast(T.DoubleType())
    if vt == ValueType.TEMPORAL:
        return F.unix_millis(c.cast(T.TimestampType())).cast(T.DoubleType())
    return None


def _string_view(col: str, vt: ValueType) -> Column:
    """Stringified projection for cardinality / frequent-items.

    Booleans become "True"/"False" to match the reference's str() folding
    (python/whylogs/core/metrics/metrics.py:472-485).
    """
    c = qcol(col)
    if vt == ValueType.BOOLEAN:
        return F.when(c.isNull(), None).when(c, "True").otherwise("False")
    return c.cast(T.StringType())


def _card_view(col: str, vt: ValueType) -> Column:
    """Projection fed to the HLL cardinality sketch.

    Distinct-count semantics only need an injective mapping, not the
    string form, so numerics stay JVM-native (hll_sketch_agg accepts
    int/long/string/binary): longs pass through, doubles hash to 64-bit
    via xxhash64 — no per-row string allocation on the hot path. NaN is
    excluded (the reference counts NaN as null and feeds neither to
    metrics — python/whylogs/core/preprocessing.py:126-150).
    """
    c = qcol(col)
    if vt == ValueType.INTEGRAL:
        return c.cast(T.LongType())
    if vt == ValueType.FRACTIONAL:
        d = c.cast(T.DoubleType())
        return F.when(d.isNotNull() & ~F.isnan(d), F.xxhash64(d))
    if vt == ValueType.TEMPORAL:
        return F.unix_millis(c.cast(T.TimestampType()))
    return _string_view(col, vt)


def plan_column(
    col: str, dt: T.DataType, cfg: MetricConfig, aliases: "_AliasGen"
) -> Tuple[List[PlannedAgg], List[SketchPlan]]:
    vt = value_type_of(dt)
    c = qcol(col)
    aggs: List[PlannedAgg] = []

    def add(metric: str, component: str, slot: str, expr: Column,
            tier: str = "codegen", emit: bool = True) -> str:
        alias = aliases.next()
        aggs.append(
            PlannedAgg(col, metric, component, slot, expr, alias, tier,
                       emit=emit))
        return alias

    def add_derived(metric: str, component: str, slot: str,
                    derive_from: str, derive, tier: str) -> None:
        aggs.append(
            PlannedAgg(col, metric, component, slot, None, aliases.next(),
                       tier, derive_from, derive))

    # ---- counts (reference: python/whylogs/core/metrics/column_metrics.py:110)
    add("counts", "n", SLOT_N, F.count(F.lit(1)))
    add("counts", "null", SLOT_N,
        F.coalesce(F.sum(c.isNull().cast(T.LongType())), F.lit(0)))
    if vt == ValueType.FRACTIONAL:
        dc = c.cast(T.DoubleType())
        add("counts", "nan", SLOT_N,
            F.coalesce(F.sum(F.isnan(dc).cast(T.LongType())), F.lit(0)))
        add("counts", "inf", SLOT_N,
            F.coalesce(
                F.sum((F.abs(dc) == float("inf")).cast(T.LongType())),
                F.lit(0)))
    if vt == ValueType.BOOLEAN:
        add("counts", "true", SLOT_N,
            F.coalesce(F.sum(c.cast(T.LongType())), F.lit(0)))

    # ---- types (reference: column_metrics.py:15 — static per Spark type).
    # Only the column's own bucket needs an aggregate; the other six are
    # statically zero for a typed Spark column, so they become constant
    # profile rows instead of ~6 dead aggregate exprs per column.
    bucket = _TYPE_BUCKET[vt]
    non_null = F.count(c)
    talias: Optional[str] = None
    for b in _ALL_TYPE_BUCKETS:
        if b == bucket:
            talias = add("types", b, SLOT_N, non_null)
        else:
            aggs.append(PlannedAgg(col, "types", b, SLOT_N, None,
                                   aliases.next(), "codegen", const=0))

    # ---- distribution (reference: metrics.py:217; mean/M2 merge == Chan)
    nv = _numeric_view(col, vt)
    if nv is not None and vt != ValueType.BOOLEAN:
        # One central-moment buffer (var_samp) serves stddev AND m2 as
        # post-agg projections — three separate moment aggregates per
        # column would triple the hottest buffer's per-row cost.
        if vt in (ValueType.INTEGRAL, ValueType.TEMPORAL):
            # the numeric view is a null-preserving cast, so the types
            # bucket's count(c) IS count(nv) — reuse it
            nalias = talias
            add_derived("distribution", "n", SLOT_N, talias,
                        lambda x: x, tier="codegen")
        else:
            nalias = add("distribution", "n", SLOT_N, F.count(nv))
        add("distribution", "mean", SLOT_D, F.avg(nv))
        valias = add("distribution", "_var", SLOT_D, F.var_samp(nv),
                     emit=False)
        # n==1 -> stddev/m2 are 0, not NULL (reference returns variance 0
        # for a single value — metrics.py:357 — and the profile-merge path
        # already does the same; var_samp alone would give NULL)
        add_derived(
            "distribution", "stddev", SLOT_D, valias,
            lambda x, _n=nalias: F.when(F.col(_n) == 1, 0.0)
            .otherwise(F.sqrt(x)),
            tier="codegen")
        add_derived(
            "distribution", "m2", SLOT_D, valias,
            lambda x, _n=nalias: F.when(F.col(_n) == 1, 0.0).otherwise(
                x * (F.col(_n) - F.lit(1)).cast(T.DoubleType())),
            tier="codegen")
        add("distribution", "min", SLOT_D, F.min(nv))
        add("distribution", "max", SLOT_D, F.max(nv))
        if cfg.quantile_impl == "native":
            qs = F.percentile_approx(
                nv, F.array(*[F.lit(q) for q in cfg.quantiles]),
                F.lit(cfg.native_quantile_accuracy)
            )
            # ONE percentile aggregate; per-quantile components are
            # post-agg projections of the array
            qalias = add("distribution", "_q_arr", SLOT_D, qs,
                         tier="object", emit=False)
            for i, q in enumerate(cfg.quantiles):
                add_derived(
                    "distribution", _q_name(q), SLOT_D, qalias,
                    _item_getter(i), tier="object")

    # ---- ints (reference: metrics.py:165)
    if vt == ValueType.INTEGRAL:
        add("ints", "min", SLOT_N, F.min(c).cast(T.LongType()))
        add("ints", "max", SLOT_N, F.max(c).cast(T.LongType()))

    # ---- cardinality (reference: metrics.py:535 — HLL lg_k=12; we use
    # Spark's Apache DataSketches hll_sketch_agg: JVM-side, mergeable)
    if vt not in (ValueType.TENSOR, ValueType.OBJECT):
        sv = _card_view(col, vt)
        if cfg.cardinality_impl == "hll":
            # ONE hll aggregate per column; estimate and two-sigma
            # bounds are post-agg projections of the sketch bytes. The
            # bounds are MODE-AWARE (parsed from the DataSketches
            # preamble, all JVM-side expressions — see _hll_bounds):
            # a sparse (coupon) sketch is near-exact, a dense one gets
            # the estimator's RSE, not one fixed formula for both.
            halias = add("cardinality", "hll", SLOT_B,
                         F.hll_sketch_agg(sv, F.lit(cfg.hll_lg_k)),
                         tier="object")
            add_derived("cardinality", "est", SLOT_D, halias,
                        _hll_estimate(1.0), tier="object")
            add_derived("cardinality", "lower", SLOT_D, halias,
                        _hll_bounds(2.0, upper=False), tier="object")
            add_derived("cardinality", "upper", SLOT_D, halias,
                        _hll_bounds(2.0, upper=True), tier="object")
        else:
            add("cardinality", "est", SLOT_D,
                F.approx_count_distinct(sv).cast(T.DoubleType()),
                tier="codegen")

    # ---- registered custom metrics (reference plug-in surface:
    # @custom_metric/register_metric, metrics.py:60,156) — user-supplied
    # aggregate expressions run in the same codegen pass as built-ins
    from .registry import registered_metrics

    for m in registered_metrics().values():
        if not m.matches(col, vt):
            continue
        for comp in m.components:
            add(m.namespace, comp.component, comp.slot, comp.expr(c))

    return aggs, sketch_plans(col, vt, cfg, aliases)


def sketch_plans(col: str, vt: ValueType, cfg: MetricConfig,
                 aliases: "_AliasGen") -> List[SketchPlan]:
    """The python-sketched metrics of one column, for both profile
    paths: a KLL sketch of the numeric view for integral, fractional and
    temporal columns (distribution quantiles, reference metrics.py:217)
    and a frequent-items sketch of the string view for integral,
    boolean, string and temporal ones (reference metrics.py:444)."""
    out: List[SketchPlan] = []
    if cfg.quantile_impl == "kll" and vt in (
            ValueType.INTEGRAL, ValueType.FRACTIONAL, ValueType.TEMPORAL):
        out.append(SketchPlan(col, "kll", _numeric_view(col, vt),
                              f"__kll__{aliases.next()}"))
    if cfg.frequent_items_impl == "sketch" and vt in (
            ValueType.INTEGRAL, ValueType.BOOLEAN, ValueType.STRING,
            ValueType.TEMPORAL):
        out.append(SketchPlan(col, "fi", _string_view(col, vt),
                              f"__fi__{aliases.next()}"))
    return out


def _q_name(q: float) -> str:
    if q == 0.5:
        return "median"
    return f"q_{int(round(q * 100)):02d}"


def _item_getter(i: int):
    return lambda c: c.getItem(i)


def _hll_estimate(scale: float):
    return lambda c: F.hll_sketch_estimate(c).cast(
        T.DoubleType()) * F.lit(scale)


def _hll_bounds(num_std: float, upper: bool):
    """Sketch-derived cardinality bounds from the serialized
    DataSketches HLL blob — pure JVM expressions, no Python.

    Preamble (org.apache.datasketches.hll.PreambleUtil, verified
    byte-for-byte against Spark's hll_sketch_agg output): byte 3 =
    lgK, byte 5 bit 4 = out-of-order flag, byte 7 low 2 bits =
    curMode (0=LIST, 1=SET, 2=HLL). Coupon modes (LIST/SET) estimate
    by linear counting over 2^26 slots — near-exact, so the old fixed
    1.04/sqrt(2^lgK) formula was ~650x too loose exactly where users
    profile low-cardinality columns. Dense (HLL) mode uses the
    estimator RSE: 0.8326/sqrt(2^lgK) for the HIP estimator, 1.03896
    when the out-of-order flag forces the composite estimator (always
    the case for distributed merges). Bound form matches the library:
    est / (1 +/- numStdDev * rse).
    """

    def expr(c):
        byte = lambda i: F.conv(  # noqa: E731
            F.hex(F.substring(c, i + 1, 1)), 16, 10).cast(T.IntegerType())
        mode = byte(7).bitwiseAND(F.lit(3))
        ooo = byte(5).bitwiseAND(F.lit(16))
        lgk = byte(3)
        factor = F.when(ooo > 0, F.lit(1.03896)).otherwise(F.lit(0.8326))
        rse_hll = factor / F.sqrt(
            F.pow(F.lit(2.0), lgk.cast(T.DoubleType())))
        # coupon-mode collision error over 2^26 slots: bounded by 1e-4
        # for any sketch still in LIST/SET mode
        rse = F.when(mode == 2, rse_hll).otherwise(F.lit(1e-4))
        est = F.hll_sketch_estimate(c).cast(T.DoubleType())
        sign = -1.0 if upper else 1.0
        return est / (F.lit(1.0) + F.lit(sign * num_std) * rse)

    return expr


class _AliasGen:
    def __init__(self) -> None:
        self._i = 0

    def next(self) -> str:
        self._i += 1
        return f"a{self._i}"


def profiled_fields(schema: T.StructType, columns: Optional[List[str]],
                    segment_cols: List[str]) -> List[T.StructField]:
    """The fields a profile covers: ``columns`` (all when None) minus
    the segment keys, in schema order."""
    return [f for f in schema.fields
            if f.name not in segment_cols
            and (columns is None or f.name in columns)]


_PLAN_CACHE: dict = {}
_PLAN_CACHE_MAX = 64


def plan_dataframe(
    schema: T.StructType,
    columns: Optional[List[str]],
    segment_cols: List[str],
    cfg: MetricConfig,
) -> Tuple[List[PlannedAgg], List[SketchPlan]]:
    """Plan (and memoize) the aggregate expressions for a schema.

    Building ~20 Column expressions per column costs a py4j round-trip
    each — O(1 s) of driver time for a wide frame. Spark Columns are
    immutable expression trees, so the planned lists are safe to reuse
    whenever (schema, column selection, segmentation, config, custom
    metric registry) are identical — which is every micro-batch of a
    streaming profile and every repeat profile of the same table.
    """
    from .registry import registry_generation

    key = (
        schema.json(),
        tuple(columns) if columns is not None else None,
        tuple(segment_cols),
        repr(cfg),  # frozen dataclass, but quantiles is a (unhashable) list
        registry_generation(),
    )
    hit = _PLAN_CACHE.get(key)
    if hit is not None:
        return hit
    gen = _AliasGen()
    aggs: List[PlannedAgg] = []
    sketches: List[SketchPlan] = []
    for field in profiled_fields(schema, columns, segment_cols):
        a, s = plan_column(field.name, field.dataType, cfg, gen)
        aggs.extend(a)
        sketches.extend(s)
    if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
        _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
    _PLAN_CACHE[key] = (aggs, sketches)
    return aggs, sketches
