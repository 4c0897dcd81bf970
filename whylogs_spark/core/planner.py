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

from dataclasses import dataclass
from typing import List, Optional

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
    """One profile component of one column and the Columns that compute
    it, built once when the column is planned: ``agg`` is the aliased
    aggregate, ``out`` the component's column in the job's frame (the
    aggregate's alias, or a projection of other aliases)."""

    column: str          # input column name
    metric: str          # metric namespace ("counts", "distribution", ...)
    component: str       # component name ("n", "mean", "hll", ...)
    slot: str            # which typed slot of the profile row it fills
    alias: str           # unique alias in the wide agg row
    # Execution tier: "codegen" aggregates are declarative (HashAggregate,
    # whole-stage codegen); "object" aggregates are TypedImperative
    # (hll_sketch_agg, kll_sketch_agg, percentile_approx) which force the
    # WHOLE aggregate exec into interpreted ObjectHashAggregateExec — so
    # they run in a separate pass and the long outputs are unioned.
    tier: str = "codegen"
    agg: Optional[Column] = None   # aliased aggregate (None when derived)
    # None: an internal base aggregate (e.g. a sketch whose components
    # are projections of it) that produces no profile row
    out: Optional[Column] = None
    # Statically-known value (e.g. type-counter buckets that a typed Spark
    # column can never populate): no aggregate runs at all; the value is
    # stamped into the profile row driver-side / as a literal.
    const: Optional[int] = None

    @property
    def emit(self) -> bool:
        """Whether the component is a profile row."""
        return self.out is not None or self.const is not None


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


class _ColumnPlan:
    """One column's planned aggregates, each built with its Columns as
    it is added."""

    def __init__(self, col: str, aliases: "_AliasGen") -> None:
        self.col, self.aliases = col, aliases
        self.aggs: List[PlannedAgg] = []

    def base(self, metric: str, component: str, slot: str, expr: Column,
             tier: str = "codegen", emit: bool = True) -> str:
        """Add an aggregate; returns its alias."""
        alias = self.aliases.next()
        self.aggs.append(PlannedAgg(
            self.col, metric, component, slot, alias, tier,
            agg=expr.alias(alias), out=F.col(alias) if emit else None))
        return alias

    def derived(self, metric: str, component: str, slot: str,
                value: Column, tier: str = "codegen") -> None:
        """Add a component projected from the aliases of base
        aggregates (one sketch aggregate serves several components)."""
        alias = self.aliases.next()
        self.aggs.append(PlannedAgg(self.col, metric, component, slot,
                                    alias, tier, out=value.alias(alias)))

    def const(self, metric: str, component: str, slot: str,
              value: int) -> None:
        self.aggs.append(PlannedAgg(self.col, metric, component, slot,
                                    self.aliases.next(), const=value))


def plan_column(col: str, dt: T.DataType, cfg: MetricConfig,
                aliases: "_AliasGen") -> List[PlannedAgg]:
    vt = value_type_of(dt)
    c = qcol(col)
    p = _ColumnPlan(col, aliases)

    # ---- counts (reference: python/whylogs/core/metrics/column_metrics.py:110)
    p.base("counts", "n", SLOT_N, F.count(F.lit(1)))
    p.base("counts", "null", SLOT_N,
           F.coalesce(F.sum(c.isNull().cast(T.LongType())), F.lit(0)))
    if vt == ValueType.FRACTIONAL:
        dc = c.cast(T.DoubleType())
        p.base("counts", "nan", SLOT_N,
               F.coalesce(F.sum(F.isnan(dc).cast(T.LongType())), F.lit(0)))
        p.base("counts", "inf", SLOT_N,
               F.coalesce(
                   F.sum((F.abs(dc) == float("inf")).cast(T.LongType())),
                   F.lit(0)))
    if vt == ValueType.BOOLEAN:
        p.base("counts", "true", SLOT_N,
               F.coalesce(F.sum(c.cast(T.LongType())), F.lit(0)))

    # ---- types (reference: column_metrics.py:15 — static per Spark type).
    # Only the column's own bucket needs an aggregate; the other six are
    # statically zero for a typed Spark column, so they become constant
    # profile rows instead of ~6 dead aggregate exprs per column.
    bucket = _TYPE_BUCKET[vt]
    talias = ""
    for b in _ALL_TYPE_BUCKETS:
        if b == bucket:
            talias = p.base("types", b, SLOT_N, F.count(c))
        else:
            p.const("types", b, SLOT_N, 0)

    # ---- distribution (reference: metrics.py:217; mean/M2 merge == Chan)
    nv = _numeric_view(col, vt)
    if nv is not None and vt != ValueType.BOOLEAN:
        # One central-moment buffer (var_samp) serves stddev AND m2 as
        # post-agg projections — three separate moment aggregates per
        # column would triple the hottest buffer's per-row cost.
        if vt in (ValueType.INTEGRAL, ValueType.TEMPORAL):
            # the numeric view is a null-preserving cast, so the types
            # bucket's count(c) IS count(nv) — reuse it
            n = F.col(talias)
            p.derived("distribution", "n", SLOT_N, n)
        else:
            n = F.col(p.base("distribution", "n", SLOT_N, F.count(nv)))
        p.base("distribution", "mean", SLOT_D, F.avg(nv))
        var = F.col(p.base("distribution", "_var", SLOT_D, F.var_samp(nv),
                           emit=False))
        # n==1 -> stddev/m2 are 0, not NULL (reference returns variance 0
        # for a single value — metrics.py:357 — and the profile-merge path
        # already does the same; var_samp alone would give NULL)
        single = n == 1
        p.derived("distribution", "stddev", SLOT_D,
                  F.when(single, 0.0).otherwise(F.sqrt(var)))
        p.derived("distribution", "m2", SLOT_D, F.when(single, 0.0).otherwise(
            var * (n - F.lit(1)).cast(T.DoubleType())))
        p.base("distribution", "min", SLOT_D, F.min(nv))
        p.base("distribution", "max", SLOT_D, F.max(nv))
        if cfg.quantile_impl == "native":
            # ONE percentile aggregate; per-quantile components are
            # post-agg projections of the array
            qs = F.col(p.base(
                "distribution", "_q_arr", SLOT_D, F.percentile_approx(
                    nv, F.array(*[F.lit(q) for q in cfg.quantiles]),
                    F.lit(cfg.native_quantile_accuracy)),
                tier="object", emit=False))
            for i, q in enumerate(cfg.quantiles):
                p.derived("distribution", _q_name(q), SLOT_D, qs.getItem(i),
                          tier="object")

    # ---- ints (reference: metrics.py:165)
    if vt == ValueType.INTEGRAL:
        p.base("ints", "min", SLOT_N, F.min(c).cast(T.LongType()))
        p.base("ints", "max", SLOT_N, F.max(c).cast(T.LongType()))

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
            hll = p.base("cardinality", "hll", SLOT_B,
                         F.hll_sketch_agg(sv, F.lit(cfg.hll_lg_k)),
                         tier="object")
            for comp, slot, sql in hll_readouts(hll):
                p.derived("cardinality", comp, slot, F.expr(sql),
                          tier="object")
        else:
            p.base("cardinality", "est", SLOT_D,
                   F.approx_count_distinct(sv).cast(T.DoubleType()))

    # ---- registered custom metrics (reference plug-in surface:
    # @custom_metric/register_metric, metrics.py:60,156) — user-supplied
    # aggregate expressions run in the same codegen pass as built-ins
    from .registry import registered_metrics

    for m in registered_metrics().values():
        if not m.matches(col, vt):
            continue
        for comp in m.components:
            p.base(m.namespace, comp.component, comp.slot, comp.expr(c))

    return p.aggs + sketch_plans(col, vt, cfg, aliases)


#: items a frequent-items summary lists
_FI_TOP = 32


def sketch_plans(col: str, vt: ValueType, cfg: MetricConfig,
                 aliases: "_AliasGen") -> List[PlannedAgg]:
    """The sketch aggregates of one column, object tier, for every
    profile path. Both are Spark's DataSketches aggregates, so their
    bytes are the reference's own formats (io/dsketch.py):

    * KLL of the numeric view of integral, fractional and temporal
      columns (distribution quantiles, reference metrics.py:217):
      ``kll_sketch_agg_double`` at ``effective_kll_k``, each quantile a
      ``kll_sketch_get_quantile_double`` projection. An all-null column
      yields the 8-byte empty sketch, which becomes a null blob with
      null quantiles.
    * frequent items of the string view, truncated to
      ``max_frequent_item_size``, of integral, boolean, string and
      temporal columns (reference metrics.py:444):
      ``approx_top_k_accumulate`` tracking ``fi_capacity`` items. Its
      ``sketch`` field (a frequent-items sketch followed by Spark's
      8-byte null count) is the ``mg`` blob; ``items`` is the JSON top
      of ``approx_top_k_estimate``, which lists only the items whose
      count is certain to beat the sketch's error (no false positives,
      the reference's summary default). An all-null column gets a null
      blob and null items.
    """
    p = _ColumnPlan(col, aliases)
    if cfg.quantile_impl == "kll" and vt in (
            ValueType.INTEGRAL, ValueType.FRACTIONAL, ValueType.TEMPORAL):
        blob = p.base(
            "distribution", "_kll", SLOT_B, F.kll_sketch_agg_double(
                _numeric_view(col, vt), F.lit(cfg.effective_kll_k)),
            tier="object", emit=False)
        for comp, slot, sql in kll_readouts(blob, cfg):
            p.derived("distribution", comp, slot, F.expr(sql),
                      tier="object")
    if cfg.frequent_items_impl == "sketch" and vt in (
            ValueType.INTEGRAL, ValueType.BOOLEAN, ValueType.STRING,
            ValueType.TEMPORAL):
        acc = p.base("frequent_items", "_top_k", SLOT_B, F.call_function(
            "approx_top_k_accumulate",
            F.substring(_string_view(col, vt), 1,
                        cfg.max_frequent_item_size),
            F.lit(cfg.fi_capacity)), tier="object", emit=False)
        for comp, slot, sql in fi_readouts(acc, cfg):
            p.derived("frequent_items", comp, slot, F.expr(sql),
                      tier="object")
    return p.aggs


# The sketch read-outs and merges below are SQL text: one Column built
# in one py4j call, where the Column API spends dozens per byte read.
# A fresh profile and a merge (profiler.merge_profiles) read their
# sketches through the same read-outs, so both render alike.

#: an empty ``approx_top_k`` sketch: the empty frequent-items preamble
#: followed by Spark's 8-byte null count
_FI_EMPTY = "X'01010a08030500000000000000000000'"


def _kll_seen(blob: str) -> str:
    """SQL: whether the KLL sketch ``blob`` holds a value (the empty
    sketch is its 8-byte preamble)."""
    return f"length({blob}) > 8"


def kll_quantile(blob: str, q: float) -> str:
    """SQL: quantile ``q`` of the KLL sketch ``blob``, null when it is
    empty."""
    return (f"CASE WHEN {_kll_seen(blob)} THEN "
            f"kll_sketch_get_quantile_double({blob}, {float(q)!r}D) END")


def kll_readouts(blob: str, cfg: MetricConfig) -> List[tuple]:
    """``(component, slot, SQL)`` of the KLL sketch ``blob``: the blob
    and its ``cfg.quantiles``, all null for the empty sketch."""
    return [("kll", SLOT_B,
             f"CASE WHEN {_kll_seen(blob)} THEN {blob} END")] + [
        (_q_name(q), SLOT_D, kll_quantile(blob, q)) for q in cfg.quantiles]


def fi_readouts(acc: str, cfg: MetricConfig) -> List[tuple]:
    """``(component, slot, SQL)`` of the ``approx_top_k`` state ``acc``:
    its sketch (the ``mg`` blob) and JSON top items, both null until a
    value was seen."""
    # preamble longs: 1 in the empty form, 4 once a value was seen
    seen = f"{_le_uint(acc + '.sketch', 0)} > 1"
    return [("mg", SLOT_B, f"CASE WHEN {seen} THEN {acc}.sketch END"),
            ("items", SLOT_S,
             f"CASE WHEN {seen} THEN {_fi_items(acc, cfg.fi_capacity)} END")]


def hll_readouts(hll: str) -> List[tuple]:
    """``(component, slot, SQL)`` of the HLL sketch ``hll``: estimate and
    the mode-aware two-sigma bounds (:func:`_hll_bounds`).

    A dense sketch's estimate depends on how its partial sketches were
    laid out, not only on the values: 20,000 distinct doubles under
    ``hll_sketch_agg(xxhash64(x), 12)`` read 19,551 from one partition
    and 19,430 from 2, 8 or 32 (probably the single-stream HIP
    estimator against a union's composite one). So the narrow and wide
    profile paths, and unions that meet the same sketches in another
    order, agree on these read-outs within the bounds, not bit for
    bit."""
    return [("est", SLOT_D, f"CAST(hll_sketch_estimate({hll}) AS DOUBLE)"),
            ("lower", SLOT_D, _hll_bounds(hll, 2.0, upper=False)),
            ("upper", SLOT_D, _hll_bounds(hll, 2.0, upper=True))]


def kll_merge(blob: str, cfg: MetricConfig) -> str:
    """SQL aggregate: the KLL union of the group's ``blob`` sketches at
    ``effective_kll_k`` (nulls skipped; the 8-byte empty sketch when
    all are null). A lone sketch comes back unchanged."""
    return f"kll_merge_agg_double({blob}, {cfg.effective_kll_k})"


def fi_merge(blob: str, cfg: MetricConfig) -> str:
    """SQL aggregate: the ``approx_top_k`` state combining the group's
    ``mg`` sketches ``blob`` and tracking ``fi_capacity`` items. The
    combine throws on a null state and on a group that fed it no row,
    so a null blob feeds the empty sketch."""
    state = (f"named_struct('sketch', coalesce({blob}, {_FI_EMPTY}), "
             f"'maxItemsTracked', {cfg.fi_capacity}, 'itemDataType', "
             "CAST(NULL AS STRING), 'itemDataTypeDDL', "
             "'item string not null')")
    return f"approx_top_k_combine({state}, {cfg.fi_capacity})"


def _le_uint(blob: str, start, nbytes: int = 1) -> str:
    """SQL: the unsigned little-endian integer (below 2**63) at bytes
    ``start`` .. ``start + nbytes - 1`` of the binary SQL expression
    ``blob``, read as the hex of its bytes in reverse order; ``start``
    is an int or an INT SQL expression."""
    at = ((lambda i: start + i + 1) if isinstance(start, int)
          else (lambda i: f"{start} + {i + 1}"))
    return "CAST(conv(hex(concat({})), 16, 10) AS BIGINT)".format(", ".join(
        f"substring({blob}, {at(i)}, 1)" for i in reversed(range(nbytes))))


def fi_offset(sketch: str) -> str:
    """SQL: the offset of the frequent-items sketch bytes ``sketch``,
    the undercount any item's stored count may carry (an estimate is
    the stored count plus it): a uint64 at bytes 24-31 of the
    preamble."""
    return _le_uint(sketch, 24, 8)


def fi_top(acc: str, k: int, top: int) -> str:
    """SQL: at most ``top`` items of the ``approx_top_k_accumulate``
    state ``acc``, as ``approx_top_k_estimate``'s ``(item, count)``
    structs sorted by count, then item. ``k`` items are estimated and
    the null one dropped (Spark counts nulls as one more item). The
    estimate lists only the items whose count is certain to beat the
    sketch's offset (no false positives); ``count`` is the stored count
    plus the offset."""
    return (
        f"array_sort(slice(filter(approx_top_k_estimate({acc}, {k}), "
        f"e -> e.item IS NOT NULL), 1, {top}), (x, y) -> CASE WHEN "
        f"x.count > y.count THEN -1 WHEN x.count < y.count THEN 1 "
        f"WHEN x.item < y.item THEN -1 WHEN x.item > y.item THEN 1 "
        f"ELSE 0 END)")


def _fi_items(acc: str, capacity: int) -> str:
    """SQL: the JSON top items of the ``approx_top_k_accumulate`` state
    ``acc``, as ``[{value, est, lower, upper}]`` (:func:`fi_top`).
    ``est`` and ``upper`` are the estimate's count and ``lower`` is the
    count minus the sketch's offset (:func:`fi_offset`)."""
    offset = fi_offset(f"{acc}.sketch")
    top = fi_top(acc, min(_FI_TOP + 1, capacity), _FI_TOP)
    return (
        f"to_json(transform({top}, "
        f"e -> named_struct('value', e.item, 'est', e.count, "
        f"'lower', e.count - {offset}, 'upper', e.count)))")


def _q_name(q: float) -> str:
    if q == 0.5:
        return "median"
    return f"q_{int(round(q * 100)):02d}"


def _hll_bounds(hll: str, num_std: float, upper: bool) -> str:
    """SQL: sketch-derived cardinality bounds from the serialized
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
    mode = f"({_le_uint(hll, 7)} & 3)"
    ooo = f"({_le_uint(hll, 5)} & 16)"
    lgk = _le_uint(hll, 3)
    # coupon-mode collision error over 2^26 slots: bounded by 1e-4
    # for any sketch still in LIST/SET mode
    rse = (f"CASE WHEN {mode} = 2 THEN CASE WHEN {ooo} > 0 THEN 1.03896D "
           f"ELSE 0.8326D END / sqrt(pow(2.0D, CAST({lgk} AS DOUBLE))) "
           f"ELSE 1.0E-4D END")
    sign = -1.0 if upper else 1.0
    return (f"CAST(hll_sketch_estimate({hll}) AS DOUBLE) / "
            f"(1.0D + {sign * num_std!r}D * ({rse}))")


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
) -> List[PlannedAgg]:
    """Plan (and memoize) the aggregates of a schema's profiled columns.

    Each planned component carries its final Columns (aggregate, output
    reference or projection), and every Column costs a py4j round-trip
    — O(1 s) of driver time for a few dozen columns. Spark Columns are
    immutable expression trees, so the planned list is reused whenever
    (schema, column selection, segmentation, config, custom metric
    registry) are identical — which is every micro-batch of a streaming
    profile and every repeat profile of the same table: a job over a
    cached plan builds no Column of its aggregates.
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
    aggs = [a for field in profiled_fields(schema, columns, segment_cols)
            for a in plan_column(field.name, field.dataType, cfg, gen)]
    if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
        _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
    _PLAN_CACHE[key] = aggs
    return aggs
