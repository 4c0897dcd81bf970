"""Wide-frame profiling path: O(1) plan size in the number of columns.

The narrow path plans ~13 aggregate expressions per column; at 1000s of
columns the driver pays O(ms) per expression in py4j construction and
Catalyst analysis, and generated aggregate code blows the JVM's 64 KB
method limit (the reference hits the same wall and batches wide frames at
1024 columns — python/whylogs/api/pyspark/experimental/profiler.py:80-112).

Here the frame is unpivoted per TYPE CLASS — ``posexplode`` a primitive
``array(col, col, ...)`` built from the row — and ONE fixed set of
aggregates runs per class, grouped by ``(segment..., column-id)``:

    scan -> generate(posexplode) -> partial agg by int column id
         -> tiny shuffle -> final agg -> ncols rows collected

Plan size: ~10 expressions per class regardless of width. Per-cell cost
is a hash-probe into an ncols-entry hash table instead of a vectorized
per-column accumulator — a constant-factor tax that buys plan-size
freedom; the crossover favors this path up to ~1M rows x 400 cols and the
narrow path beyond (its plan cost amortizes over data volume). Both emit
byte-identical long-form profile rows.

Unpivot shape matters: an earlier variant exploded
``array(struct(colname_string, views...))``; grouping on the string
column name made every partial-agg update pay a string hash + compare,
and the struct array's generated code is several times the size of a
primitive array's. ``posexplode`` of a flat typed array with an integer
``pos + chunk_offset`` group key measured 1.7x faster end-to-end on a
380-column frame (the id->name mapping is applied driver-side to the
ncols collected rows). Secondary typed views (double view of a long,
"True"/"False" rendering of a bool) are derived AFTER the explode from
the one exact scalar, so the array stays primitive.

Precision note: each class's array carries the EXACT representation its
metrics need (long for integral cardinality / ints min-max, raw double
for fractional NaN accounting) — an int64 above 2^53 must never round
through a double on its way into a distinct-count or min/max.
"""

from __future__ import annotations

from functools import partial
from typing import Dict, Iterable, List, Optional, Tuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .configs import MetricConfig
from .datatypes import ValueType, value_type_of
from .planner import (SketchPlan, _ALL_TYPE_BUCKETS, _TYPE_BUCKET, _q_name,
                      _numeric_view, _string_view, qcol)
from .util import run_concurrent

_CLASSED = (ValueType.INTEGRAL, ValueType.FRACTIONAL, ValueType.BOOLEAN,
            ValueType.STRING, ValueType.TEMPORAL)


def plan_wide_sketches(
    schema: T.StructType,
    columns: Optional[List[str]],
    segment_cols: List[str],
    cfg: MetricConfig,
) -> List[SketchPlan]:
    """The KLL/FI sketch projections (2 exprs/col — unavoidable and cheap;
    the mapInArrow sketch pass is already width-scalable)."""
    out: List[SketchPlan] = []
    i = 0
    for f in schema.fields:
        if f.name in segment_cols:
            continue
        if columns is not None and f.name not in columns:
            continue
        vt = value_type_of(f.dataType)
        if cfg.quantile_impl == "kll" and vt in (
                ValueType.INTEGRAL, ValueType.FRACTIONAL,
                ValueType.TEMPORAL):
            i += 1
            out.append(SketchPlan(f.name, "kll",
                                  _numeric_view(f.name, vt), f"__wk{i}"))
        if cfg.frequent_items_impl == "sketch" and vt in (
                ValueType.INTEGRAL, ValueType.BOOLEAN, ValueType.STRING,
                ValueType.TEMPORAL):
            i += 1
            out.append(SketchPlan(f.name, "fi",
                                  _string_view(f.name, vt), f"__wf{i}"))
    return out


def _class_scalar(col: str, vt: ValueType) -> Column:
    """The ONE exact scalar stacked into the class's primitive array."""
    c = qcol(col)
    if vt in (ValueType.INTEGRAL, ValueType.BOOLEAN):
        return c.cast(T.LongType())
    if vt == ValueType.TEMPORAL:
        return F.unix_millis(c.cast(T.TimestampType()))
    if vt == ValueType.FRACTIONAL:
        # raw double: NaN stays (counted as nan AND excluded from metrics
        # inside the aggregates); null stays null
        return c.cast(T.DoubleType())
    # STRING
    return c.cast(T.StringType())


def _class_views(vt: ValueType) -> List[Column]:
    """Post-explode typed views (v double / l long / s string) derived
    from the exploded scalar ``val`` — matching what the narrow path's
    _numeric_view/_string_view would have produced per column."""
    val = F.col("val")
    if vt == ValueType.FRACTIONAL:
        return [val.alias("v")]
    if vt in (ValueType.INTEGRAL, ValueType.TEMPORAL):
        return [val.cast(T.DoubleType()).alias("v"), val.alias("l")]
    if vt == ValueType.BOOLEAN:
        # "True"/"False" to match _string_view's reference str() folding
        return [val.alias("l"),
                F.when(val.isNull(), F.lit(None).cast(T.StringType()))
                .when(val == 1, "True").otherwise("False").alias("s")]
    return [val.alias("s")]


def _class_aggs(vt: ValueType, cfg: MetricConfig) -> List[Column]:
    """Fixed aggregate set for one type class over the exploded kv rows."""
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if vt == ValueType.FRACTIONAL:
        v = F.col("v")
        vv = F.when(~F.isnan(v), v)  # metrics view: NaN out, ±Inf in
        aggs += [
            F.coalesce(F.sum(v.isNull().cast("long")), F.lit(0))
            .alias("nullc"),
            F.coalesce(F.sum(F.isnan(v).cast("long")), F.lit(0))
            .alias("nanc"),
            F.coalesce(F.sum((F.abs(vv) == float("inf")).cast("long")),
                       F.lit(0)).alias("infc"),
            F.count(v).alias("nonnull"),   # types bucket: NaN included
            F.count(vv).alias("nn"),
            F.avg(vv).alias("mean"), F.var_samp(vv).alias("var"),
            F.min(vv).alias("mn"), F.max(vv).alias("mx"),
        ]
        card_in = F.when(vv.isNotNull(), F.xxhash64(vv))
        qv = vv
    elif vt in (ValueType.INTEGRAL, ValueType.TEMPORAL):
        v, l = F.col("v"), F.col("l")
        aggs += [
            F.coalesce(F.sum(l.isNull().cast("long")), F.lit(0))
            .alias("nullc"),
            F.count(l).alias("nonnull"),
            F.avg(v).alias("mean"), F.var_samp(v).alias("var"),
            F.min(v).alias("mn"), F.max(v).alias("mx"),
            F.min(l).alias("lmn"), F.max(l).alias("lmx"),
        ]
        card_in = l
        qv = v
    elif vt == ValueType.BOOLEAN:
        l = F.col("l")
        aggs += [
            F.coalesce(F.sum(l.isNull().cast("long")), F.lit(0))
            .alias("nullc"),
            F.count(l).alias("nonnull"),
            F.coalesce(F.sum(l), F.lit(0)).alias("truec"),
        ]
        card_in = F.col("s")
        qv = None
    else:  # STRING
        s = F.col("s")
        aggs += [
            F.coalesce(F.sum(s.isNull().cast("long")), F.lit(0))
            .alias("nullc"),
            F.count(s).alias("nonnull"),
        ]
        card_in = s
        qv = None

    if cfg.cardinality_impl == "hll":
        aggs.append(F.hll_sketch_agg(card_in, F.lit(cfg.hll_lg_k))
                    .alias("hll"))  # estimate is a post-agg projection
    else:
        aggs.append(F.approx_count_distinct(card_in)
                    .cast(T.DoubleType()).alias("est"))

    if qv is not None and cfg.quantile_impl == "native":
        aggs.append(F.percentile_approx(
            qv, F.array(*[F.lit(q) for q in cfg.quantiles]),
            F.lit(cfg.native_quantile_accuracy)).alias("qarr"))
    return aggs


def wide_native_rows(
    df: DataFrame,
    columns: Optional[List[str]],
    segment_cols: List[str],
    cfg: MetricConfig,
    collect_limit: int = 200_000,
) -> pa.Table:
    """Run the per-class unpivoted aggregations; return the long-form
    profile rows (segment, column, metric, component, n, d, s, b) as a
    local Arrow table."""
    from .profiler import (  # lazy: avoid import cycle
        _NULL_SENTINEL, _profile_table, _segment_json_py,
    )

    fields: List[Tuple[str, ValueType]] = []
    for f in df.schema.fields:
        if f.name in segment_cols:
            continue
        if columns is not None and f.name not in columns:
            continue
        fields.append((f.name, value_type_of(f.dataType)))

    by_class: Dict[ValueType, List[str]] = {}
    presence_only: List[str] = []  # tensor/object: counts+types only
    for name, vt in fields:
        if vt in _CLASSED:
            by_class.setdefault(vt, []).append(name)
        else:
            presence_only.append(name)

    # cast JVM-side so the python-built segment JSON only ever sees
    # Spark-rendered strings ("true", "1.0E-7"), byte-identical to the
    # narrow path's _segment_json_col and the sketch pass (_sketch_long)
    seg_sel = [F.coalesce(qcol(s).cast("string"), F.lit(_NULL_SENTINEL))
               .alias(f"__s_{i}")
               for i, s in enumerate(segment_cols)]
    seg_names = [f"__s_{i}" for i in range(len(segment_cols))]

    # Chunk the posexplode array: a single CreateArray of hundreds of
    # elements is ONE generated expression, and past a few hundred
    # columns its code blows the JVM's 64KB method limit ("Code grows
    # beyond 64 KB") — whole-stage codegen then silently falls back to
    # interpreted evaluation for the entire rows x width stage.
    # Exploding <=64-element chunks and UNIONing keeps every branch
    # codegen'd; each branch's scan prunes to its own disjoint column
    # subset, so total I/O equals one full read no matter the chunk
    # count, and the single groupBy above the union still
    # partial-aggregates per branch before the one tiny cid shuffle.
    _CHUNK = 64

    def _stack_union(cols, scalar_of, views):
        # posexplode -> (pos, val); cid = pos + chunk offset is the
        # global integer column id (per class)
        parts = [
            df.select(
                *seg_sel,
                F.posexplode(F.array(
                    *[scalar_of(c) for c in cols[i:i + _CHUNK]]))
                .alias("pos", "val"))
            .select(*seg_names,
                    (F.col("pos") + F.lit(i)).alias("cid"), *views)
            for i in range(0, len(cols), _CHUNK)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def run_class(item):
        vt, cols = item
        stacked = _stack_union(
            cols, lambda c: _class_scalar(c, vt), _class_views(vt))
        agg = (stacked.groupBy(*seg_names, "cid")
               .agg(*_class_aggs(vt, cfg)))
        if cfg.cardinality_impl == "hll":
            from .planner import _hll_bounds

            agg = agg.select(
                F.col("*"),
                F.hll_sketch_estimate(F.col("hll"))
                .cast(T.DoubleType()).alias("est"),
                # mode-aware sketch bounds, identical to the narrow path
                _hll_bounds(2.0, upper=False)(F.col("hll"))
                .alias("lowerb"),
                _hll_bounds(2.0, upper=True)(F.col("hll"))
                .alias("upperb"))
        rows = agg.limit(collect_limit + 1).collect()
        if len(rows) > collect_limit:
            raise ValueError(
                "wide profile: segment x column row count exceeds "
                f"{collect_limit}; reduce segmentation cardinality")
        return vt, cols, rows

    def run_presence(cols):
        stacked = _stack_union(
            cols,
            lambda c: qcol(c).isNotNull().cast("long"),
            [F.col("val").alias("p")])
        agg = (stacked.groupBy(*seg_names, "cid")
               .agg(F.count(F.lit(1)).alias("cnt"),
                    F.coalesce(F.sum("p"), F.lit(0)).alias("nonnull")))
        return None, cols, agg.limit(collect_limit + 1).collect()

    thunks = [partial(run_class, item) for item in by_class.items()]
    if presence_only:
        thunks.append(partial(run_presence, presence_only))
    results = run_concurrent(df.sparkSession, thunks)

    vt_of = dict(fields)
    out: List[tuple] = []

    def emit(seg, col, metric, comp, n=None, d=None, s=None, b=None):
        out.append((seg, col, metric, comp, n, d, s, b))

    for vt, class_cols, rows in results:
        for r in rows:
            rd = r.asDict()
            col = class_cols[rd["cid"]]
            seg = _segment_json_py(
                segment_cols, [rd[sn] for sn in seg_names])
            real_vt = vt_of[col]
            cnt = int(rd["cnt"])
            nonnull = int(rd["nonnull"] or 0)
            emit(seg, col, "counts", "n", n=cnt)
            emit(seg, col, "counts", "null", n=int(rd.get("nullc",
                                                          cnt - nonnull)))
            if real_vt == ValueType.FRACTIONAL:
                emit(seg, col, "counts", "nan", n=int(rd["nanc"]))
                emit(seg, col, "counts", "inf", n=int(rd["infc"]))
            if real_vt == ValueType.BOOLEAN:
                emit(seg, col, "counts", "true", n=int(rd["truec"]))
            bucket = _TYPE_BUCKET[real_vt]
            for b_ in _ALL_TYPE_BUCKETS:
                emit(seg, col, "types", b_,
                     n=nonnull if b_ == bucket else 0)
            if vt is None:  # presence-only job (tensor/object)
                continue

            def fd(x):
                return None if x is None else float(x)

            if real_vt in (ValueType.INTEGRAL, ValueType.FRACTIONAL,
                           ValueType.TEMPORAL):
                nn = int(rd["nn"]) if "nn" in rd else nonnull
                var = rd["var"]
                emit(seg, col, "distribution", "n", n=nn)
                emit(seg, col, "distribution", "mean", d=fd(rd["mean"]))
                # n==1 -> 0, not NULL (matches the narrow path's
                # when(n==1, 0).otherwise(sqrt(var)) derivation)
                emit(seg, col, "distribution", "stddev",
                     d=0.0 if nn == 1 else
                     (None if var is None else float(var) ** 0.5))
                emit(seg, col, "distribution", "m2",
                     d=0.0 if nn == 1 else
                     (None if var is None else float(var) * (nn - 1)))
                emit(seg, col, "distribution", "min", d=fd(rd["mn"]))
                emit(seg, col, "distribution", "max", d=fd(rd["mx"]))
                if cfg.quantile_impl == "native":
                    qarr = rd.get("qarr")
                    for i, q in enumerate(cfg.quantiles):
                        emit(seg, col, "distribution", _q_name(q),
                             d=fd(qarr[i]) if qarr is not None else None)
            if real_vt == ValueType.INTEGRAL:
                emit(seg, col, "ints", "min",
                     n=None if rd["lmn"] is None else int(rd["lmn"]))
                emit(seg, col, "ints", "max",
                     n=None if rd["lmx"] is None else int(rd["lmx"]))
            if cfg.cardinality_impl == "hll":
                est = fd(rd["est"])
                emit(seg, col, "cardinality", "hll",
                     b=bytes(rd["hll"]) if rd["hll"] is not None else None)
                emit(seg, col, "cardinality", "est", d=est)
                emit(seg, col, "cardinality", "lower", d=fd(rd["lowerb"]))
                emit(seg, col, "cardinality", "upper", d=fd(rd["upperb"]))
            else:
                emit(seg, col, "cardinality", "est", d=fd(rd["est"]))
    return _profile_table(out)
