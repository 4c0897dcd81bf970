"""Wide-frame profiling path: O(1) plan size in the number of columns.

The narrow path plans ~13 aggregate expressions per column; at 1000s of
columns the driver pays O(ms) per expression in py4j construction and
Catalyst analysis, and generated aggregate code blows the JVM's 64 KB
method limit (the reference hits the same wall and batches wide frames at
1024 columns — python/whylogs/api/pyspark/experimental/profiler.py:80-112).

Here the frame is unpivoted per TYPE CLASS — ``posexplode`` a primitive
``array(col, col, ...)`` built from the row — and the planner's metric
program for ONE column of that class runs over the exploded ``val``,
grouped by ``(segment..., cid)``:

    scan -> generate(posexplode) -> partial agg by int column id
         -> tiny shuffle -> final agg -> ncols rows collected

Plan size: one column's aggregates per class regardless of width.
Per-cell cost is a hash-probe into an ncols-entry hash table instead of
a vectorized per-column accumulator — a constant-factor tax that buys
plan-size freedom; the crossover favors this path up to ~1M rows x 400
cols and the narrow path beyond (its plan cost amortizes over data
volume). The aggregates, their derived components and the reshape into
long-form rows are the narrow path's own (``plan_dataframe``,
``_native_frame``, ``_long_form``), so both paths emit the same rows.

Unpivot shape matters: an earlier variant exploded
``array(struct(colname_string, views...))``; grouping on the string
column name made every partial-agg update pay a string hash + compare,
and the struct array's generated code is several times the size of a
primitive array's. ``posexplode`` of a flat typed array with an integer
``cid = pos + chunk offset`` group key measured 1.7x faster end-to-end on
a 380-column frame; the cid -> name mapping is applied to the collected
rows (or, past the collect limit, by a literal array JVM-side). The
segment JSON is likewise rendered after the aggregate, never per
exploded cell.

Precision note: each class's array carries the EXACT representation its
metrics need (long for integral cardinality / ints min-max, raw double
for fractional NaN accounting) — an int64 above 2^53 must never round
through a double on its way into a distinct-count or min/max.
"""

from __future__ import annotations

from functools import partial, reduce
from typing import Dict, List, Optional, Tuple, Union

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .configs import MetricConfig
from .datatypes import ValueType, value_type_of
from .planner import PlannedAgg, plan_dataframe, profiled_fields, qcol
from .profiler import (_Job, _collect, _long_form, _native_frame,
                       _segment_json_col)
from .util import run_concurrent

#: each type class's ``val`` type: the array element its columns are cast
#: to, and the one-column schema its aggregates are planned on. Tensor
#: and object columns only count presence, so their arrays hold
#: ``true``/null; array and binary stand for them in the plan.
_CLASS_TYPE = {
    ValueType.INTEGRAL: T.LongType(),
    ValueType.FRACTIONAL: T.DoubleType(),
    ValueType.BOOLEAN: T.BooleanType(),
    ValueType.STRING: T.StringType(),
    ValueType.TEMPORAL: T.TimestampType(),
    ValueType.TENSOR: T.ArrayType(T.DoubleType()),
    ValueType.OBJECT: T.BinaryType(),
}

# A single CreateArray of hundreds of elements is ONE generated
# expression, and past a few hundred columns its code blows the JVM's
# 64 KB method limit ("Code grows beyond 64 KB") — whole-stage codegen
# then silently falls back to interpreted evaluation for the entire rows
# x width stage. Exploding <=64-element chunks and UNIONing keeps every
# branch codegen'd; each branch's scan prunes to its own disjoint column
# subset, so total I/O equals one full read no matter the chunk count,
# and the single groupBy above the union still partial-aggregates per
# branch before the one tiny cid shuffle.
_CHUNK = 64


def plan_wide_sketches(
    schema: T.StructType,
    columns: Optional[List[str]],
    segment_cols: List[str],
    cfg: MetricConfig,
) -> Dict[ValueType, Tuple[List[str], List[PlannedAgg]]]:
    """The wide path's plan: each type class's profiled columns, and the
    planner's aggregates (sketches included) for one ``val`` column of
    the class's element type — memoized by ``plan_dataframe``, so the
    plan of a class costs its Columns once."""
    by_class: Dict[ValueType, List[str]] = {}
    for f in profiled_fields(schema, columns, segment_cols):
        by_class.setdefault(value_type_of(f.dataType), []).append(f.name)
    return {vt: (cols, plan_dataframe(
        T.StructType([T.StructField("val", _CLASS_TYPE[vt])]), None, [],
        cfg)) for vt, cols in by_class.items()}


def class_frame(df: DataFrame, vt: ValueType, cols: List[str],
                segment_cols: List[str],
                aggs: List[PlannedAgg]) -> DataFrame:
    """One type class's aggregate frame: ``cols`` stacked into
    ``(segment..., cid, val)`` rows, grouped by segment and ``cid``,
    keyed by ``__segment`` and ``cid``, over the class's ``aggs``."""
    if vt in (ValueType.TENSOR, ValueType.OBJECT):
        def element(c):
            return F.when(qcol(c).isNotNull(), True)
    else:
        def element(c):
            return qcol(c).cast(_CLASS_TYPE[vt])
    seg = [f"__s_{i}" for i in range(len(segment_cols))]
    seg_sel = [qcol(s).alias(a) for s, a in zip(segment_cols, seg)]
    stacked = reduce(DataFrame.unionByName, [
        df.select(*seg_sel, F.posexplode(F.array(
            *[element(c) for c in cols[i:i + _CHUNK]])).alias("pos", "val"))
        .select(*seg, (F.col("pos") + F.lit(i)).alias("cid"), "val")
        for i in range(0, len(cols), _CHUNK)])
    keys = [_segment_json_col(segment_cols, seg).alias("__segment"),
            F.col("cid")]
    return _native_frame(stacked.groupBy(*seg, "cid"), aggs, keys)


def wide_native_rows(
    df: DataFrame,
    columns: Optional[List[str]],
    segment_cols: List[str],
    cfg: MetricConfig,
) -> Union[pa.Table, DataFrame]:
    """The wide path's ``profile()`` rows: one job per type class,
    reshaped like the narrow path's (a local Arrow table, or a lazy
    frame past ``_SEGMENT_COLLECT_LIMIT`` segments)."""
    def job(vt, cols, aggs):
        frame = class_frame(df, vt, cols, segment_cols, aggs)
        return _Job(aggs, frame, _collect(frame, len(cols)), cols)

    return _long_form(run_concurrent(df.sparkSession, [
        partial(job, vt, cols, aggs) for vt, (cols, aggs) in
        plan_wide_sketches(df.schema, columns, segment_cols, cfg).items()]))
