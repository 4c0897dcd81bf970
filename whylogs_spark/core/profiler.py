"""Dataset profiling as native Spark aggregation.

This is the replacement for the reference's entire write path
(``why.log`` -> DatasetProfile.track -> per-metric columnar_update,
reference: python/whylogs/api/logger/__init__.py:42,
python/whylogs/core/dataset_profile.py:107) and for its Spark integration
(python/whylogs/api/pyspark/experimental/profiler.py:122).

Execution shape (designed for 100 TB, not 60k rows):

1. NATIVE PASS — one ``df.groupBy(segments).agg(*exprs)``: all exact
   counters, min/max, mean/M2, and DataSketches HLL run JVM-side with
   whole-stage codegen + map-side partial aggregation. Output is
   #segments rows regardless of input size.
2. SKETCH PASS (only for KLL quantiles / frequent-items, which Spark has
   no built-in mergeable equivalent for) — ``mapInArrow`` builds ONE
   sketch per (partition x segment x column), so the only shuffled data
   is a few KB of sketch bytes per partition, then a tiny
   ``groupBy(...).applyInPandas`` union. This mirrors the reference's
   partial+merge design (profiler.py:70-73) but never shuffles raw rows.

The result is a LONG-FORM PROFILE DataFrame — profiles are data, not
opaque blobs (contrast with the reference's protobuf binary,
python/whylogs/core/view/dataset_profile_view.py:264):

    segment  STRING  (JSON object of segment key -> value, '{}' if none)
    column   STRING
    metric   STRING
    component STRING
    n        LONG    (integer-valued components)
    d        DOUBLE  (real-valued components)
    s        STRING  (JSON/string components)
    b        BINARY  (sketch bytes: HLL / KLL / FI)

Merging profiles (the monoid ⊕, reference
dataset_profile_view.py:172) is a small grouped aggregation over this
table — see ``merge_profiles``.
"""

from __future__ import annotations

import json
from typing import Dict, Iterable, Iterator, List, Optional

import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .configs import DEFAULT_CONFIG, MetricConfig
from .planner import (
    SLOT_B, SLOT_D, SLOT_N, SLOT_S, PlannedAgg, SketchPlan, _q_name,
    plan_dataframe,
)
from .sketches import (FrequentStringsSketch, KllSketch, merge_fi_blobs,
                       merge_kll_blobs)
from .util import cut_derived_lineage as _cut_derived_lineage
from .util import ensure_parallelism as _ensure_parallelism

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("segment", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("metric", T.StringType()),
        T.StructField("component", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BinaryType()),
    ]
)

_NULL_SENTINEL = "None"  # segment key for null values (reference uses the
# pandas groupby NaN-safe path, segment_processing.py:77-88)


def _segment_json_col(segment_cols: List[str]) -> Column:
    """JSON segment key built JVM-side; python side must build identically."""
    pairs = []
    for s in segment_cols:
        pairs.append(F.lit(s))
        pairs.append(
            F.coalesce(F.col(s).cast(T.StringType()), F.lit(_NULL_SENTINEL))
        )
    if not pairs:
        return F.lit("{}")
    return F.to_json(F.map_from_arrays(
        F.array(*pairs[0::2]), F.array(*pairs[1::2])))


def _segment_json_py(keys: List[str], values: Iterable) -> str:
    d = {
        k: (_NULL_SENTINEL if v is None or (isinstance(v, float) and v != v)
            else str(v))
        for k, v in zip(keys, values)
    }
    return json.dumps(d, separators=(",", ":"), ensure_ascii=False)




# --------------------------------------------------------------------- native
def _long_structs(aggs: List[PlannedAgg]) -> List[Column]:
    """One struct literal per emitted component, typed-slot aligned.

    A component's value is its agg alias, or ``derive(col(derive_from))``
    for post-agg projections (hll estimate/bounds, quantile array items).
    """

    def null_slot(slot: str) -> Column:
        dt = {SLOT_N: T.LongType(), SLOT_D: T.DoubleType(),
              SLOT_S: T.StringType(), SLOT_B: T.BinaryType()}[slot]
        return F.lit(None).cast(dt)

    structs = []
    for a in aggs:
        if not a.emit:
            continue
        if a.const is not None:
            value = F.lit(a.const)
        elif a.derive is not None:
            value = a.derive(F.col(a.derive_from))
        else:
            value = F.col(a.alias)
        fields = [
            F.lit(a.column).alias("column"),
            F.lit(a.metric).alias("metric"),
            F.lit(a.component).alias("component"),
        ]
        for slot, dt in ((SLOT_N, T.LongType()), (SLOT_D, T.DoubleType()),
                         (SLOT_S, T.StringType()), (SLOT_B, T.BinaryType())):
            if slot == a.slot:
                fields.append(value.cast(dt).alias(slot))
            else:
                fields.append(null_slot(slot).alias(slot))
        structs.append(F.struct(*fields))
    return structs



def _local_profile_df(spark, rows):
    """Bounded driver-built long-form profile rows -> DataFrame in ONE
    slice per ~20k rows instead of one per core: a profile is a few
    hundred KB, and spreading it over 32 near-empty partitions made
    every downstream materialization (store writes, unions, collects)
    pay ~0.3 s of per-task overhead per empty slice (r13, measured on
    the store_quantile_series row)."""
    n = max(1, -(-len(rows) // 20_000))
    sc = spark.sparkContext
    return spark.createDataFrame(
        sc.parallelize(rows, numSlices=n), PROFILE_SCHEMA)

def _native_long_one_tier(
    df: DataFrame, aggs: List[PlannedAgg], segment_cols: List[str]
) -> DataFrame:
    if aggs and aggs[0].tier == "object":
        # interpreted ObjectHashAggregate: make sure the partial-agg stage
        # actually has cores to run on (codegen'd declarative aggs chew
        # through a single unsplittable local file faster than the
        # round-robin shuffle that would parallelize them)
        df = _ensure_parallelism(df)
    exprs = [a.expr.alias(a.alias) for a in aggs if a.expr is not None]
    if segment_cols:
        wide = df.groupBy(*segment_cols).agg(*exprs)
    else:
        wide = df.agg(*exprs)
    seg = _segment_json_col(segment_cols).alias("segment")
    structs = _long_structs(aggs)
    return wide.select(
        seg, F.explode(F.array(*structs)).alias("r")
    ).select("segment", "r.*")


def _native_long(
    df: DataFrame, aggs: List[PlannedAgg], segment_cols: List[str]
) -> DataFrame:
    """Run the codegen tier and the object tier as SEPARATE aggregation
    passes and union the long outputs.

    Rationale: one TypedImperative aggregate (hll_sketch_agg,
    percentile_approx) in an Aggregate node downgrades the whole node to
    interpreted ObjectHashAggregateExec. Two passes keep ~75% of the
    expressions in whole-stage codegen; the extra column-pruned parquet
    scan is far cheaper than losing codegen on everything.
    """
    tiers: Dict[str, List[PlannedAgg]] = {}
    for a in aggs:
        tiers.setdefault(a.tier, []).append(a)
    parts = [
        _native_long_one_tier(df, tier_aggs, segment_cols)
        for _, tier_aggs in sorted(tiers.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_SEGMENT_COLLECT_LIMIT = 20_000


def _segmented_native_long(
    df: DataFrame, aggs: List[PlannedAgg], segment_cols: List[str]
) -> DataFrame:
    """Segmented profiles: if the number of segments is modest (it
    almost always is — the reference caps segmentation at 10 partitions
    and warns on high-cardinality keys), collect the wide per-segment agg
    rows and reshape driver-side, avoiding the O(seconds) plan-compile of
    the 1000+-expression explode projection. Past the limit, fall back to
    the fully-distributed explode path.
    """
    from concurrent.futures import ThreadPoolExecutor

    spark = df.sparkSession
    tiers: Dict[str, List[PlannedAgg]] = {}
    for a in aggs:
        tiers.setdefault(a.tier, []).append(a)

    def run_tier(item):
        tier, tier_aggs = item
        base = [a for a in tier_aggs if a.expr is not None]
        src = _ensure_parallelism(df) if tier == "object" else df
        wide = src.groupBy(*segment_cols).agg(
            *[a.expr.alias(a.alias) for a in base])
        derived = [a for a in tier_aggs if a.derive is not None]
        seg = _segment_json_col(segment_cols).alias("__segment")
        sel = [seg] + [F.col(a.alias) for a in base if a.emit] + [
            a.derive(F.col(a.derive_from)).alias(a.alias) for a in derived
        ]
        rows = wide.select(*sel).limit(_SEGMENT_COLLECT_LIMIT + 1).collect()
        return tier_aggs, rows

    with ThreadPoolExecutor(max_workers=max(len(tiers), 1)) as pool:
        results = list(pool.map(run_tier, sorted(tiers.items())))

    if any(len(rows) > _SEGMENT_COLLECT_LIMIT for _, rows in results):
        return _native_long(df, aggs, segment_cols)  # distributed fallback

    out_rows: List[tuple] = []
    for tier_aggs, rows in results:
        for row in rows:
            rd = row.asDict()
            seg = rd["__segment"]
            for a in tier_aggs:
                if not a.emit:
                    continue
                v = a.const if a.const is not None else rd.get(a.alias)
                slots = {"n": None, "d": None, "s": None, "b": None}
                if v is not None:
                    if a.slot == SLOT_N:
                        v = int(v)
                    elif a.slot == SLOT_D:
                        v = float(v)
                    elif a.slot == SLOT_B:
                        v = bytes(v)
                    slots[a.slot] = v
                out_rows.append((
                    seg, a.column, a.metric, a.component,
                    slots["n"], slots["d"], slots["s"], slots["b"],
                ))
    return _local_profile_df(spark, out_rows)


def _native_long_collected(
    df: DataFrame, aggs: List[PlannedAgg]
) -> DataFrame:
    """Unsegmented fast path: aggregate wide, collect the single row,
    reshape driver-side.

    The explode-to-long projection used for segmented profiles costs
    seconds of Catalyst/codegen time for ~1200 expressions operating on
    ONE row; a flat select + driver reshape is plan-size O(#aggs) and the
    collected payload is a few KB of profile components.
    """
    from concurrent.futures import ThreadPoolExecutor

    spark = df.sparkSession
    tiers: Dict[str, List[PlannedAgg]] = {}
    for a in aggs:
        tiers.setdefault(a.tier, []).append(a)

    # Chunk each tier by source column (a derived agg always lives with
    # its derive_from base, which the planner emits for the same column).
    # Each chunk is an independent Spark job, so Catalyst analysis +
    # whole-stage-codegen compile — the dominant cost for a 200-agg plan
    # over ONE local file — happens in parallel threads. Column pruning
    # keeps each chunk's parquet scan narrow.
    work: List[tuple] = []
    for tier, tier_aggs in sorted(tiers.items()):
        by_col: Dict[str, List[PlannedAgg]] = {}
        for a in tier_aggs:
            by_col.setdefault(a.column, []).append(a)
        cols = list(by_col)
        # ≥6 columns per chunk, but never more than ~8 chunks per tier:
        # each chunk is a Spark job, and for very wide frames per-job
        # overhead would dominate (400 cols at 6/chunk = 67 jobs/tier).
        # ~8 keeps the thread pool busy while bounding both job count and
        # the per-job codegen unit size.
        chunk_cols = max(6, -(-len(cols) // 8))
        for i in range(0, len(cols), chunk_cols):
            chunk = [a for c in cols[i:i + chunk_cols] for a in by_col[c]]
            work.append((tier, chunk))

    def run_chunk(item):
        tier, tier_aggs = item
        base = [a for a in tier_aggs if a.expr is not None]
        src = _ensure_parallelism(df) if tier == "object" else df
        wide = src.agg(*[a.expr.alias(a.alias) for a in base])
        derived = [a for a in tier_aggs if a.derive is not None]
        sel = [F.col(a.alias) for a in base if a.emit] + [
            a.derive(F.col(a.derive_from)).alias(a.alias) for a in derived
        ]
        return tier_aggs, wide.select(*sel).collect()[0].asDict()

    out_rows: List[tuple] = []
    with ThreadPoolExecutor(max_workers=max(min(len(work), 8), 1)) as pool:
        for tier_aggs, row in pool.map(run_chunk, work):
            for a in tier_aggs:
                if not a.emit:
                    continue
                v = a.const if a.const is not None else row.get(a.alias)
                slots = {"n": None, "d": None, "s": None, "b": None}
                if v is not None:
                    if a.slot == SLOT_N:
                        v = int(v)
                    elif a.slot == SLOT_D:
                        v = float(v)
                    elif a.slot == SLOT_B:
                        v = bytes(v)
                    slots[a.slot] = v
                out_rows.append((
                    "{}", a.column, a.metric, a.component,
                    slots["n"], slots["d"], slots["s"], slots["b"],
                ))
    return _local_profile_df(spark, out_rows)


# --------------------------------------------------------------------- sketch
def _sketch_long(
    df: DataFrame,
    sketches: List[SketchPlan],
    segment_cols: List[str],
    cfg: MetricConfig,
) -> DataFrame:
    """mapInArrow partial sketches -> tiny shuffle -> merged sketch rows."""
    seg_exprs = [
        F.coalesce(F.col(s).cast(T.StringType()), F.lit(_NULL_SENTINEL))
        .alias(f"__seg__{s}")
        for s in segment_cols
    ]
    proj = _ensure_parallelism(
        df.select(*seg_exprs, *[p.expr.alias(p.alias) for p in sketches]))

    seg_names = [f"__seg__{s}" for s in segment_cols]
    seg_keys = list(segment_cols)
    plans = [(p.alias, p.column, p.kind) for p in sketches]
    kll_k = cfg.effective_kll_k
    fi_cap = cfg.fi_capacity
    fi_maxlen = cfg.max_frequent_item_size

    out_schema = T.StructType(
        [
            T.StructField("segment", T.StringType()),
            T.StructField("column", T.StringType()),
            T.StructField("metric", T.StringType()),
            T.StructField("component", T.StringType()),
            T.StructField("b", T.BinaryType()),
        ]
    )
    out_pa = pa.schema(
        [
            ("segment", pa.string()),
            ("column", pa.string()),
            ("metric", pa.string()),
            ("component", pa.string()),
            ("b", pa.binary()),
        ]
    )

    def sketch_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        # state: (segment_json, alias) -> sketch
        state: Dict[tuple, object] = {}
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            pdf = tbl.to_pandas()
            if seg_names:
                groups = pdf.groupby(seg_names, dropna=False, sort=False)
            else:
                groups = [((), pdf)]
            for key, g in groups:
                if seg_names:
                    if not isinstance(key, tuple):
                        key = (key,)
                    seg = _segment_json_py(seg_keys, key)
                else:
                    seg = "{}"
                for alias, colname, kind in plans:
                    sk = state.get((seg, alias))
                    if kind == "kll":
                        vals = g[alias].to_numpy(dtype="float64", na_value=np.nan)
                        vals = vals[~np.isnan(vals)]
                        if vals.size == 0:
                            continue
                        if sk is None:
                            sk = KllSketch(kll_k)
                            state[(seg, alias)] = sk
                        sk.update_batch(vals)
                    else:
                        vals = g[alias].dropna()
                        if len(vals) == 0:
                            continue
                        if sk is None:
                            sk = FrequentStringsSketch(fi_cap, fi_maxlen)
                            state[(seg, alias)] = sk
                        sk.update_batch(vals)
        if state:
            alias_meta = {a: (c, k) for a, c, k in plans}
            rows = {"segment": [], "column": [], "metric": [],
                    "component": [], "b": []}
            for (seg, alias), sk in state.items():
                colname, kind = alias_meta[alias]
                rows["segment"].append(seg)
                rows["column"].append(colname)
                rows["metric"].append(
                    "distribution" if kind == "kll" else "frequent_items")
                rows["component"].append("kll" if kind == "kll" else "mg")
                rows["b"].append(sk.serialize())
            yield pa.RecordBatch.from_pydict(rows, schema=out_pa)

    partial = proj.mapInArrow(sketch_partition, out_schema)

    quantiles = list(cfg.quantiles)
    fi_topk = 32

    merged_schema = PROFILE_SCHEMA

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = pdf["segment"].iloc[0]
        colname = pdf["column"].iloc[0]
        metric = pdf["metric"].iloc[0]
        component = pdf["component"].iloc[0]
        out = []
        if component == "kll":
            sk = merge_kll_blobs(pdf["b"], kll_k)
            out.append((seg, colname, metric, "kll", None, None, None,
                        sk.serialize()))
            for q, v in zip(quantiles, sk.quantiles(quantiles)):
                out.append((seg, colname, metric, _q_name(q), None,
                            float(v), None, None))
        else:
            sk = merge_fi_blobs(pdf["b"], fi_cap, fi_maxlen)
            out.append((seg, colname, metric, "mg", None, None, None,
                        sk.serialize()))
            items = [
                {"value": v, "est": e, "lower": lo, "upper": hi}
                for v, e, lo, hi in sk.top_k(fi_topk)
            ]
            out.append((seg, colname, metric, "items", None, None,
                        json.dumps(items, ensure_ascii=False), None))
        return pd.DataFrame(
            out,
            columns=["segment", "column", "metric", "component",
                     "n", "d", "s", "b"],
        )

    return partial.groupBy("segment", "column", "metric", "component").applyInPandas(
        merge_group, merged_schema
    )


# -------------------------------------------------------------------- profile
def profile(
    df: DataFrame,
    segment_by: Optional[List[str]] = None,
    columns: Optional[List[str]] = None,
    config: MetricConfig = DEFAULT_CONFIG,
    segment_filter: Optional[str] = None,
    segment_key_values: Optional[Dict[str, str]] = None,
    dataset_timestamp=None,
    metadata: Optional[Dict[str, str]] = None,
) -> "ProfileView":
    """Profile a DataFrame -> ProfileView (lazy long-form profile).

    Equivalent of ``why.log(df)`` (+ segmentation when ``segment_by`` is
    given, reference: python/whylogs/api/logger/segment_processing.py:157).
    ``segment_filter`` is the SegmentFilter equivalent
    (segmentation_partition.py:42): a SQL predicate string applied before
    profiling — Spark SQL is a superset of the reference's pandas
    ``query()`` strings, and Catalyst pushes it into the scan.
    """
    if segment_filter:
        df = df.filter(segment_filter)
    segment_cols = list(segment_by or [])
    if segment_key_values:
        # explicit constant segment keys, appended sorted by key name
        # (reference: segment_processing.py:70-72)
        for k in sorted(segment_key_values):
            df = df.withColumn(k, F.lit(str(segment_key_values[k])))
            segment_cols.append(k)
    # nested structs -> first-class `a.b.c` leaf columns (strict superset
    # of the reference's count-only object handling; see
    # datatypes.flatten_struct_columns). Done BEFORE the wide/narrow
    # dispatch so the threshold counts leaves, and before planning so
    # every path (narrow/wide/sketch) sees only scalar columns.
    from .datatypes import flatten_struct_columns

    df, columns = flatten_struct_columns(df, columns, segment_cols)
    # Derived inputs (a join / funnel / python stage upstream): pay the
    # upstream ONCE instead of once per chunk job + sketch pass (r13,
    # guide §3.3 "materialising an intermediate truncates the plan").
    # Plain scans / caches / projections stay un-checkpointed — each
    # chunk's column-pruned scan is cheaper than materializing.
    df = _cut_derived_lineage(df)
    try:
        df.sparkSession.conf.set("spark.sql.codegen.maxFields", "2048")
        # bigger Arrow batches => fewer python-side groupby/update rounds
        # in the sketch pass
        df.sparkSession.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
    except Exception:
        pass
    # Wide frames: O(#cols) aggregate expressions would dominate driver/
    # Catalyst time and blow codegen method limits — switch to the
    # unpivot-per-type-class path (core/wide.py). Custom registered
    # metrics are per-column expressions, so their presence keeps the
    # narrow path.
    from .registry import registered_metrics

    n_profiled = sum(
        1 for f in df.schema.fields
        if f.name not in segment_cols
        and (columns is None or f.name in columns))
    if (n_profiled >= config.wide_column_threshold
            and not registered_metrics()):
        from .wide import plan_wide_sketches, wide_native_rows

        sketches = plan_wide_sketches(
            df.schema, columns, segment_cols, config)
        long_df = _with_sketch_rows(
            df, sketches, segment_cols, config,
            lambda: _local_profile_df(df.sparkSession, wide_native_rows(
                df, columns, segment_cols, config)))
        return ProfileView(long_df, config, dataset_timestamp,
                           metadata=metadata)

    aggs, sketches = plan_dataframe(df.schema, columns, segment_cols, config)
    # native tiers are collected eagerly and reshaped driver-side
    native = ((lambda: _segmented_native_long(df, aggs, segment_cols))
              if segment_cols else
              (lambda: _native_long_collected(df, aggs)))
    long_df = _with_sketch_rows(df, sketches, segment_cols, config, native)
    return ProfileView(long_df, config, dataset_timestamp,
                       metadata=metadata)


def _with_sketch_rows(
    df: DataFrame,
    sketches: List[SketchPlan],
    segment_cols: List[str],
    cfg: MetricConfig,
    native,
) -> DataFrame:
    """Union of the native half (``native()``) and the python sketch
    half of a profile; the sketch pass runs on a second driver thread
    while the native tiers run.

    The sketch rows are COLLECTED and rebuilt as local rows, like the
    native rows: one row per segment x column x component, so a view
    never re-runs the sketch pass and ``profile()`` leaves nothing
    cached behind. Past ``_SEGMENT_COLLECT_LIMIT`` segments (where the
    native half also goes distributed) the sketch half stays a lazy
    frame."""
    if not sketches:
        return native()
    from concurrent.futures import ThreadPoolExecutor

    spark = df.sparkSession

    def sketch_half() -> DataFrame:
        sketch_df = _sketch_long(df, sketches, segment_cols, cfg)
        if not segment_cols:
            return _local_profile_df(spark, sketch_df.collect())
        # rows per segment: kll + its quantiles, or mg + items
        cap = _SEGMENT_COLLECT_LIMIT * len(sketches) * (
            2 + len(cfg.quantiles))
        rows = sketch_df.limit(cap + 1).collect()
        if len(rows) > cap:
            return sketch_df
        return _local_profile_df(spark, rows)

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(sketch_half)
        long_df = native()
        return long_df.unionByName(fut.result())


def profile_partitions(
    df: DataFrame,
    partitions: Dict[str, List[str]],
    columns: Optional[List[str]] = None,
    config: MetricConfig = DEFAULT_CONFIG,
) -> Dict[str, "ProfileView"]:
    """Profile several segmentation partitions in ONE aggregation pass.

    The reference loops its <=10 SegmentationPartitions and re-groups the
    data once per partition (python/whylogs/api/logger/segment_processing.py:157-199);
    here all partitions share a single scan via GROUPING SETS —
    ``grouping_id()`` attributes each output row to its partition. Native
    metric tiers each run one grouping-sets aggregate; the KLL/FI sketch
    pass (which has no grouping-sets equivalent) runs per partition on
    its own (cheap: sketch bytes only).

    Returns {partition_name -> ProfileView}.
    """
    from concurrent.futures import ThreadPoolExecutor

    from .datatypes import flatten_struct_columns

    spark = df.sparkSession
    part_items = list(partitions.items())
    all_cols: List[str] = []
    for _, cols in part_items:
        for c in cols:
            if c not in all_cols:
                all_cols.append(c)
    n = len(all_cols)
    gid_for_part = {
        pname: sum(
            1 << (n - 1 - i)
            for i, c in enumerate(all_cols) if c not in cols
        )
        for pname, cols in part_items
    }
    sets_exprs = [[F.col(c) for c in cols] for _, cols in part_items]

    df, columns = flatten_struct_columns(df, columns, all_cols)
    df = _cut_derived_lineage(df)
    aggs, sketches = plan_dataframe(df.schema, columns, all_cols, config)
    tiers: Dict[str, List[PlannedAgg]] = {}
    for a in aggs:
        tiers.setdefault(a.tier, []).append(a)

    def run_tier(item):
        tier, tier_aggs = item
        base = [a for a in tier_aggs if a.expr is not None]
        src = _ensure_parallelism(df) if tier == "object" else df
        gdf = src.groupingSets(sets_exprs, *[F.col(c) for c in all_cols])
        wide = gdf.agg(
            F.grouping_id().alias("__gid"),
            *[a.expr.alias(a.alias) for a in base])
        derived = [a for a in tier_aggs if a.derive is not None]
        # segment values cast JVM-side (same rendering as
        # _segment_json_col / _sketch_long) so boolean/float keys don't
        # diverge from the narrow path when stringified in python
        sel = (
            [F.col("__gid")]
            + [F.coalesce(F.col(c).cast(T.StringType()),
                          F.lit(_NULL_SENTINEL)).alias(c)
               for c in all_cols]
            + [F.col(a.alias) for a in base if a.emit]
            + [a.derive(F.col(a.derive_from)).alias(a.alias)
               for a in derived]
        )
        rows = wide.select(*sel).limit(_SEGMENT_COLLECT_LIMIT + 1).collect()
        if len(rows) > _SEGMENT_COLLECT_LIMIT:
            raise ValueError(
                "profile_partitions: too many segments to collect; "
                "profile each partition separately")
        return tier_aggs, rows

    rows_by_part: Dict[str, List[tuple]] = {p: [] for p, _ in part_items}
    with ThreadPoolExecutor(max_workers=max(len(tiers), 1)) as pool:
        for tier_aggs, rows in pool.map(run_tier, sorted(tiers.items())):
            for r in rows:
                gid = r["__gid"]
                for pname, cols in part_items:
                    if gid_for_part[pname] != gid:
                        continue
                    seg = _segment_json_py(cols, [r[c] for c in cols])
                    for a in tier_aggs:
                        if not a.emit:
                            continue
                        v = (a.const if a.const is not None
                             else r[a.alias])
                        slots = {"n": None, "d": None, "s": None, "b": None}
                        if v is not None:
                            if a.slot == SLOT_N:
                                v = int(v)
                            elif a.slot == SLOT_D:
                                v = float(v)
                            elif a.slot == SLOT_B:
                                v = bytes(v)
                            slots[a.slot] = v
                        rows_by_part[pname].append((
                            seg, a.column, a.metric, a.component,
                            slots["n"], slots["d"], slots["s"], slots["b"],
                        ))

    out: Dict[str, ProfileView] = {}
    for pname, cols in part_items:
        long_df = _local_profile_df(spark, rows_by_part[pname])
        if sketches:
            long_df = long_df.unionByName(
                _sketch_long(df, sketches, cols, config))
        out[pname] = ProfileView(long_df, config)
    return out


def merge_profiles(views: List["ProfileView"]) -> "ProfileView":
    """⊕ over profiles — the reference's monoid merge
    (python/whylogs/core/view/dataset_profile_view.py:172), expressed as a
    grouped aggregation over the profile table so it distributes:

    * cardinality/hll merges JVM-side via ``hll_union_agg``;
    * sketch blobs (kll/mg) union in pandas groups;
    * counters/extrema/moments merge algebraically (Chan's formula for
      mean/M2 — reference python/whylogs/core/metrics/maths.py:11).
    """
    if not views:
        raise ValueError("no profiles to merge")
    cfg = views[0].config
    tagged = [
        v.df.withColumn("src", F.lit(i)) for i, v in enumerate(views)
    ]
    allp = tagged[0]
    for t in tagged[1:]:
        allp = allp.unionByName(t)
    return ProfileView(_merge_profile_df(allp, cfg), cfg)


def merge_segments(view: "ProfileView") -> "ProfileView":
    """Collapse a SEGMENTED view into one dataset-level profile via the
    same ⊕ as :func:`merge_profiles` — the reference's
    segment-to-dataset merge (python/whylogs/api/logger/segment_cache
    merges segment views the same way: per-segment profiles are just
    profiles under ⊕).

    Scale shape: the input is the bounded profile TABLE (segments ×
    columns × components rows, never data rows); one grouped merge,
    one hash exchange.  Each segment acts as one merge source (``src``
    keys the Chan mean/M2 alignment), so the result is bit-identical
    to merging per-segment views written/read separately — the
    property the segmented WHY1 round-trip test pins.
    """
    allp = (view.df.withColumn("src", F.xxhash64("segment"))
            .withColumn("segment", F.lit("{}")))
    return ProfileView(_merge_profile_df(allp, view.config), view.config)


def _merge_profile_df(allp: DataFrame, cfg: MetricConfig) -> DataFrame:
    """Merge a profile table carrying a ``src`` column distinguishing the
    source profiles (so mean/M2 components can be aligned per source)."""
    if "src" not in allp.columns:
        raise ValueError(
            "profile table must carry a 'src' column identifying the "
            "source profile of each row (merge_profiles adds it)")
    # --- JVM mergeable: HLL union
    hll = allp.filter(
        (F.col("metric") == "cardinality") & (F.col("component") == "hll"))
    import math as _math

    union = hll.groupBy("segment", "column", "metric").agg(
        F.hll_union_agg(F.col("b"), F.lit(True)).alias("hb"))
    est = F.hll_sketch_estimate(F.col("hb"))
    rse = 2.0 * 1.04 / _math.sqrt(2.0 ** cfg.hll_lg_k)
    nl = F.lit(None)
    hll_rows = union.select(
        "segment", "column", "metric",
        F.explode(
            F.array(
                F.struct(F.lit("hll").alias("component"),
                         nl.cast(T.LongType()).alias("n"),
                         nl.cast(T.DoubleType()).alias("d"),
                         nl.cast(T.StringType()).alias("s"),
                         F.col("hb").alias("b")),
                F.struct(F.lit("est").alias("component"),
                         nl.cast(T.LongType()).alias("n"),
                         est.alias("d"),
                         nl.cast(T.StringType()).alias("s"),
                         nl.cast(T.BinaryType()).alias("b")),
                F.struct(F.lit("lower").alias("component"),
                         nl.cast(T.LongType()).alias("n"),
                         (est * F.lit(1.0 - rse)).alias("d"),
                         nl.cast(T.StringType()).alias("s"),
                         nl.cast(T.BinaryType()).alias("b")),
                F.struct(F.lit("upper").alias("component"),
                         nl.cast(T.LongType()).alias("n"),
                         (est * F.lit(1.0 + rse)).alias("d"),
                         nl.cast(T.StringType()).alias("s"),
                         nl.cast(T.BinaryType()).alias("b")),
            )
        ).alias("r"),
    ).select("segment", "column", "metric", "r.*")

    # ALL rows (cardinality included) flow to the grouped merge below:
    # hll-backed cardinality groups short-circuit there (the JVM
    # hll_union_agg path above emits them); est-only groups
    # (cardinality_impl='approx') merge python-side so non-default
    # configs don't silently lose the metric
    rest = allp

    quantiles = list(cfg.quantiles)
    kll_k = cfg.effective_kll_k
    fi_cap = cfg.fi_capacity
    fi_maxlen = cfg.max_frequent_item_size
    # snapshot the custom-metric merge ops DRIVER-side: the registry is a
    # driver-process dict, invisible to executor python workers — the
    # closure must carry the ops, not re-import them
    from .registry import registered_metrics

    custom_ops = {
        (ns, comp.component): comp.merge
        for ns, m in registered_metrics().items()
        for comp in m.components
    }

    def merge_metric(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = pdf["segment"].iloc[0]
        colname = pdf["column"].iloc[0]
        metric = pdf["metric"].iloc[0]
        out: List[tuple] = []

        def emit(component, n=None, d=None, s=None, b=None):
            out.append((seg, colname, metric, component, n, d, s, b))

        by_comp = {k: g for k, g in pdf.groupby("component")}

        def nsum(comp):
            g = by_comp.get(comp)
            return int(g["n"].dropna().sum()) if g is not None else None

        if metric in ("counts", "types"):
            for comp in by_comp:
                emit(comp, n=nsum(comp))
        elif metric == "ints":
            if "min" in by_comp:
                mn = by_comp["min"]["n"].dropna()
                emit("min", n=int(mn.min()) if len(mn) else None)
            if "max" in by_comp:
                mx = by_comp["max"]["n"].dropna()
                emit("max", n=int(mx.max()) if len(mx) else None)
        elif metric == "distribution":
            # Chan et al. parallel merge of (n, mean, M2) — components
            # paired per source profile via the ``src`` column
            # (reference: python/whylogs/core/metrics/maths.py:11).
            per_src: Dict[int, Dict[str, float]] = {}
            for _, r in pdf.iterrows():
                if r["component"] in ("n", "mean", "m2"):
                    d = per_src.setdefault(int(r["src"]), {})
                    d[r["component"]] = (
                        r["n"] if r["component"] == "n" else r["d"])
            N = 0
            mean = 0.0
            m2 = 0.0
            for d in per_src.values():
                nb = int(d.get("n") or 0)
                if not nb:
                    continue
                mb = d.get("mean")
                m2b = d.get("m2")
                mb = float(mb) if mb is not None and pd.notna(mb) else 0.0
                m2b = float(m2b) if m2b is not None and pd.notna(m2b) else 0.0
                delta = mb - mean
                tot = N + nb
                mean += delta * nb / tot
                m2 += m2b + delta * delta * N * nb / tot
                N = tot
            emit("n", n=N)
            if N > 0:
                emit("mean", d=mean)
                emit("m2", d=m2)
                emit("stddev", d=(m2 / (N - 1)) ** 0.5 if N > 1 else 0.0)
            mins = by_comp.get("min")
            maxs = by_comp.get("max")
            if mins is not None and mins["d"].notna().any():
                emit("min", d=float(mins["d"].min()))
            if maxs is not None and maxs["d"].notna().any():
                emit("max", d=float(maxs["d"].max()))
            kll = by_comp.get("kll")
            if kll is not None:
                sk = merge_kll_blobs(kll["b"], kll_k)
                emit("kll", b=sk.serialize())
                for q, v in zip(quantiles, sk.quantiles(quantiles)):
                    emit(_q_name(q), d=float(v))
            else:
                # quantile_impl='native' profiles carry per-quantile
                # values but no mergeable sketch: merged quantile =
                # source-size-weighted average — a documented
                # APPROXIMATION (exact only for identically-distributed
                # sources), carried instead of silently dropped
                n_of_src = {s: int(d.get("n") or 0)
                            for s, d in per_src.items()}
                qnames = [c for c in by_comp
                          if c == "median"
                          or (c.startswith("q_") and c[2:].isdigit())]
                for compname in sorted(qnames):
                    num = den = 0.0
                    for _, r in by_comp[compname].iterrows():
                        if r["d"] is None or pd.isna(r["d"]):
                            continue
                        w = float(n_of_src.get(int(r["src"]), 0) or 1.0)
                        num += float(r["d"]) * w
                        den += w
                    if den > 0:
                        emit(compname, d=num / den)
        elif metric == "cardinality":
            # hll-backed groups were merged JVM-side (hll_union_agg in
            # _merge_profile_df) — emit nothing here; est-only groups
            # (approx_count_distinct) have no mergeable state: merged
            # est = max across sources, a documented lower-bound
            # approximation (exact when one source's values cover the
            # others')
            if "hll" not in by_comp:
                g = by_comp.get("est")
                if g is not None and g["d"].notna().any():
                    emit("est", d=float(g["d"].max()))
        elif metric == "frequent_items":
            mg = by_comp.get("mg")
            if mg is not None:
                sk = merge_fi_blobs(mg["b"], fi_cap, fi_maxlen)
                emit("mg", b=sk.serialize())
                items = [
                    {"value": v, "est": e, "lower": lo, "upper": hi}
                    for v, e, lo, hi in sk.top_k(32)
                ]
                emit("items", s=json.dumps(items, ensure_ascii=False))
        else:
            # custom metrics merge by their registered per-component op
            # (reference: pluggable component aggregators,
            # python/whylogs/core/metrics/aggregators.py:33-47); truly
            # unknown components keep the first occurrence
            for comp, g in by_comp.items():
                op = custom_ops.get((metric, comp))
                if op is None:
                    r = g.iloc[0]
                    emit(comp, n=r["n"], d=r["d"], s=r["s"], b=r["b"])
                    continue
                if op == "none":
                    continue  # recomputable-only component: dropped
                for slot in ("n", "d"):
                    vals = g[slot].dropna()
                    if not len(vals):
                        continue
                    if callable(op):
                        v = op(vals)
                    elif op == "sum":
                        v = vals.sum()
                    elif op == "min":
                        v = vals.min()
                    else:
                        v = vals.max()
                    emit(comp, **{
                        slot: int(v) if slot == "n" else float(v)})
                    break
        return pd.DataFrame(
            out, columns=["segment", "column", "metric", "component",
                          "n", "d", "s", "b"])

    merged_rest = rest.groupBy("segment", "column", "metric").applyInPandas(
        merge_metric, PROFILE_SCHEMA)
    return merged_rest.unionByName(hll_rows)


# ----------------------------------------------------------------------- view
class ProfileView:
    """Immutable handle on a long-form profile DataFrame.

    Equivalent of the reference's DatasetProfileView
    (python/whylogs/core/view/dataset_profile_view.py:50) — but the profile
    IS a DataFrame: write it with ``.df.write.parquet``, query it with SQL.
    """

    def __init__(self, df: DataFrame, config: MetricConfig = DEFAULT_CONFIG,
                 dataset_timestamp=None, creation_timestamp=None,
                 metadata: Optional[Dict[str, str]] = None):
        self.df = df
        self.config = config
        # DatasetProperties parity (reference: dataset_profile.py:26 —
        # dataset/creation timestamps + tags/metadata; serialized by the
        # WHY1 codec as DatasetProperties)
        import datetime as _dt

        self.dataset_timestamp = dataset_timestamp
        self.creation_timestamp = (
            creation_timestamp
            or _dt.datetime.now(_dt.timezone.utc))
        self.metadata: Dict[str, str] = dict(metadata or {})

    def cache(self) -> "ProfileView":
        self.df = self.df.cache()
        return self

    def merge(self, other: "ProfileView") -> "ProfileView":
        return merge_profiles([self, other])

    # -- summaries ---------------------------------------------------------
    def to_pandas(self) -> pd.DataFrame:
        """Wide summary: one row per (segment, column), one col per
        metric/component (reference: dataset_profile_view.py:461)."""
        pdf = self.df.toPandas()
        if pdf.empty:
            return pd.DataFrame()
        pdf["key"] = pdf["metric"] + "/" + pdf["component"]
        pdf["value"] = pdf["n"].where(pdf["n"].notna(), pdf["d"]).astype(object)
        pdf.loc[pdf["value"].isna(), "value"] = pdf.loc[
            pdf["value"].isna(), "s"]
        wide = pdf.pivot_table(
            index=["segment", "column"], columns="key", values="value",
            aggfunc="first", dropna=False,
        ).reset_index()
        wide.columns.name = None
        return wide.sort_values(["segment", "column"]).reset_index(drop=True)

    def get_component(self, column: str, metric: str, component: str,
                      segment: str = "{}"):
        """First matching component value. ``segment`` defaults to the
        unsegmented key '{}'; pass segment=None to match any segment
        (first one wins — only deterministic for single-segment
        profiles)."""
        cond = (
            (F.col("column") == column)
            & (F.col("metric") == metric)
            & (F.col("component") == component)
        )
        if segment is not None:
            cond = cond & (F.col("segment") == segment)
        rows = self.df.filter(cond).collect()
        if not rows:
            return None
        r = rows[0]
        for slot in ("n", "d", "s", "b"):
            if r[slot] is not None:
                return r[slot]
        return None

    def histogram(self, column: str, n_bins: int = 30) -> List[tuple]:
        """(bin_start, bin_end, est_count) triples from the column's KLL
        sketch — driver-side over a few KB of sketch bytes (reference:
        python/whylogs/viz/utils/histogram_calculations.py:31)."""
        blob = self.get_component(column, "distribution", "kll")
        if blob is None:
            raise ValueError(f"no KLL sketch for column {column}")
        sk = KllSketch.deserialize(bytes(blob))
        if sk.n == 0:
            return []
        lo, hi = sk.min_value, sk.max_value
        if hi <= lo:
            return [(lo, hi, sk.n)]
        edges = [lo + (hi - lo) * i / n_bins for i in range(1, n_bins)]
        pmf = sk.pmf(edges)
        bounds = [lo] + edges + [hi]
        return [
            (bounds[i], bounds[i + 1], int(round(p * sk.n)))
            for i, p in enumerate(pmf)
        ]

    def diff(self, other: "ProfileView") -> pd.DataFrame:
        """Align two profiles by (segment, column, metric, component) and
        report numeric component deltas (reference: profile comparison in
        viz/notebook_profile_viz.py summary-drift report; the join-on-
        column alignment mirrors column_drift_algorithms.py:500-515)."""
        a = self.df.toPandas()
        b = other.df.toPandas()
        keys = ["segment", "column", "metric", "component"]
        for pdf in (a, b):
            pdf["value"] = pdf["n"].where(pdf["n"].notna(), pdf["d"])
        m = a[keys + ["value"]].merge(
            b[keys + ["value"]], on=keys, how="outer",
            suffixes=("_a", "_b"))
        m["delta"] = m["value_b"] - m["value_a"]
        return m.sort_values(keys).reset_index(drop=True)

    def write_parquet(self, path: str) -> None:
        self.df.write.mode("overwrite").parquet(path)

    @staticmethod
    def read_parquet(spark: SparkSession, path: str,
                     config: MetricConfig = DEFAULT_CONFIG) -> "ProfileView":
        return ProfileView(spark.read.parquet(path), config)
