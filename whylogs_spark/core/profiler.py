"""Dataset profiling as native Spark aggregation.

This is the replacement for the reference's entire write path
(``why.log`` -> DatasetProfile.track -> per-metric columnar_update,
reference: python/whylogs/api/logger/__init__.py:42,
python/whylogs/core/dataset_profile.py:107) and for its Spark integration
(python/whylogs/api/pyspark/experimental/profiler.py:122).

Execution shape (designed for 100 TB, not 60k rows):

One NATIVE PASS — ``df.groupBy(segments).agg(*exprs)``: exact counters,
min/max, mean/M2 and the three DataSketches sketches (HLL cardinality,
KLL quantiles, frequent items) run JVM-side with map-side partial
aggregation, so the only shuffled data is a few KB of aggregate buffers
per partition. One job per tier: the declarative aggregates keep
whole-stage codegen, the TypedImperative sketch aggregates run apart in
the interpreted object tier. An ungrouped profile also cuts each tier
into column chunks. The jobs run concurrently and each returns
#segments rows regardless of input size. Every aggregate and output
Column is the planner's, built once per schema (``plan_dataframe``).

The jobs' rows reshape into a few rows per segment x column, so
``profile()`` keeps its result on the driver as ONE Arrow table in the
long-form layout below; ``ProfileView.df`` is built from it lazily,
through Arrow (JVM-side tasks only). Past 20k segments the same
aggregate frames are exploded JVM-side into a lazy frame instead.
Either way the result is a LONG-FORM PROFILE — profiles are data, not
opaque blobs (contrast with the reference's protobuf binary,
python/whylogs/core/view/dataset_profile_view.py:264):

    segment  STRING  (JSON object of segment key -> value, '{}' if none)
    column   STRING
    metric   STRING
    component STRING
    n        LONG    (integer-valued components)
    d        DOUBLE  (real-valued components)
    s        STRING  (JSON/string components)
    b        BINARY  (DataSketches bytes: HLL / KLL / frequent items)

Merging profiles (the monoid ⊕, reference
dataset_profile_view.py:172) is a small grouped aggregation over this
table — see ``merge_profiles``.
"""

from __future__ import annotations

import json
from functools import partial, reduce
from typing import Dict, Iterable, Iterator, List, NamedTuple, Optional, Union

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, GroupedData, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .configs import DEFAULT_CONFIG, MetricConfig
from .planner import (
    SLOT_B, SLOT_D, SLOT_N, SLOT_S, PlannedAgg, _q_name, plan_dataframe,
    profiled_fields,
)
from .sketches import KllSketch, merge_fi_blobs, merge_kll_blobs
from .util import ensure_parallelism as _ensure_parallelism
from .util import materialize, release, run_concurrent

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

_PROFILE_ARROW = to_arrow_schema(PROFILE_SCHEMA)

#: rows per partition of a view's DataFrame built from its local table: a
#: profile is a few hundred KB, and spreading it over one near-empty
#: partition per core made every downstream materialization (store
#: writes, unions, collects) pay ~0.3 s of per-task overhead per empty
#: slice (measured on the store_quantile_series bench row)
_SLICE_ROWS = 20_000

_NULL_SENTINEL = "None"  # segment key for null values (reference uses the
# pandas groupby NaN-safe path, segment_processing.py:77-88)


def _segment_json_col(segment_cols: List[str],
                      values: Optional[List[str]] = None) -> Column:
    """JSON segment key built JVM-side; python side must build identically.
    ``values`` names the columns holding the keys' values when they are
    not the keys themselves."""
    pairs = []
    for s, v in zip(segment_cols, values or segment_cols):
        pairs.append(F.lit(s))
        pairs.append(
            F.coalesce(F.col(v).cast(T.StringType()), F.lit(_NULL_SENTINEL))
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
#: (slot, Spark type, python cast) of the four typed value slots
_SLOTS = ((SLOT_N, T.LongType(), int), (SLOT_D, T.DoubleType(), float),
          (SLOT_S, T.StringType(), None), (SLOT_B, T.BinaryType(), bytes))

_SEGMENT_COLLECT_LIMIT = 20_000


class _Job(NamedTuple):
    """One native aggregate job: its planned aggregates, its frame (keyed
    by ``__segment``), the frame's collected rows (None past the collect
    limit) and, on the wide path, the profiled column names indexed by
    the frame's ``cid`` key."""

    chunk: List[PlannedAgg]
    frame: DataFrame
    rows: Optional[List[dict]]
    names: Optional[List[str]] = None


def _collect(frame: DataFrame,
             rows_per_segment: int = 1) -> Optional[List[dict]]:
    """``frame``'s rows as dicts, or None past ``_SEGMENT_COLLECT_LIMIT``
    segments of ``rows_per_segment`` rows each."""
    limit = _SEGMENT_COLLECT_LIMIT * rows_per_segment
    rows = frame.limit(limit + 1).collect()
    return None if len(rows) > limit else [r.asDict() for r in rows]


def _native_work(aggs: List[PlannedAgg], by_column: bool) -> List[tuple]:
    """The native pass's job split: ``[(tier, chunk of aggs)]``.

    One job per tier: a TypedImperative aggregate (the three sketches,
    percentile_approx) turns its whole Aggregate node into interpreted
    ObjectHashAggregateExec, so the object tier runs apart and the
    codegen tier keeps whole-stage codegen. With ``by_column`` (an
    ungrouped profile) each tier is cut into chunks of whole columns (a
    derived agg stays with its base): >= 16 columns per chunk and at
    most ~8 chunks per tier, so a wide plan's codegen stays within the
    JVM's 64 KB method limit (one chunk of 90 mixed columns overflowed
    it) and its chunks run on parallel threads over column-pruned scans,
    while a frame of up to 16 columns runs one job per tier.
    """
    tiers: Dict[str, List[PlannedAgg]] = {}
    for a in aggs:
        tiers.setdefault(a.tier, []).append(a)
    work: List[tuple] = []
    for tier, tier_aggs in sorted(tiers.items()):
        if not by_column:
            work.append((tier, tier_aggs))
            continue
        by_col: Dict[str, List[PlannedAgg]] = {}
        for a in tier_aggs:
            by_col.setdefault(a.column, []).append(a)
        cols = list(by_col)
        step = max(16, -(-len(cols) // 8))
        work += [(tier, [a for c in cols[i:i + step] for a in by_col[c]])
                 for i in range(0, len(cols), step)]
    return work


def _native_frame(grouped: GroupedData, chunk: List[PlannedAgg],
                  keys: List[Column], key_aggs=()) -> DataFrame:
    """One job's aggregate frame: the ``keys`` columns, then every
    emitted component of ``chunk`` under its alias, through the
    planner's own Columns (no Column is built per call).
    ``key_aggs`` are extra aggregates the keys read (``grouping_id()``).
    """
    wide = grouped.agg(*key_aggs, *[a.agg for a in chunk if a.agg is not None])
    return wide.select(*keys, *[a.out for a in chunk if a.out is not None])


def _native_pass(df: DataFrame, aggs: List[PlannedAgg], group, keys,
                 key_aggs=(), by_column: bool = False) -> List[_Job]:
    """Build one :func:`_native_frame` per :func:`_native_work` job over
    ``group(df)`` and collect them concurrently, up to
    ``_SEGMENT_COLLECT_LIMIT`` rows each."""

    def job(tier, chunk):
        # the interpreted object tier gets cores for its partial-agg
        # stage; codegen'd aggs chew through one unsplittable local file
        # faster than the round-robin shuffle that would split it
        src = _ensure_parallelism(df) if tier == "object" else df
        frame = _native_frame(group(src), chunk, keys, key_aggs)
        return _Job(chunk, frame, _collect(frame))

    return run_concurrent(df.sparkSession, [
        partial(job, tier, chunk)
        for tier, chunk in _native_work(aggs, by_column)])


def _component_rows(seg: str, chunk: List[PlannedAgg], row: dict,
                    names: Optional[List[str]] = None) -> Iterator[tuple]:
    """Long-form profile rows of one collected native row (its column
    name is ``names[row["cid"]]`` when ``names`` is given)."""
    column = names[row["cid"]] if names else None
    for a in chunk:
        if not a.emit:
            continue
        v = a.const if a.const is not None else row.get(a.alias)
        yield (seg, a.column if column is None else column, a.metric,
               a.component, *(
            None if v is None or slot != a.slot else cast(v) if cast else v
            for slot, _, cast in _SLOTS))


def _long_structs(aggs: List[PlannedAgg],
                  names: Optional[List[str]] = None) -> List[Column]:
    """One struct per emitted component over a :func:`_native_frame`,
    typed-slot aligned: its alias column, or its constant. With
    ``names``, the column name is the frame's ``cid``-th name."""
    column = F.array(*map(F.lit, names))[F.col("cid")] if names else None
    structs = []
    for a in aggs:
        if not a.emit:
            continue
        value = F.lit(a.const) if a.const is not None else F.col(a.alias)
        structs.append(F.struct(
            (F.lit(a.column) if column is None else column).alias("column"),
            F.lit(a.metric).alias("metric"),
            F.lit(a.component).alias("component"),
            *[(value if slot == a.slot else F.lit(None)).cast(dt).alias(slot)
              for slot, dt, _ in _SLOTS]))
    return structs


def _profile_table(rows: Iterable[tuple]) -> pa.Table:
    """Long-form profile rows -> one Arrow table with PROFILE_SCHEMA's
    Arrow types, built column by column (a nullable ``n`` stays int64;
    a pandas round trip would make it float64 and round values past
    2**53)."""
    cols = list(zip(*rows)) or [()] * len(_PROFILE_ARROW)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, _PROFILE_ARROW)],
        schema=_PROFILE_ARROW)


def _table_df(spark: SparkSession, table: pa.Table) -> DataFrame:
    """A local profile table as a DataFrame over the driver's Arrow
    rows (JVM-only tasks), one partition per ``_SLICE_ROWS`` rows."""
    return spark.createDataFrame(table, PROFILE_SCHEMA).coalesce(
        max(1, -(-table.num_rows // _SLICE_ROWS)))


def _long_form(jobs: List[_Job]) -> Union[pa.Table, DataFrame]:
    """A profile's rows: the jobs' collected rows reshaped into a local
    table; when any job passed its collect limit
    (``_SEGMENT_COLLECT_LIMIT`` segments), the jobs' frames exploded
    JVM-side into a lazy union instead."""
    if any(j.rows is None for j in jobs):
        return reduce(DataFrame.unionByName, [
            j.frame.select(F.col("__segment").alias("segment"),
                           F.explode(F.array(*_long_structs(j.chunk,
                                                            j.names)))
                           .alias("r")).select("segment", "r.*")
            for j in jobs])
    return _profile_table(
        out for j in jobs for row in j.rows
        for out in _component_rows(row["__segment"], j.chunk, row,
                                   j.names))


def _native_long(df: DataFrame, aggs: List[PlannedAgg],
                 segment_cols: List[str]) -> Union[pa.Table, DataFrame]:
    """The narrow path's rows: one ``groupBy(segments)`` pass."""
    return _long_form(_native_pass(
        df, aggs, lambda src: src.groupBy(*segment_cols),
        [_segment_json_col(segment_cols).alias("__segment")],
        by_column=not segment_cols))


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
    """Profile a DataFrame -> ProfileView holding the long-form profile
    rows on the driver (a lazy frame past ``_SEGMENT_COLLECT_LIMIT``
    segments).

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
    # every path (narrow/wide) sees only scalar columns.
    from .datatypes import flatten_struct_columns

    df, columns = flatten_struct_columns(df, columns, segment_cols)
    # Derived inputs (a join / funnel / python stage upstream): pay the
    # upstream ONCE instead of once per chunk job (r13, guide §3.3
    # "materialising an intermediate truncates the plan").
    # Plain scans / caches / projections stay un-checkpointed — each
    # chunk's column-pruned scan is cheaper than materializing.
    df = materialize(df, only_if_expensive=True)
    # codegen-tier chunks carry more than the default 100 buffer fields
    df.sparkSession.conf.set("spark.sql.codegen.maxFields", "2048")
    # Wide frames: O(#cols) aggregate expressions would dominate driver/
    # Catalyst time and blow codegen method limits — switch to the
    # unpivot-per-type-class path (core/wide.py). Custom registered
    # metrics are per-column expressions, so their presence keeps the
    # narrow path.
    from .registry import registered_metrics

    n_profiled = len(profiled_fields(df.schema, columns, segment_cols))
    if (n_profiled >= config.wide_column_threshold
            and not registered_metrics()):
        from .wide import wide_native_rows

        long = wide_native_rows(df, columns, segment_cols, config)
    else:
        long = _native_long(
            df, plan_dataframe(df.schema, columns, segment_cols, config),
            segment_cols)
    if isinstance(long, pa.Table):
        release(df)
    return ProfileView(long, config, dataset_timestamp, metadata=metadata,
                       spark=df.sparkSession)


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
    ``grouping_id()`` attributes each output row to its partition. Each
    metric tier, sketches included, runs one grouping-sets aggregate.

    Returns {partition_name -> ProfileView}.
    """
    from .datatypes import flatten_struct_columns

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
    df = materialize(df, only_if_expensive=True)
    aggs = plan_dataframe(df.schema, columns, all_cols, config)
    # segment values cast JVM-side (same rendering as _segment_json_col)
    # so boolean/float keys don't diverge from the narrow path when
    # stringified in python
    keys = [F.col("__gid")] + [
        F.coalesce(F.col(c).cast(T.StringType()),
                   F.lit(_NULL_SENTINEL)).alias(c)
        for c in all_cols]
    jobs = _native_pass(
        df, aggs,
        lambda src: src.groupingSets(sets_exprs,
                                     *[F.col(c) for c in all_cols]),
        keys, key_aggs=[F.grouping_id().alias("__gid")])
    if any(j.rows is None for j in jobs):
        release(df)
        raise ValueError(
            "profile_partitions: too many segments to collect; "
            "profile each partition separately")

    rows_by_part: Dict[str, List[tuple]] = {p: [] for p, _ in part_items}
    for j in jobs:
        for row in j.rows:
            for pname, cols in part_items:
                if gid_for_part[pname] == row["__gid"]:
                    seg = _segment_json_py(cols, [row[c] for c in cols])
                    rows_by_part[pname].extend(
                        _component_rows(seg, j.chunk, row))

    release(df)
    return {pname: ProfileView(_profile_table(rows_by_part[pname]), config,
                               spark=df.sparkSession)
            for pname, _ in part_items}


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
    """Immutable handle on a long-form profile.

    Equivalent of the reference's DatasetProfileView
    (python/whylogs/core/view/dataset_profile_view.py:50). A view made by
    ``profile()`` or ``read_why1`` keeps its rows on the driver as one
    Arrow table: summaries, component lookups and diffs read it with no
    Spark job, and ``df`` is built from it on first use. A view over a
    query (``ProfileStore.get``, ``merge_profiles``, a profile past 20k
    segments) holds a lazy DataFrame. Either way the profile IS a
    DataFrame: write it with ``.df.write.parquet``, query it with SQL.
    """

    def __init__(self, df: Union[DataFrame, pa.Table],
                 config: MetricConfig = DEFAULT_CONFIG,
                 dataset_timestamp=None, creation_timestamp=None,
                 metadata: Optional[Dict[str, str]] = None,
                 spark: Optional[SparkSession] = None):
        if isinstance(df, pa.Table):
            self._table, self._df = df, None
        else:
            self._table, self._df = None, df
        self._spark = spark
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

    @property
    def spark(self) -> SparkSession:
        """The session the profile's DataFrame belongs to."""
        if self._df is not None:
            return self._df.sparkSession
        return self._spark or SparkSession.active()

    @property
    def df(self) -> DataFrame:
        """The profile as a DataFrame (built from the local table on
        first use)."""
        if self._df is None:
            self._df = _table_df(self.spark, self._table)
        return self._df

    @df.setter
    def df(self, df: DataFrame) -> None:
        self._df, self._table = df, None

    def cache(self) -> "ProfileView":
        if self._table is None:
            self.df = self.df.cache()
        return self

    def table(self, **where) -> pa.Table:
        """The rows whose columns equal ``where``'s values (a list, tuple
        or set matches any of its values) as an Arrow table in
        PROFILE_SCHEMA's layout. A local view filters its table; a lazy
        one pushes the filter into ``df`` and collects through Arrow."""
        def multi(v):
            return isinstance(v, (list, tuple, set, frozenset))

        if self._table is None:
            df = self.df
            for col, v in where.items():
                df = df.filter(F.col(col).isin(list(v)) if multi(v)
                               else F.col(col) == v)
            if df.columns != PROFILE_SCHEMA.names:
                df = df.select(*PROFILE_SCHEMA.names)
            return df.toArrow()
        t = self._table
        for col, v in where.items():
            t = t.filter(pc.is_in(t[col], value_set=pa.array(
                list(v), t.schema.field(col).type)) if multi(v)
                else pc.equal(t[col], v))
        return t

    def merge(self, other: "ProfileView") -> "ProfileView":
        return merge_profiles([self, other])

    # -- summaries ---------------------------------------------------------
    def to_pandas(self) -> pd.DataFrame:
        """Wide summary: one row per (segment, column), one col per
        metric/component (reference: dataset_profile_view.py:461)."""
        pdf = self.table().to_pandas()
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
        where = dict(column=column, metric=metric, component=component)
        if segment is not None:
            where["segment"] = segment
        rows = self.table(**where).slice(0, 1).to_pylist()
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
        a = self.table().to_pandas()
        b = other.table().to_pandas()
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
