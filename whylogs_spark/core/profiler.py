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
import struct
from functools import partial, reduce
from typing import (Dict, Iterable, Iterator, List, NamedTuple, Optional,
                    Sequence, Union)

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, GroupedData, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .configs import DEFAULT_CONFIG, MetricConfig
from .planner import (
    SLOT_B, SLOT_D, SLOT_N, SLOT_S, PlannedAgg, _le_uint, fi_merge,
    fi_readouts, hll_readouts, kll_merge, kll_readouts, plan_dataframe,
    profiled_fields,
)
from .sketches import KllSketch
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
    (python/whylogs/core/view/dataset_profile_view.py:172), expressed as
    one grouped native aggregation over the profile table so it
    distributes (:func:`_merge_profile_df`)."""
    if not views:
        raise ValueError("no profiles to merge")
    cfg = views[0].config
    allp = reduce(DataFrame.unionByName, [
        v.df.withColumn("src", F.lit(i)) for i, v in enumerate(views)])
    tables = [v._table for v in views]
    legacy = (any(map(_has_legacy, tables))
              if all(t is not None for t in tables) else None)
    return ProfileView(_merge_profile_df(allp, cfg, legacy=legacy), cfg)


def merge_segments(view: "ProfileView") -> "ProfileView":
    """Collapse a SEGMENTED view into one dataset-level profile via the
    same ⊕ as :func:`merge_profiles` — the reference's
    segment-to-dataset merge (python/whylogs/api/logger/segment_cache
    merges segment views the same way: per-segment profiles are just
    profiles under ⊕).

    Scale shape: the input is the bounded profile TABLE (segments ×
    columns × components rows, never data rows); one grouped merge,
    one hash exchange. Each segment acts as one merge source (``src``
    keys the Chan mean/M2 alignment), as if the per-segment views had
    been written, read back and merged separately.
    """
    allp = (view.df.withColumn("src", F.xxhash64("segment"))
            .withColumn("segment", F.lit("{}")))
    legacy = None if view._table is None else _has_legacy(view._table)
    return ProfileView(_merge_profile_df(allp, view.config, legacy=legacy),
                       view.config)


#: first bytes of the engine's former sketch formats (``KllSketch`` /
#: ``FrequentStringsSketch.serialize``), which Spark's sketch functions
#: cannot read
_LEGACY_HEADS = (b"WSK1", b"WFI1")


def _plain_fi_sql(b: str) -> str:
    """SQL: whether ``b`` is a frequent-items sketch of plain
    DataSketches bytes, which end with the last item where a profile's
    ``mg`` blob carries Spark's null count after them
    (``io.dsketch.fi_with_null_count``'s length test): 8 bytes when
    empty, else a 32-byte preamble, one count per item, then the items,
    each a uint32 length and its bytes. The walk never passes the end
    of the blob, so a malformed one reads false."""
    n, end = _le_uint(b, 8, 4), f"length({b}) + 1"
    walk = (f"aggregate(array_repeat(0, CAST(least({n}, length({b})) AS "
            f"INT)), least(32 + 8 * {n}, {end}), (p, x) -> least(p + 4 + "
            f"{_le_uint(b, 'CAST(p AS INT)', 4)}, {end}))")
    return (f"CASE WHEN substring({b}, 3, 1) != X'0a' THEN false "
            f"WHEN length({b}) = 8 THEN true ELSE length({b}) = {walk} END")


#: whether a ``b`` blob must be rewritten before the native merges read
#: it: a legacy blob, or a plain frequent-items sketch (stores written
#: from WHY1 views before WHY1 reads appended the null count hold them)
_LEGACY_SQL = "substring(b, 1, 4) IN ({}) OR {}".format(
    ", ".join(f"X'{h.hex()}'" for h in _LEGACY_HEADS), _plain_fi_sql("b"))


def _has_legacy(table: pa.Table) -> bool:
    """Whether a local profile table holds a blob ``_LEGACY_SQL``
    matches, checked on the driver: a legacy head, or a frequent-items
    sketch that ``io.dsketch.fi_with_null_count`` would change (a
    malformed one reads false, as in SQL)."""
    from ..io.dsketch import fi_with_null_count

    b = table.column("b")
    if pc.any(pc.is_in(pc.binary_slice(b, 0, 4), value_set=pa.array(
            _LEGACY_HEADS, pa.binary()))).as_py():
        return True

    def plain(blob: bytes) -> bool:
        try:
            return fi_with_null_count(blob) != blob
        except struct.error:
            return False

    fi = b.filter(pc.equal(pc.binary_slice(b, 2, 3), b"\x0a"))
    return any(map(plain, fi.to_pylist()))


def _legacy_to_ds(batches: Iterator[pa.RecordBatch]
                  ) -> Iterator[pa.RecordBatch]:
    """mapInArrow: every legacy ``b`` blob rewritten as DataSketches
    bytes and every plain frequent-items sketch given Spark's null
    count (``io.dsketch.to_ds_blob``)."""
    from ..io.dsketch import to_ds_blob

    for batch in batches:
        i = batch.schema.get_field_index("b")
        blobs = [None if b is None else to_ds_blob(b)
                 for b in batch.column(i).to_pylist()]
        yield batch.set_column(i, "b", pa.array(blobs, pa.binary()))


def _ds_blobs(df: DataFrame, legacy: Optional[bool] = None) -> DataFrame:
    """``df`` with DataSketches ``b`` blobs only, the one input the
    native merges read. Legacy blobs (stores written before profiles
    held Spark's sketches) and plain frequent-items sketches
    (``_LEGACY_SQL``) are rewritten by one mapInArrow, planned only when
    ``legacy`` is true. A caller that knows passes it: a local table's
    ``_has_legacy``, or False for a store marked as holding DataSketches
    blobs only (``io.store.MARKER``). When it is None, one job over
    ``df`` probes for them, returning one count per partition. (A
    ``limit(1)`` scans a multi-file store in several rounds, and a
    global aggregate runs in two stages, one job each.)"""
    if legacy is None:
        legacy = df.where(_LEGACY_SQL).select(F.lit(True)) \
            ._jdf.queryExecution().toRdd().count() > 0
    return df.mapInArrow(_legacy_to_ds, df.schema) if legacy else df


def _sql_str(v: str) -> str:
    """``v`` as a Spark SQL string literal."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _component_row(component: str, **slots: str) -> str:
    """SQL: one merged profile component, ``named_struct(component, n,
    d, s, b)``, the given slots set from their SQL and the rest null."""
    return "named_struct('component', {}, {})".format(component, ", ".join(
        f"'{slot}', CAST({slots.get(slot, 'NULL')} AS {dt.simpleString()})"
        for slot, dt, _ in _SLOTS))


def _readout_rows(readouts: List[tuple]) -> List[str]:
    return [_component_row(f"'{comp}'", **{slot: sql})
            for comp, slot, sql in readouts]


def _merge_profile_df(allp: DataFrame, cfg: MetricConfig,
                      keys: Sequence[str] = (),
                      legacy: Optional[bool] = None) -> DataFrame:
    """Merge a profile table whose ``src`` column tells its source
    profiles apart (grouped by ``keys`` too) — one native program: a
    hash exchange on (``keys``, segment, column), two windows over it
    (each row's source ``n`` and ``mean``; whether its column has a KLL
    sketch), then one groupBy(``keys``, segment, column, metric, family)
    in which each component family merges by its native aggregate:

    * counts and types: ``sum``; ints and distribution min / max:
      ``min`` / ``max``;
    * distribution n / mean / m2 / stddev: Chan et al.'s parallel
      formula (reference python/whylogs/core/metrics/maths.py:11) in
      closed form over the per-source rows, ``N = Σnᵢ``,
      ``mean = Σnᵢ·meanᵢ / N``, ``m2 = Σm2ᵢ + Σnᵢ·(meanᵢ − mean)²``
      (the last sum an ``aggregate()`` over the collected
      ``(nᵢ, meanᵢ)``);
    * KLL: ``kll_merge_agg_double``; frequent items:
      ``approx_top_k_combine``; HLL: ``hll_union_agg``. Each is read
      out by the planner's read-outs, as a fresh profile is;
    * quantiles of a column without KLL (``quantile_impl='native'``):
      the mean weighted by source ``n`` — a documented APPROXIMATION
      (exact only for identically-distributed sources);
    * cardinality rows without an ``hll`` sketch: the ``max`` of their
      ``est`` (exact only when one source's values cover the others').
      The engine no longer writes such rows, but stores written by
      earlier versions with ``cardinality_impl='approx'`` hold them;
    * custom metrics: their registered ``sum`` / ``min`` / ``max``
      (``none`` components are dropped); any other component keeps its
      first row.
    """
    if "src" not in allp.columns:
        raise ValueError(
            "profile table must carry a 'src' column identifying the "
            "source profile of each row (merge_profiles adds it)")
    from .registry import registered_metrics

    custom = {(ns, c.component): c.merge
              for ns, m in registered_metrics().items()
              for c in m.components}
    dropped = [f"metric = {_sql_str(ns)} AND component = {_sql_str(c)}"
               for (ns, c), op in custom.items() if op == "none"]
    if dropped:
        allp = allp.where("NOT (" + " OR ".join(
            f"({d})" for d in dropped) + ")")
    by = ", ".join(f"`{k}`" for k in [*keys, "segment", "column"])
    dist = "metric = 'distribution'"

    def of_src(component: str, slot: str) -> str:
        return (f"max(CASE WHEN {dist} AND component = '{component}' THEN "
                f"{slot} END) OVER (PARTITION BY {by}, src)")

    family = (
        f"CASE WHEN {dist} AND component IN ('n', 'mean', 'm2', 'stddev') "
        f"THEN '#moments' WHEN {dist} AND (component = 'kll' OR (component "
        f"= 'median' OR component RLIKE '^q_[0-9]+$') AND max({dist} AND "
        f"component = 'kll') OVER (PARTITION BY {by})) THEN '#kll' "
        "WHEN metric IN ('cardinality', 'frequent_items') THEN '#' || metric "
        "ELSE component END")
    rows = _ds_blobs(allp, legacy).repartition(
        *keys, "segment", "column").selectExpr(
        *keys, "segment", "`column`", "metric", "component", "n", "d", "s",
        "b", f"{family} AS __family",
        f"CAST(coalesce(nullif({of_src('n', 'n')}, 0), 1) AS DOUBLE) AS __w",
        f"{of_src('mean', 'd')} AS __mean")
    merged = rows.groupBy(*keys, "segment", "column", "metric",
                          "__family").agg(*[F.expr(e) for e in (
        "sum(n) AS __n_sum", "min(n) AS __n_min", "max(n) AS __n_max",
        "sum(d) AS __d_sum", "min(d) AS __d_min", "max(d) AS __d_max",
        "first(struct(n, d, s, b)) AS __first",
        "sum(__w * d) / sum(CASE WHEN d IS NOT NULL THEN __w END) "
        "AS __wmean",
        "sum(n * __mean) AS __nmean_sum",
        "sum(CASE WHEN component = 'm2' THEN d END) AS __m2_sum",
        "collect_list(CASE WHEN __family = '#moments' AND component = 'n' "
        "THEN struct(n, coalesce(__mean, 0D) AS mean) END) AS __srcs",
        kll_merge("CASE WHEN __family = '#kll' AND component = 'kll' "
                  "THEN b END", cfg) + " AS __kll",
        "hll_union_agg(CASE WHEN __family = '#cardinality' AND component "
        "= 'hll' THEN b END, true) AS __hll",
        "max(component = 'hll') AS __has_hll",
        fi_merge("CASE WHEN __family = '#frequent_items' AND component = "
                 "'mg' THEN b END", cfg) + " AS __fi")])

    n, mean = "coalesce(__n_sum, 0)", "__nmean_sum / __n_sum"
    m2 = (f"coalesce(__m2_sum, 0D) + aggregate(__srcs, 0D, (a, x) -> a + "
          f"x.n * (x.mean - {mean}) * (x.mean - {mean}))")
    moments = [
        _component_row("'n'", n=n),
        _component_row("'mean'", d=f"CASE WHEN {n} > 0 THEN {mean} END"),
        _component_row("'m2'", d=f"CASE WHEN {n} > 0 THEN {m2} END"),
        _component_row("'stddev'", d=f"CASE WHEN {n} > 1 THEN "
                       f"sqrt(({m2}) / ({n} - 1)) WHEN {n} > 0 THEN 0D END")]
    op = ("CASE WHEN metric IN ('counts', 'types') THEN 'sum' "
          "WHEN metric IN ('ints', 'distribution') AND __family IN "
          "('min', 'max') THEN __family "
          "WHEN metric = 'distribution' THEN 'wmean' " + "".join(
              f"WHEN metric = {_sql_str(ns)} AND __family = {_sql_str(c)} "
              f"THEN '{o}' " for (ns, c), o in custom.items())
          + "ELSE 'first' END")

    def by_op(**values: str) -> str:
        return f"CASE {op} " + "".join(
            f"WHEN '{o}' THEN {v} " for o, v in values.items()) + "END"

    component = _component_row(
        "__family",
        n=by_op(sum="__n_sum", min="__n_min", max="__n_max",
                first="__first.n"),
        d=by_op(sum="__d_sum", min="__d_min", max="__d_max",
                wmean="__wmean", first="__first.d"),
        s=by_op(first="__first.s"), b=by_op(first="__first.b"))

    def array(rows: List[str]) -> str:
        return f"array({', '.join(rows)})"

    hll = [_component_row("'hll'", b="__hll"),
           *_readout_rows(hll_readouts("__hll"))]
    est = _component_row("'est'", d="__d_max")  # no hll: est rows only
    families = {
        "#moments": array(moments),
        "#kll": array(_readout_rows(kll_readouts("__kll", cfg))),
        "#frequent_items": array(_readout_rows(fi_readouts("__fi", cfg))),
        "#cardinality": (f"CASE WHEN __has_hll THEN {array(hll)} "
                         f"ELSE {array([est])} END"),
    }
    out = merged.selectExpr(
        *keys, "segment", "`column`", "metric", "explode(CASE __family "
        + "".join(f"WHEN '{f}' THEN {r} " for f, r in families.items())
        + f"ELSE {array([component])} END) AS __r")
    return out.select(*keys, "segment", "column", "metric", "__r.*")


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
