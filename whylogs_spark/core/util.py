"""Shared plan-shaping helpers."""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, List, Optional, Sequence

from pyspark import inheritable_thread_target
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from whylogs_spark.core.plan import is_expensive

_log = logging.getLogger("whylogs_spark")

#: In-memory bytes of input one task should own after a cut or a
#: round-robin repartition.  ~2 MB of rows is a couple of seconds of
#: Arrow sketch work — small enough to stay parallel, large enough that
#: the fixed per-task Python-worker cost (~0.3 s measured on the r13
#: bench host, OPTIMIZATION_r13.md) stays a minority share.
TASK_TARGET_BYTES = 2 * 1024 * 1024

#: Floor of the adaptive width: a wrong-small optimizer estimate costs
#: at most a (true_size / 4)-way serialization, never a single task.
MIN_ADAPTIVE_SLICES = 4

#: Ceiling on what ``materialize(only_if_expensive=True)`` will cut.
#: The cut trades ONE materialization for N re-executions, which only
#: pays when the intermediate is BOUNDED: a ~256 MB table writes to
#: local block storage in ~1 s and is dwarfed by the multi-job
#: upstream it saves, while an unbounded frame (a 10x row-expanding
#: join, a full-width corpus) costs more to store than the
#: column-pruned re-scans it replaces — measured 37x task-sec blowup on
#: profile_scale_10x when the cut fired on a crossJoin-replicated
#: 6M-row frame.  Unknown estimate => no cut.
CHECKPOINT_MAX_BYTES = 256 * 1024 * 1024

#: Attribute :func:`materialize` sets on the frames it cuts; only
#: those are released by :func:`release`.
_CUT = "_whylogs_cut"


def plan_size_estimate(df: DataFrame) -> Optional[int]:
    """Catalyst's in-memory size estimate of ``df`` in bytes, or
    ``None`` when the optimizer doesn't know (non-positive, or the
    "unknown" sentinel of ~8 EB that defaultSizeInBytes produces) or
    the frame is streaming (no batch plan to estimate)."""
    try:
        sz = int(str(df._jdf.queryExecution().optimizedPlan()
                     .stats().sizeInBytes()))
    except AnalysisException:
        return None
    if sz <= 0 or sz >= (1 << 50):
        return None
    return sz


def materialize(df: DataFrame, *, only_if_expensive: bool = False,
                lazy: bool = False) -> DataFrame:
    """Cut ``df``'s lineage with a ``localCheckpoint``: every consumer
    then reads materialized blocks instead of re-executing the upstream
    plan.  The library's only lineage cut.

    Why a local checkpoint and NOT ``.persist()``: the cache manager
    keys entries by canonical plan, so a persisted intermediate would be
    silently REUSED by the next identical invocation in the same
    session — benchmark reps would measure cache hits.  A local
    checkpoint is a fresh RDD per call.  The trade at scale: the cut
    frame loses lineage, so an executor loss fails the consuming job
    instead of recomputing.

    Width: with a credible size estimate the frame is coalesced (no
    shuffle) to ``ceil(estimate / TASK_TARGET_BYTES)`` slices, floored
    at ``max(MIN_ADAPTIVE_SLICES, cores // 4)``; a frame already
    narrower keeps its width.  A small collapsed table otherwise
    inherits its upstream's 32-128 near-empty partitions and pays the
    fixed per-task cost in the materializing job AND every consumer
    stage; the ``cores // 4`` floor keeps CPU-bearing consumers (the
    iterative fits' link functions) from serializing — measured +60%
    wall on a golden-section NLL loop at 2 slices.

    ``only_if_expensive=True`` cuts only an input whose plan carries
    shuffle / global-funnel / python work outside any cache AND whose
    estimate is at most ``CHECKPOINT_MAX_BYTES``: a plain scan or
    projection is left alone (each consumer's column-pruned scan is
    cheaper than materializing the full width).

    Eager by default: concurrent consumers of a lazy checkpoint each
    recompute or block on the same un-materialized blocks (r13
    measured ``outlier_bins_lineitem`` 26.1 -> 14.6 s from flipping
    eager alone).  ``lazy=True`` is for operators that return an
    unevaluated frame and promise no job at build time.

    ``spark.whylogs.cutLineage=false`` disables every cut for the
    session.  It exists for plan audits: ``explain()`` of a cut frame
    shows only ``Scan ExistingRDD``, so the audit captures the uncut
    plan to assert scan-level properties (scripts/explain_audit.py).
    Iterative operators then re-derive every state, so leave it on
    outside audits.  A streaming frame is returned as it is.  A frame
    this function already cut is not cut again: it comes back as a new
    handle on the same blocks, which :func:`release` leaves alone, so
    only the caller that made a cut can release it.
    """
    if vars(df).get(_CUT):
        return type(df)(df._jdf, df.sparkSession)
    if str(df.sparkSession.conf.get(
            "spark.whylogs.cutLineage", "true")).lower() == "false":
        return df
    if df.isStreaming:
        _log.warning("materialize: streaming frame left uncut")
        return df
    if only_if_expensive and not is_expensive(df):
        return df
    est = plan_size_estimate(df)
    if only_if_expensive and (est is None or est > CHECKPOINT_MAX_BYTES):
        return df
    if est is not None:
        cores = df.sparkSession.sparkContext.defaultParallelism
        # coalesce never widens: a frame already at or below the target
        # keeps its own partition count
        df = df.coalesce(max(-(-est // TASK_TARGET_BYTES),
                             MIN_ADAPTIVE_SLICES, cores // 4))
    out = df.localCheckpoint(eager=not lazy)
    setattr(out, _CUT, True)
    return out


def release(*dfs: DataFrame) -> None:
    """Drop the checkpoint blocks behind each frame :func:`materialize`
    cut; any other frame, including the new handle it returns for an
    input that was already cut, is left alone.  Call it only once no
    result can still read the frame: a released cut fails every later
    job that scans it."""
    for df in dfs:
        if vars(df).get(_CUT):
            df._jdf.queryExecution().logical().rdd().unpersist(False)


def ensure_parallelism(df: DataFrame,
                       est_bytes: Optional[int] = None) -> DataFrame:
    """Round-robin repartition when the source has far fewer partitions
    than the cluster has slots (e.g. one small parquet file locally).
    A no-op on real-scale inputs, which already arrive well-partitioned —
    the guard keeps us from adding a gratuitous 100 TB shuffle.

    The repartition width is scale-adaptive (r13, guide §2): when the
    optimizer has a credible size estimate, target
    ``clamp(ceil(size / TASK_TARGET_BYTES), MIN_ADAPTIVE_SLICES,
    defaultParallelism)`` so a 1 MB slice gets a handful of tasks
    instead of one per core — each Python-stage task costs ~0.3 s of
    fixed worker overhead, so width beyond the data is pure waste.
    Unknown estimate falls back to ``defaultParallelism``.
    """
    if df.isStreaming:
        _log.warning("ensure_parallelism: streaming frame left as is")
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    nparts = df.rdd.getNumPartitions()
    if nparts * 2 > target:
        return df
    if est_bytes is None:
        est_bytes = plan_size_estimate(df)
    if est_bytes is not None:
        sized = max(MIN_ADAPTIVE_SLICES, -(-est_bytes // TASK_TARGET_BYTES))
        target = min(target, sized)
    if nparts * 2 <= target:
        return df.repartition(target)
    return df


def run_concurrent(spark: SparkSession,
                   thunks: Sequence[Callable[[], object]]) -> List[object]:
    """Run independent Spark-launching thunks on at most 8 driver threads
    and return their results in order.

    Every thunk runs to its end. If any fail, the first failure in
    submission order is raised with each later failure attached as a
    note, so the caller sees its own exception type.

    Each thunk gets its own ``inheritable_thread_target(spark)`` copy of
    the caller's local properties: its jobs carry the caller's job group
    and tags, and no two threads share the object a query writes its
    SQL execution id to."""

    def wrap(thunk):
        inherit = inheritable_thread_target(spark)
        # pinned-thread mode off: returns the session, nothing to inherit
        return thunk if inherit is spark else inherit(thunk)

    with ThreadPoolExecutor(max_workers=max(1, min(len(thunks), 8))) as pool:
        futures = [pool.submit(wrap(t)) for t in thunks]
    failures = [e for e in (f.exception() for f in futures) if e is not None]
    if failures:
        for other in failures[1:]:
            failures[0].add_note(f"a concurrent thunk also failed: {other!r}")
        raise failures[0]
    return [f.result() for f in futures]
