"""Shared plan-shaping helpers."""

from __future__ import annotations

import re
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, List, Optional, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

#: In-memory bytes of input one task should own when round-robin
#: repartitioning an under-partitioned source (override per session
#: with ``spark.whylogs.taskTargetBytes``).  ~2 MB of rows is a couple
#: of seconds of Arrow sketch work — small enough to stay parallel,
#: large enough that the fixed per-task Python-worker cost (~0.3 s
#: measured on the r13 bench host, OPTIMIZATION_r13.md) stays a
#: minority share.
TASK_TARGET_BYTES = 2 * 1024 * 1024

#: Floor of the adaptive width: a wrong-small optimizer estimate costs
#: at most a (true_size / 4)-way serialization, never a single task.
MIN_ADAPTIVE_SLICES = 4

#: Ceiling on what ``cut_derived_lineage`` will materialize (override
#: with ``spark.whylogs.checkpointMaxBytes``).  The cut trades ONE
#: materialization for N re-executions, which only pays when the
#: intermediate is BOUNDED: a ~256 MB table writes to local block
#: storage in ~1 s and is dwarfed by the multi-job upstream it saves,
#: while an unbounded frame (a 10x row-expanding join, a full-width
#: corpus) costs more to store than the column-pruned re-scans it
#: replaces — measured 37x task-sec blowup on profile_scale_10x when
#: the r13 cut fired on a crossJoin-replicated 6M-row frame.  Unknown
#: estimate => no cut (the conservative pre-r13 behavior).
CHECKPOINT_MAX_BYTES = 256 * 1024 * 1024

#: Logical-plan node names whose re-execution is expensive (shuffles,
#: global funnels, python stages) — used to decide whether a profile
#: input is worth local-checkpointing before fanning out the chunked
#: aggregate + sketch jobs that each re-execute the input subplan.
_EXPENSIVE_NODES = frozenset((
    "Join", "Aggregate", "Window", "Generate", "Expand", "Offset",
    "GlobalLimit", "LocalLimit", "Sort", "Distinct", "Deduplicate",
    "Repartition", "RepartitionByExpression", "RebalancePartitions",
    "Sample", "Intersect", "Except", "MapInArrow", "MapInPandas",
    "PythonMapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "CoGroup", "MapGroups", "MapElements",
))

_NODE_RE = re.compile(r"([A-Za-z]+)")


def plan_size_estimate(df: DataFrame) -> Optional[int]:
    """Catalyst's in-memory size estimate of ``df`` in bytes, or
    ``None`` when the optimizer doesn't know (non-positive, or the
    "unknown" sentinel of ~8 EB that defaultSizeInBytes produces)."""
    try:
        sz = int(str(df._jdf.queryExecution().optimizedPlan()
                     .stats().sizeInBytes()))
    except Exception:
        return None
    if sz <= 0 or sz >= (1 << 50):
        return None
    return sz


def _has_expensive_node(df: DataFrame) -> bool:
    """True when the optimized logical plan contains a node from
    ``_EXPENSIVE_NODES`` OUTSIDE any InMemoryRelation subtree (a cached
    input replays from block storage — its build plan is history, not
    per-consumer cost)."""
    try:
        tree = df._jdf.queryExecution().optimizedPlan().treeString()
    except Exception:
        return False
    skip_indent = -1
    for line in tree.splitlines():
        stripped = line.lstrip(" :+-*")
        indent = len(line) - len(stripped)
        if skip_indent >= 0:
            if indent > skip_indent:
                continue
            skip_indent = -1
        if stripped.startswith("InMemoryRelation"):
            skip_indent = indent
            continue
        m = _NODE_RE.match(stripped)
        if m and m.group(1) in _EXPENSIVE_NODES:
            return True
    return False


def cut_derived_lineage(df: DataFrame, bounded: bool = False) -> DataFrame:
    """Lazy ``localCheckpoint`` when (and only when) the input plan
    carries shuffle / global-funnel / python work that every downstream
    consumer job would otherwise RE-EXECUTE — the profiler fans one
    input out to several concurrent chunk jobs plus the sketch pass, so
    an expensive upstream is paid once instead of once per job.  A
    plain scan / cache / projection / filter input is left alone (each
    chunk's column-pruned scan is cheaper than materializing the full
    width).  Same non-reuse contract as ``core.prefix.cut_lineage``:
    a local checkpoint is a fresh RDD per invocation — nothing is
    shared across calls, every invocation recomputes from its inputs.

    Bounded-intermediate gate (r13): the cut fires only when Catalyst
    can BOUND the frame (size estimate known and <=
    ``spark.whylogs.checkpointMaxBytes``, default
    ``CHECKPOINT_MAX_BYTES``).  A row-expanding join or a full-width
    corpus plan costs more to materialize than the column-pruned
    re-scans it would replace; an unknown estimate is treated as
    unbounded.  ``bounded=True`` bypasses the gate — for call sites
    whose input is bounded BY CONTRACT (e.g. the incremental-dedup
    batch index: batch << history, and the index is strictly smaller
    than the text it summarizes), where the caller knows the
    materialize-vs-recompute trade better than a generic size cap.
    """
    if not _has_expensive_node(df):
        return df
    if not bounded:
        est = plan_size_estimate(df)
        if est is None:
            return df
        try:
            cap = int(df.sparkSession.conf.get(
                "spark.whylogs.checkpointMaxBytes",
                str(CHECKPOINT_MAX_BYTES)))
        except Exception:
            cap = CHECKPOINT_MAX_BYTES
        if est > cap:
            return df
    try:
        # eager like cut_lineage (r13 measured): the profiler fans its
        # input out to CONCURRENT chunk jobs; a lazy checkpoint makes
        # every concurrent first consumer block on (or recompute) the
        # same un-materialized blocks.  One synchronous job
        # materializes, all chunk jobs then read.
        eager = str(df.sparkSession.conf.get(
            "spark.whylogs.cutLineageEager", "true")).lower() != "false"
        return rightsize_width(df).localCheckpoint(eager=eager)
    except Exception:
        return df


def rightsize_width(df: DataFrame) -> DataFrame:
    """Shuffle-free ``coalesce`` down to ``ceil(size /
    spark.whylogs.taskTargetBytes)`` slices when the optimizer has a
    credible size estimate, floored at ``max(MIN_ADAPTIVE_SLICES,
    cores/4)`` so CPU-bearing consumers keep slots (see
    ``iteration_base``).  Unknown or large estimates return ``df``
    unchanged.  Shared by every lineage cut: a small collapsed table
    otherwise inherits its upstream's partition count (32-128
    near-empty slices after unions) and pays the fixed per-task cost
    in the materialization job AND every consumer stage."""
    est = plan_size_estimate(df)
    if est is None:
        return df
    try:
        tb = int(df.sparkSession.conf.get(
            "spark.whylogs.taskTargetBytes", str(TASK_TARGET_BYTES)))
    except Exception:
        tb = TASK_TARGET_BYTES
    target = max(1, -(-est // max(tb, 1)))
    try:
        cores = df.sparkSession.sparkContext.defaultParallelism
        target = max(target, MIN_ADAPTIVE_SLICES, cores // 4)
        if target < df.rdd.getNumPartitions():
            return df.coalesce(target)
    except Exception:
        pass
    return df


def iteration_base(df: DataFrame, eager: bool = False) -> DataFrame:
    """Prepare the projected base frame of an iterative fit (IRLS /
    Newton / golden-section): right-size its width, then cut lineage
    with a ``localCheckpoint`` so the per-iteration aggregates replay
    from materialized blocks instead of re-executing the upstream
    plan.

    Width: an iteration loop runs ``max_iter`` aggregate jobs over the
    SAME small base — a few MB of projected doubles spread over one
    partition per core pays ``iters x cores`` task launches of pure
    overhead.  When the optimizer has a credible size estimate,
    ``coalesce`` (no shuffle) down to ``ceil(size /
    spark.whylogs.taskTargetBytes)`` slices first; unknown or large
    estimates keep the input's width (the pre-r13 behavior).  Same
    non-reuse contract as every other lineage cut in the repo: a fresh
    checkpoint per invocation, nothing shared across calls.
    """
    # floor at a quarter of the slots (inside rightsize_width):
    # iteration aggregates do real CPU work (exp/log link functions)
    # per byte, and a purely size-derived width serializes it —
    # measured +60% WALL on the golden-section NLL loop at 2 slices
    # even as task-seconds fell 64%.  cores/4 keeps the wall flat and
    # still cuts task launches 4x on a 32-slot host.
    try:
        return rightsize_width(df).localCheckpoint(eager=eager)
    except Exception:
        return df


def ensure_parallelism(df: DataFrame,
                       est_bytes: Optional[int] = None) -> DataFrame:
    """Round-robin repartition when the source has far fewer partitions
    than the cluster has slots (e.g. one small parquet file locally).
    A no-op on real-scale inputs, which already arrive well-partitioned —
    the guard keeps us from adding a gratuitous 100 TB shuffle.

    The repartition width is scale-adaptive (r13, guide §2): when the
    optimizer has a credible size estimate, target
    ``clamp(ceil(size / spark.whylogs.taskTargetBytes),
    MIN_ADAPTIVE_SLICES, defaultParallelism)`` so a 1 MB slice gets a
    handful of tasks instead of one per core — each Python-stage task
    costs ~0.3 s of fixed worker overhead, so width beyond the data is
    pure waste.  Unknown estimate falls back to ``defaultParallelism``
    (the pre-r13 behavior).
    """
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism
        nparts = df.rdd.getNumPartitions()
    except Exception:
        return df
    if nparts * 2 > target:
        return df
    if est_bytes is None:
        est_bytes = plan_size_estimate(df)
    if est_bytes is not None:
        try:
            tb = int(df.sparkSession.conf.get(
                "spark.whylogs.taskTargetBytes", str(TASK_TARGET_BYTES)))
        except Exception:
            tb = TASK_TARGET_BYTES
        tb = max(tb, 1)
        sized = max(MIN_ADAPTIVE_SLICES, -(-est_bytes // tb))
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
