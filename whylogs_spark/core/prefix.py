"""Distributed prefix sums (two-phase range-partitioned scan).

The classic way to compute a global running sum without a
single-partition ``Window.orderBy``: range-repartition on the order
key (RangePartitioner assigns ascending key ranges to ascending
partition ids), compute per-partition local cumulative sums, roll the
per-partition TOTALS up into per-partition starting offsets (a window
over #partitions rows — bounded by the shuffle parallelism, never the
data), and broadcast the offsets back. Identical result to the global
window; no task ever sorts more than its own slice.

Shared by ``pack_chunks(distributed=True)`` (ops/sampling.py, the
original in-repo instance of the pattern), ``roc_auc_exact`` and
``ks_2samp_exact`` — any exact ordered walk whose input can reach
corpus scale.

Requirement: ``order_cols`` must be a UNIQUE key of ``df`` (a range
boundary between duplicate keys would split ties across partitions
nondeterministically). Both AUC and KS satisfy this by construction —
their walks run over groupBy(value)-collapsed DISTINCT values.

Every walk materializes its input first (``core.util.materialize``):
a pass consumes its input from TWO plan branches (local window +
slice totals), so without the cut a CHAIN of passes doubles the
upstream subtree per pass — ``cumulative_incidence`` at sf0.1 planned
220 Exchange nodes and dozens of serialized broadcast rebuilds before
the cut, and stays linear after it.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import materialize

#: Prefix for the emitted cumulative columns: running_sums(df, ..., ["x"])
#: adds an inclusive running total named ``__cum_x``.
CUM_PREFIX = "__cum_"


def require_exchange_reuse(df: DataFrame) -> None:
    """The two-phase plans consume their range exchange from two plan
    branches (local cumsums and the slice-totals rollup). Spark
    executes that exchange ONCE under exchange reuse (the default) or
    AQE stage reuse — but with BOTH disabled, each branch re-runs the
    range partitioner, whose boundary sampling is seeded per execution
    instance, so the two branches could disagree on which slice a key
    belongs to and silently join local sums against the wrong offsets.
    Fail loudly in that configuration instead."""
    conf = df.sparkSession.conf
    reuse = str(conf.get("spark.sql.exchange.reuse", "true")).lower()
    aqe = str(conf.get("spark.sql.adaptive.enabled", "true")).lower()
    if reuse == "false" and aqe == "false":
        raise ValueError(
            "distributed prefix sums require spark.sql.exchange.reuse "
            "or spark.sql.adaptive.enabled (both are disabled): the "
            "range exchange is consumed by two plan branches and must "
            "be executed exactly once for consistent slice boundaries")


def slice_rollup(totals: DataFrame, sum_cols: Sequence[str],
                 first_col: str = None,
                 partition_cols: Sequence[str] = ()) -> DataFrame:
    """All the cross-slice metadata of a two-phase plan in ONE window
    projection over the bounded slice-totals frame (one row per
    NON-empty range slice — empty slices simply have no row, so
    ``lead`` already yields the next non-empty slice's value):

    * ``__o_<col>``: exclusive running offset of each ``sum_cols``
    * ``__g_<col>``: the grand total of each ``sum_cols``
    * ``__next_first``: the next slice's ``first_col`` (when given)

    With ``partition_cols`` every window additionally partitions by
    those keys (the grouped/segmented form — offsets and grand totals
    are then per group). Without them, the partition-less windows run
    over #shuffle-partition rows — the declared-bounded exemption
    this module carries in the repo-wide global-window audit.
    Consuming the totals frame once (instead of once per derived
    quantity) keeps the number of plan branches over the data
    exchange at two: the per-row window pass and the totals
    aggregation."""
    part = [F.col(c) for c in partition_cols]
    woff = Window.partitionBy(*part).orderBy(F.col("__slice").asc()) \
        .rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy(*part) \
        .rowsBetween(Window.unboundedPreceding,
                     Window.unboundedFollowing)
    sel = [F.col(c) for c in partition_cols] + [F.col("__slice")]
    for c in sum_cols:
        sel.append(F.coalesce(F.sum(F.col(c)).over(woff), F.lit(0))
                   .alias(f"__o_{c}"))
        sel.append(F.sum(F.col(c)).over(wall).alias(f"__g_{c}"))
    if first_col is not None:
        sel.append(
            F.lead(F.col(first_col))
            .over(Window.partitionBy(*part)
                  .orderBy(F.col("__slice").asc()))
            .alias("__next_first"))
    return totals.select(*sel)


def grouped_running_sums(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Per-group inclusive running sums of ``sum_cols`` in
    ``order_cols`` order — :func:`running_sums` keyed by
    (group, slice), the grouped two-phase shape
    ``core.summaries.exact_quantiles`` pioneered. Adds
    ``__cum_<col>`` (per-group inclusive cumulative) and
    ``__g_<col>`` (per-GROUP grand total) columns. The rollup frame
    stays bounded at groups x slices rows and is broadcast back; the
    group-key join is null-safe, so NULL group keys (the profiler's
    "None" sentinel class) survive. ``order_cols`` must be unique
    WITHIN each group (same requirement as the global form).
    """
    if not group_cols:
        return running_sums(df, order_cols, sum_cols)
    from functools import reduce
    from operator import and_

    require_exchange_reuse(df)
    df = materialize(df)
    part = [F.col(c) for c in group_cols]
    rp = df.repartitionByRange(
        *part, *[F.col(c) for c in order_cols]) \
        .withColumn("__slice", F.spark_partition_id())
    w1 = Window.partitionBy(*part, F.col("__slice")) \
        .orderBy(*[F.col(c).asc() for c in order_cols]) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = rp.select(
        "*",
        *[F.sum(F.col(c)).over(w1).alias(f"__l_{c}")
          for c in sum_cols])
    totals = rp.groupBy(*group_cols, "__slice").agg(
        *[F.sum(F.col(c)).alias(c) for c in sum_cols])
    meta = slice_rollup(totals, list(sum_cols),
                        partition_cols=group_cols)
    cond = reduce(and_, [local[c].eqNullSafe(meta[c])
                         for c in group_cols]
                  + [local["__slice"] == meta["__slice"]])
    j = local.join(F.broadcast(meta), cond) \
        .drop(meta["__slice"], *[meta[c] for c in group_cols])
    keep: List = [F.col(c) for c in df.columns]
    keep += [(F.col(f"__l_{c}") + F.col(f"__o_{c}"))
             .alias(f"{CUM_PREFIX}{c}") for c in sum_cols]
    keep += [F.col(f"__g_{c}") for c in sum_cols]
    return j.select(*keep)


def running_sums(
    df: DataFrame,
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    total_cols: Sequence[str] = (),
) -> DataFrame:
    """Add inclusive global running sums of ``sum_cols`` in
    ``order_cols`` order as ``__cum_<col>`` columns, plus the GRAND
    totals as ``__g_<col>`` columns (they fall out of the slice
    rollup for free, and carrying them saves every consumer a third
    pass over the grouped input for its normalizing totals).
    ``total_cols`` get ONLY their grand total — no per-row cumulative
    window work on the data pass.

    Plan shape: one range exchange of the input, consumed by exactly
    two branches — the per-row window pass and the bounded
    (#partitions-row) totals rollup (``slice_rollup``) joined back by
    broadcast. No single-partition window over the data ever appears;
    the only partition-less windows run over the slice-totals frame
    (declared-bounded input, see scripts/explain_audit.py's
    global-window audit).
    """
    require_exchange_reuse(df)
    df = materialize(df)
    order = [F.col(c).asc() for c in order_cols]
    rp = df.repartitionByRange(*[F.col(c) for c in order_cols]) \
        .withColumn("__slice", F.spark_partition_id())
    w1 = Window.partitionBy("__slice").orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = rp.select(
        "*",
        *[F.sum(F.col(c)).over(w1).alias(f"__l_{c}") for c in sum_cols])
    all_cols = list(sum_cols) + [c for c in total_cols
                                 if c not in sum_cols]
    totals = rp.groupBy("__slice").agg(
        *[F.sum(F.col(c)).alias(c) for c in all_cols])
    out = local.join(
        F.broadcast(slice_rollup(totals, all_cols)), "__slice")
    keep: List = [F.col(c) for c in df.columns]
    keep += [(F.col(f"__l_{c}") + F.col(f"__o_{c}"))
             .alias(f"{CUM_PREFIX}{c}") for c in sum_cols]
    keep += [F.col(f"__g_{c}") for c in all_cols]
    return out.select(*keep)
