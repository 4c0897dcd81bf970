"""Link-graph analytics over an edge table: degree statistics,
PageRank, Markov stationary distributions and label propagation — the
corpus-curation signals (site authority, crawl-frontier
prioritization, spam-farm detection) a web-scale training pipeline
derives from its link structure.  Complements ``dedup.
connected_components`` (single-link closure) with importance scoring.

Scale shape: every walk runs :func:`_power_iterate`, the one loop of
this module.  PageRank is the canonical iterative join workload — it
is :func:`stationary_distribution` at unit edge weights, whose step
(:func:`_markov_step`) is ONE equi-join of the rank vector against the
edge list (shuffle keyed by node id; skew bound = one node's
out-edges) plus a groupBy-sum, with dangling mass folded in from a
1-row broadcast aggregate.  The loop materializes the (node-sized)
state so lineage stays O(1) — the edge table itself is scanned once
per iteration and never re-derived — and releases each superseded
state, and every state it holds when a step fails.  Degree stats are
single partial-agged aggregations.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whylogs_spark.core.util import materialize, release

__all__ = ["degree_stats", "pagerank", "stationary_distribution",
           "label_propagation"]


def _power_iterate(state: DataFrame, step: Callable[[DataFrame], DataFrame],
                   iterations: int, every: int = 1) -> DataFrame:
    """``step`` applied ``iterations`` times to ``state``.  Every
    ``every``-th state and the last are materialized; the states
    between are lazily ``persist()``-ed, since a step may read its
    predecessor several times and an unpersisted chain would recompute
    each read.  Once a new cut holds the lineage, the previous cut
    (``state`` itself at first) and the persisted states it consumed
    are released; if a step fails, every state the loop holds is."""
    cut, pending = state, []

    def drop():
        release(cut)
        for p in pending:
            p.unpersist()

    try:
        for done in range(1, iterations + 1):
            nxt = step(state)
            if done % every and done < iterations:
                state = nxt.persist()
                pending.append(state)
                continue
            state = materialize(nxt)
            drop()
            cut, pending = state, []
    except BaseException:
        drop()
        raise
    return state


def degree_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node out/in degree over a distinct-edge view: ``(node,
    out_degree, in_degree)`` with 0 for a side the node never appears
    on.  Null endpoints are dropped; duplicate (src, dst) rows count
    once (graph semantics, not multigraph).

    Two partial-agged aggregations + one outer join on node id."""
    e = edges.filter(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    ).select(F.col(src).alias("__s"), F.col(dst).alias("__d")) \
        .distinct()
    outd = e.groupBy(F.col("__s").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree"))
    ind = e.groupBy(F.col("__d").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree"))
    return (
        outd.join(ind, "node", "outer")
        .select("node",
                F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Power-iteration PageRank with uniform dangling-mass
    redistribution: ``(node, rank)``, ranks summing to 1.

    The fixed-iteration form (not convergence-tested) so the result
    is a deterministic function of the edge set — replayable in any
    engine by unrolling the same ``iterations`` steps:

        r'(v) = (1−d)/N + d·(Σ_{u→v} r(u)/out(u) + dangling/N)

    where ``dangling = Σ r(u)`` over nodes with no out-edges.
    Duplicate edges count once; null endpoints drop.

    This is :func:`stationary_distribution` over the distinct edges
    at unit weight (so each node splits its rank evenly over its
    out-edges) with ``damping`` set, renamed to ``(node, rank)``.
    Per iteration: one broadcast of the 1-row dangling aggregate, one
    rank⋈edges equi-join keyed by src (the only data-sized shuffle),
    one groupBy-sum.  The rank vector is node-sized and materialized
    each step, so plan depth and lineage stay O(1) regardless of
    ``iterations``.
    """
    if not 0.0 <= damping <= 1.0:
        raise ValueError(f"damping must be in [0, 1]: {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    unit = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")) \
        .distinct().withColumn("__w", F.lit(1.0))
    return stationary_distribution(
        unit, "src", "dst", "__w", iterations, damping=damping
    ).select(F.col("state").alias("node"),
             F.col("probability").alias("rank"))


def stationary_distribution(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "probability",
    iterations: int = 30,
    damping: float = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Stationary distribution of a weighted Markov chain by fixed
    power iteration: ``(state, probability)``, probabilities summing
    to 1 — where does a behavioral process spend its time in the long
    run (feed it ``ops.events.transition_matrix`` output).

    π' = π P with per-source weight re-normalization (so count
    matrices work as well as probability matrices) and the mass of
    DANGLING states (appearing only as destinations) redistributed
    uniformly, exactly :func:`pagerank`'s convention at damping 1.
    With ``damping`` set, the damped recurrence
    pr' = (1−d)/N + d·(πP + dangling/N) — the WEIGHTED PageRank that
    TextRank runs over word co-occurrence graphs.
    Fixed iterations keep the result a deterministic function of the
    edge set (a periodic chain oscillates rather than converges —
    callers picking ``iterations`` choose their averaging; the
    default 30 settles every aperiodic chain of practical size).

    Same scale shape as :func:`pagerank`: the edge frame is
    materialized once, each source's weight total is one groupBy joined
    onto the node-sized state (never onto the edges), each iteration
    is one equi-join + groupBy-sum with the dangling mass folded in
    from a 1-row broadcast, and the state vector is materialized every
    ``checkpoint_every`` steps (lineage depth bounded at that many
    joins).  Steps between checkpoints are lazily ``persist()``-ed —
    each step references its predecessor three times (dangling agg,
    contribution join, carry-through), so an unpersisted lazy chain
    would recompute 3^k subtrees.  Wall time at small scale is
    job-count-bound (one materialization job per checkpoint), so a
    larger ``checkpoint_every`` trades scheduler round-trips against
    plan depth; numerically identical either way.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    if damping is not None and not 0.0 <= damping <= 1.0:
        raise ValueError(f"damping must be in [0, 1]: {damping}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1: {checkpoint_every}")
    w = F.col(weight).cast("double")
    e = materialize(edges.filter(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
        & w.isNotNull() & (w > 0)
    ).select(F.col(src).alias("__s"), F.col(dst).alias("__d"),
             w.alias("__w")))
    nodes = materialize(e.select(F.col("__s").alias("state"))
                        .union(e.select(F.col("__d").alias("state")))
                        .distinct())
    n_nodes = nodes.count()
    if n_nodes == 0:
        release(e)
        return nodes.select("state", F.lit(0.0).alias("probability"))
    try:
        # each source's weight total rides on the node-sized state, so
        # renormalizing never joins the edge table
        tot = e.groupBy(F.col("__s").alias("state")).agg(
            F.sum("__w").alias("__tw"))
        state = materialize(nodes.join(tot, "state", "left").select(
            "state", "__tw", F.lit(1.0 / n_nodes).alias("probability")))
        d = None if damping is None else float(damping)
        state = _power_iterate(
            state, lambda s: _markov_step(s, e, n_nodes, d),
            int(iterations), int(checkpoint_every))
    finally:
        release(e, nodes)
    return state.select("state", "probability")


def _markov_step(state: DataFrame, e: DataFrame, n_nodes: int,
                 d) -> DataFrame:
    """One power-iteration step of :func:`stationary_distribution`:
    ``π' = πP + dangling/N`` over the edges ``e`` (``__s, __d, __w``),
    damped to ``(1−d)/N + d·(πP + dangling/N)`` when ``d`` is set.
    ``state`` is ``(state, __tw, probability)``: ``__tw`` is the
    state's total out-weight, null on a dangling state.  Uncut, so the
    plan audit reads one step's physical plan from it."""
    dang = state.agg(
        F.coalesce(F.sum(F.when(F.col("__tw").isNull(),
                                F.col("probability"))),
                   F.lit(0.0)).alias("__dang"))
    contrib = (
        state.join(e, state["state"] == e["__s"])
        .select(F.col("__d").alias("state"),
                (F.col("probability") * (F.col("__w") / F.col("__tw")))
                .alias("__c"))
        .groupBy("state").agg(F.sum("__c").alias("__in"))
    )
    flow = (F.coalesce(F.col("__in"), F.lit(0.0))
            + F.col("__dang") / F.lit(float(n_nodes)))
    if d is not None:
        flow = F.lit((1.0 - d) / n_nodes) + F.lit(d) * flow
    return (
        state.select("state", "__tw").join(contrib, "state", "left")
        .crossJoin(F.broadcast(dang))
        .select("state", "__tw", flow.alias("probability"))
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), deterministic variant: ``(node, community)``.

    Every node starts with its own id as label; each iteration every
    node adopts the most frequent label among its neighbors, ties
    broken by the SMALLEST label — a total order, so the fixed
    ``iterations`` output is a pure function of the edge set
    (replayable in any engine; synchronous LPA on bipartite
    structures can oscillate rather than converge, which fixed
    iterations also make well-defined).  The graph is treated as
    undirected (edges symmetrized), duplicate edges count once,
    self-loops and null endpoints drop.  Isolated update targets
    keep their previous label.

    Scale shape: :func:`pagerank`'s discipline — the symmetrized
    distinct edge set is materialized once, each iteration is ONE
    labels⋈edges equi-join plus two partial-agged aggregations
    ((node, label) counts, then a struct-min argmax per node), and
    the node-sized label vector is materialized per step (O(1)
    lineage; per-step cadence measured optimal — see PLANS.md).
    A celebrity node's in-messages partial-aggregate map-side per
    (node, label), so hub skew ships one row per partition per
    distinct neighbor label, never its degree.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    base = edges.filter(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
        & (F.col(src) != F.col(dst))
    ).select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    und = materialize(base.union(base.select(F.col("__d").alias("__s"),
                                             F.col("__s").alias("__d")))
                      .distinct())
    nodes = materialize(und.select(F.col("__s").alias("node")).distinct())
    try:
        return _power_iterate(
            nodes.select("node", F.col("node").alias("community")),
            lambda labels: _label_step(labels, und), int(iterations))
    finally:
        release(und, nodes)


def _label_step(labels: DataFrame, und: DataFrame) -> DataFrame:
    """One synchronous update of :func:`label_propagation`: every node
    adopts its neighbors' most frequent label, ties to the smallest;
    a node with no neighbor keeps its own."""
    msgs = (labels.join(und, labels["node"] == und["__s"])
            .select(F.col("__d").alias("node"), "community"))
    cnt = msgs.groupBy("node", "community").agg(
        F.count(F.lit(1)).alias("__c"))
    pick = cnt.groupBy("node").agg(
        F.min(F.struct((F.lit(0) - F.col("__c")).alias("nc"),
                       F.col("community").alias("lab")))
        .alias("__m"))
    return labels.join(pick, "node", "left").select(
        "node", F.coalesce(F.col("__m.lab"), F.col("community"))
        .alias("community"))
