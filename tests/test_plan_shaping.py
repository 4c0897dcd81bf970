"""Plan-shaping helpers: adaptive ensure_parallelism width, and
materialize — the conditional cut for derived profile inputs
(formerly cut_derived_lineage) and the right-sized cut every
IRLS-style fit takes of its base (formerly iteration_base)."""

import pyspark.sql.functions as F
import pytest

from whylogs_spark.core import util
from whylogs_spark.core.plan import Plan, is_expensive, named
from whylogs_spark.core.util import (
    MIN_ADAPTIVE_SLICES,
    ensure_parallelism,
    materialize,
    plan_size_estimate,
)


def test_plan_size_estimate_scan_vs_unknown(spark, lineitem):
    est = plan_size_estimate(lineitem)
    assert est is not None and est > 0
    # a stream-less empty RDD-backed frame has no honest estimate path
    # worth trusting; absurd sentinels must map to None
    assert plan_size_estimate(lineitem) < (1 << 50)


def test_expensive_node_detection(spark, lineitem):
    assert not is_expensive(lineitem)
    assert not is_expensive(
        lineitem.select("l_quantity").filter(F.col("l_quantity") > 0))
    assert is_expensive(lineitem.offset(10).limit(10))
    assert is_expensive(
        lineitem.groupBy("l_returnflag").count())
    assert is_expensive(
        lineitem.join(lineitem.select("l_orderkey").distinct(),
                      "l_orderkey"))


def test_expensive_node_in_scalar_subquery(spark, lineitem):
    # the aggregate lives only in the filter's subquery expression: a
    # walk over children() alone sees Filter and the relation
    avg_q = lineitem.select(F.avg("l_quantity")).scalar()
    assert is_expensive(lineitem.filter(F.col("l_quantity") > avg_q))


def test_expensive_node_skips_cache_build_plan(spark, lineitem):
    cached = lineitem.repartition(4).cache()
    try:
        cached.count()
        # the cache's BUILD plan contains a Repartition exchange, but
        # replaying the cache costs a block read — must not be flagged
        assert not is_expensive(cached.select("l_quantity"))
    finally:
        cached.unpersist()


def test_cut_derived_lineage_noop_on_scan(spark, lineitem):
    out = materialize(lineitem, only_if_expensive=True)
    assert out is lineitem


def test_cut_derived_lineage_skips_unbounded(spark, lineitem, monkeypatch):
    # a row-EXPANDING derived plan (10x crossJoin replication) has an
    # expensive node but an unbounded estimate: materializing it costs
    # more than the column-pruned re-scans it would save — must NOT cut
    # (r13: profile_scale_10x went 50 -> 1855 task-sec when it did)
    li10 = lineitem.crossJoin(
        spark.range(10).select(F.col("id").alias("__rep"))).drop("__rep")
    est = plan_size_estimate(li10)
    if est is not None and est > 256 * 1024 * 1024:
        assert materialize(li10, only_if_expensive=True) is li10
    # shrink the cap so even a small derived frame is refused
    small = lineitem.select("l_orderkey").offset(10).limit(10)
    with monkeypatch.context() as m:
        m.setattr(util, "CHECKPOINT_MAX_BYTES", 0)
        assert materialize(small, only_if_expensive=True) is small
    assert materialize(small, only_if_expensive=True) is not small
    # an unconditional cut ignores the gate
    with monkeypatch.context() as m:
        m.setattr(util, "CHECKPOINT_MAX_BYTES", 0)
        assert materialize(small) is not small


def test_cut_derived_lineage_values_identical(spark, lineitem):
    sl = lineitem.select("l_orderkey", "l_quantity").offset(100).limit(50)
    cut = materialize(sl, only_if_expensive=True)
    assert cut is not sl
    a = sorted(r["l_orderkey"] for r in sl.collect())
    b = sorted(r["l_orderkey"] for r in cut.collect())
    assert a == b


def test_ensure_parallelism_adaptive_width(spark, lineitem):
    # single-partition small input: width derives from the size
    # estimate, floored at MIN_ADAPTIVE_SLICES, capped at
    # defaultParallelism — not blindly one task per core
    one = lineitem.select("l_quantity").coalesce(1)
    out = ensure_parallelism(one)
    n = out.rdd.getNumPartitions()
    cores = spark.sparkContext.defaultParallelism
    assert 1 <= n <= cores
    if cores > MIN_ADAPTIVE_SLICES:
        assert n >= min(MIN_ADAPTIVE_SLICES, cores)
    # unknown estimate falls back to the full width
    est_none = ensure_parallelism(one, est_bytes=None)
    assert est_none.rdd.getNumPartitions() <= cores
    # a huge claimed estimate uses every core
    wide = ensure_parallelism(one, est_bytes=10 << 30)
    assert wide.rdd.getNumPartitions() == cores


def test_ensure_parallelism_noop_when_partitioned(spark, lineitem):
    well = lineitem.repartition(spark.sparkContext.defaultParallelism)
    out = ensure_parallelism(well)
    assert out is well


def test_iteration_base_right_sizes_and_cuts(spark, orders):
    base = orders.select(
        (F.col("o_totalprice") / 1000.0).alias("__y"),
        (F.col("o_custkey") % 10).cast("double").alias("__x0"),
    ).repartition(4)
    ck = materialize(base)
    # a few hundred KB of doubles must coalesce below the input width
    assert ck.rdd.getNumPartitions() <= 4
    # lineage is cut: the checkpointed plan reads the checkpoint and
    # has no shuffle left
    plan = Plan.of(ck)
    assert plan.checkpoint_scans() == 1
    assert not plan.has(named("Exchange"))
    # values identical
    assert ck.count() == base.count()
    got = ck.agg(F.sum("__y"), F.sum("__x0")).collect()[0]
    want = base.agg(F.sum("__y"), F.sum("__x0")).collect()[0]
    assert got[0] == pytest.approx(want[0], rel=1e-12)
    assert got[1] == pytest.approx(want[1], rel=1e-12)


def test_irls_fits_unchanged_by_base_cut(spark, orders):
    # fit_logistic / fit_poisson results must be identical whether the
    # input arrives as a scan or a derived (checkpoint-triggering) plan
    from whylogs_spark.ops.causal import fit_logistic
    from whylogs_spark.ops.glm import fit_poisson

    df = orders.select(
        ((F.col("o_orderkey") % 97).cast("double") / 97.0).alias("x"),
        ((F.col("o_orderkey") % 3) == 0).cast("double").alias("yb"),
        (F.col("o_orderkey") % 5).cast("double").alias("yc"),
    )
    m1 = fit_logistic(df, "yb", ["x"])
    m2 = fit_logistic(df.offset(0), "yb", ["x"])
    assert m1["coef"]["x"] == pytest.approx(m2["coef"]["x"], rel=1e-9)
    p1 = fit_poisson(df, "yc", ["x"])
    assert p1["n"] == m1["n"]
    assert p1["converged"]
