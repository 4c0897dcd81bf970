"""One materialization policy: every lineage cut goes through
``core.util.materialize``, and the blocks of a cut are released once no
result can read them."""

import pathlib
import re

import pyspark.sql.functions as F
import pytest

from whylogs_spark.core.util import materialize, release

PKG = pathlib.Path(__file__).resolve().parents[1] / "whylogs_spark"


def _persistent_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _rdd_id(cut):
    return cut._jdf.queryExecution().logical().rdd().id()


def test_only_util_cuts_lineage_or_reads_whylogs_conf():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "core/util.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(r"\.localCheckpoint\(|spark\.whylogs\.", line):
                offenders.append(f"{rel}:{no}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_fits_release_their_base(spark):
    from whylogs_spark.ops.causal import fit_logistic
    from whylogs_spark.ops.robust import huber_regression

    df = spark.range(200).select(
        (F.col("id") % 13).cast("double").alias("x"),
        ((F.col("id") % 3) == 0).cast("double").alias("y"),
        ((F.col("id") % 13) * 0.5 + (F.col("id") % 5)).alias("v"))
    before = _persistent_ids(spark)
    for _ in range(50):
        fit_logistic(df, "y", ["x"], max_iter=3)
    for _ in range(50):
        huber_regression(df, "v", ["x"], max_iter=2).collect()
    assert _persistent_ids(spark) - before == set()


def test_pagerank_keeps_only_the_final_state(spark):
    from whylogs_spark.ops.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (5, 1)], "src long, dst long")
    before = _persistent_ids(spark)
    ranks = pagerank(edges, iterations=10)
    assert len(_persistent_ids(spark) - before) <= 1
    got = {r.node: r.rank for r in ranks.collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)


def test_graph_walks_release_their_cuts_when_a_step_fails(
        spark, monkeypatch):
    from whylogs_spark.ops import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (5, 1)], "src long, dst long")

    def failing_on_third_call(step):
        calls = []

        def wrapped(*args):
            calls.append(args)
            if len(calls) == 3:
                raise RuntimeError("step failed")
            return step(*args)
        return wrapped

    for step, walk in (("_markov_step", graph.pagerank),
                       ("_label_step", graph.label_propagation)):
        monkeypatch.setattr(graph, step,
                            failing_on_third_call(getattr(graph, step)))
        before = _persistent_ids(spark)
        with pytest.raises(RuntimeError, match="step failed"):
            walk(edges, iterations=5)
        assert _persistent_ids(spark) - before == set(), step


def test_release_leaves_frames_it_did_not_cut(spark):
    own = spark.range(10).groupBy((F.col("id") % 2).alias("k")).count() \
        .localCheckpoint()
    # a checkpoint the caller made is not materialize's to release
    release(own)
    assert own.count() == 2
    cut = materialize(spark.range(10).groupBy(
        (F.col("id") % 3).alias("k")).count())
    # cutting a cut again gives a handle that is not the second
    # caller's to release
    again = materialize(cut)
    assert again is not cut
    release(again)
    assert cut.count() == 3
    rdd_id = _rdd_id(cut)
    assert rdd_id in _persistent_ids(spark)
    release(cut)
    assert rdd_id not in _persistent_ids(spark)
    assert own.count() == 2


def test_profile_leaves_a_materialized_input_readable(spark):
    from whylogs_spark.core.profiler import profile, profile_partitions

    # an operator's result that is itself a cut (label_propagation
    # returns its last state like this): profiling it must not drop
    # the caller's blocks
    cut = materialize(spark.range(20).groupBy(
        (F.col("id") % 4).alias("k")).count())
    rdd_id = _rdd_id(cut)
    for _ in range(2):
        assert profile(cut).to_pandas()["column"].nunique() == 2
    parts = profile_partitions(cut, {"k": ["k"]}, columns=["count"])
    assert set(parts) == {"k"}
    assert rdd_id in _persistent_ids(spark)
    assert sorted(r.k for r in cut.collect()) == [0, 1, 2, 3]
    release(cut)


def test_kill_switch_disables_every_cut(spark):
    agg = spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()
    spark.conf.set("spark.whylogs.cutLineage", "false")
    try:
        assert materialize(agg) is agg
        assert materialize(agg, only_if_expensive=True) is agg
    finally:
        spark.conf.unset("spark.whylogs.cutLineage")
    cut = materialize(agg)
    assert cut is not agg
    release(cut)
