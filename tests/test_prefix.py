"""Distributed prefix sums (core/prefix.py) and their consumers: the
range-partitioned rewrite of roc_auc_exact / ks_2samp_exact must be
value-identical to the single-window formulation at any partitioning.
"""

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from whylogs_spark.core import drift as D
from whylogs_spark.core import model_perf as M
from whylogs_spark.core.plan import Plan, named
from whylogs_spark.core.prefix import running_sums


def test_running_sums_matches_global_window(spark):
    rng = random.Random(7)
    rows = [(float(k), rng.randint(0, 9), rng.randint(0, 5))
            for k in rng.sample(range(10_000), 500)]
    df = spark.createDataFrame(
        rows, "k double, a int, b int").repartition(13)
    got = {r.k: (r["__cum_a"], r["__cum_b"])
           for r in running_sums(df, ["k"], ["a", "b"]).collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    want = {r.k: (r.ca, r.cb)
            for r in df.select("k", F.sum("a").over(w).alias("ca"),
                               F.sum("b").over(w).alias("cb")).collect()}
    assert got == want


def test_running_sums_empty_input(spark):
    df = spark.createDataFrame([], "k double, a int")
    assert running_sums(df, ["k"], ["a"]).count() == 0


def test_running_sums_single_row(spark):
    df = spark.createDataFrame([(1.0, 42)], "k double, a int")
    r = running_sums(df, ["k"], ["a"]).collect()[0]
    assert r["__cum_a"] == 42


def test_roc_auc_plan_has_no_global_window(spark):
    """The cumulative-positives walk must never plan a
    single-partition Window: every windowspec in the physical plan
    carries a partitionBy key (__slice / bounded slice-totals)."""
    import re

    df = spark.createDataFrame(
        [(i / 100.0, i % 2) for i in range(100)],
        "score double, label int")
    out = M.roc_auc_exact(df, "score", "label")
    plan = "\n".join(n.desc for n in Plan.of(out).find(named("Window")))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the AUC plan"
    for spec in specs:
        head = spec.split(",")[0].strip()
        if head.startswith("specifiedwindowframe("):
            # orderless full-frame window: the bounded slice-totals
            # grand-total rollup — no sort of anything
            continue
        if "ASC NULLS FIRST" in head or "DESC" in head:
            # partition-less ORDERED window (first arg is already the
            # sort spec): only allowed over the bounded slice-totals
            # frame, whose sort key is the slice id — never the score
            assert "__slice" in head, \
                f"global ordered window over the data: {spec}"
        else:
            # partitioned window: the cumulative walk over scores
            # must partition by slice
            assert "__slice" in head, f"unexpected window: {spec}"


def test_roc_auc_binned_converges(spark):
    rng = random.Random(3)
    rows = [(rng.random(), 1 if rng.random() < 0.4 else 0)
            for _ in range(800)]
    df = spark.createDataFrame(rows, "score double, label int")
    exact = M.roc_auc_exact(df, "score", "label").collect()[0].auc
    binned = M.roc_auc_exact(df, "score", "label",
                             n_bins=256).collect()[0].auc
    coarse = M.roc_auc_exact(df, "score", "label",
                             n_bins=8).collect()[0].auc
    assert binned == pytest.approx(exact, abs=0.02)
    assert coarse == pytest.approx(exact, abs=0.15)


def test_roc_auc_binned_grid_scores_identical(spark):
    """Scores already on an equal-width grid: binning at >= grid
    resolution is a monotone relabeling, so binned AUC == exact."""
    rng = random.Random(5)
    rows = [(round(rng.randint(0, 99) / 100.0, 2),
             1 if rng.random() < 0.3 else 0) for _ in range(500)]
    df = spark.createDataFrame(rows, "score double, label int")
    exact = M.roc_auc_exact(df, "score", "label").collect()[0].auc
    binned = M.roc_auc_exact(df, "score", "label",
                             n_bins=100).collect()[0].auc
    assert binned == pytest.approx(exact, abs=1e-12)


def test_ks_2samp_exact_against_bruteforce(spark):
    rng = random.Random(17)
    t = [rng.gauss(0.0, 1.0) for _ in range(300)]
    r = [rng.gauss(0.4, 1.2) for _ in range(200)]
    tdf = spark.createDataFrame([(v,) for v in t], "x double") \
        .repartition(7)
    rdf = spark.createDataFrame([(v,) for v in r], "x double") \
        .repartition(5)
    stat = D.ks_2samp_exact(tdf, rdf, "x").collect()[0].statistic
    grid = sorted(set(t) | set(r))
    want = max(
        abs(sum(1 for v in t if v <= g) / len(t)
            - sum(1 for v in r if v <= g) / len(r))
        for g in grid)
    assert stat == pytest.approx(want, abs=1e-12)


def test_running_sums_requires_exchange_reuse(spark):
    """With both exchange reuse and AQE disabled, the two plan
    branches could re-execute the range exchange with different
    sampled boundaries — the helper must refuse loudly rather than
    risk silently wrong sums."""
    df = spark.createDataFrame([(1.0, 1)], "k double, a int")
    prev_r = spark.conf.get("spark.sql.exchange.reuse", "true")
    prev_a = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.exchange.reuse", "false")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        with pytest.raises(ValueError, match="exchange.reuse"):
            running_sums(df, ["k"], ["a"])
    finally:
        spark.conf.set("spark.sql.exchange.reuse", prev_r)
        spark.conf.set("spark.sql.adaptive.enabled", prev_a)


def test_roc_auc_rejects_non_binary_labels(spark):
    df = spark.createDataFrame(
        [(0.1, 1), (0.5, 2), (0.9, 0)], "score double, label int")
    with pytest.raises(Exception, match="label must be 0 or 1"):
        M.roc_auc_exact(df, "score", "label").collect()
    with pytest.raises(Exception, match="label must be 0 or 1"):
        M.roc_auc_sketch(df, "score", "label")
    neg = spark.createDataFrame(
        [(0.1, -1), (0.9, 1)], "score double, label int")
    with pytest.raises(Exception, match="label must be 0 or 1"):
        M.roc_auc_exact(neg, "score", "label").collect()


def test_exact_quantiles_match_python(spark):
    """exact_quantiles = inverse empirical CDF (lower interpolation),
    verified against sorted-list indexing under repartitioning, with
    duplicates and a singleton."""
    import math

    from whylogs_spark.core.summaries import exact_quantiles

    rng = random.Random(67)
    vals = [round(rng.gauss(0, 10), 1) for _ in range(777)]  # dups
    df = spark.createDataFrame([(v,) for v in vals], "x double") \
        .repartition(9)
    qs = [0.0, 0.01, 0.07, 0.25, 0.5, 0.75, 0.99, 1.0]
    row = exact_quantiles(df, "x", qs).collect()[0]
    s = sorted(vals)
    n = len(s)
    for q in qs:
        qn = q * n
        want = s[max(math.ceil(qn - qn * 1e-12 - 1e-9), 1) - 1]
        name = f"q_{str(q).replace('.', '_')}"
        assert row[name] == want, q
    assert row["n"] == n
    # float-overshoot pair: 0.07 * 100 = 7.000000000000001 in IEEE
    # double; the guarded rank must return the 7th order statistic,
    # not the 8th
    df100 = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "x double")
    r100 = exact_quantiles(df100, "x", [0.07]).collect()[0]
    assert r100["q_0_07"] == 7.0

    one = spark.createDataFrame([(42.0,)], "x double")
    r1 = exact_quantiles(one, "x", [0.5]).collect()[0]
    assert r1["q_0_5"] == 42.0 and r1["n"] == 1
    with pytest.raises(ValueError):
        exact_quantiles(df, "x", [])
    with pytest.raises(ValueError):
        exact_quantiles(df, "x", [1.5])


def test_exact_quantiles_grouped_matches_python(spark):
    """Per-group exact quantiles (the segmented-profile verifier):
    each group's quantiles equal sorted-list indexing over that
    group's values, under repartitioning and a high shuffle-partition
    count (many empty range slices per group)."""
    import math

    from whylogs_spark.core.summaries import exact_quantiles

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        rng = random.Random(71)
        rows = [(f"g{i % 3}", round(rng.gauss(i % 3, 5.0), 1))
                for i in range(900)]
        df = spark.createDataFrame(rows, "grp string, x double") \
            .repartition(7)
        qs = [0.07, 0.5, 0.9]
        got = {r.grp: r for r in exact_quantiles(
            df, "x", qs, group_cols=["grp"]).collect()}
        assert set(got) == {"g0", "g1", "g2"}
        for grp in got:
            vals = sorted(v for g2, v in rows if g2 == grp)
            n = len(vals)
            assert got[grp]["n"] == n
            for q in qs:
                qn = q * n
                want = vals[max(math.ceil(qn - qn * 1e-12 - 1e-9),
                                1) - 1]
                name = f"q_{str(q).replace('.', '_')}"
                assert got[grp][name] == want, (grp, q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_exact_quantiles_grouped_null_segment_key(spark):
    """NULL group keys are a legal segment class; the meta join must
    be null-safe so the null-keyed group's quantiles appear."""
    from whylogs_spark.core.summaries import exact_quantiles

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            (None, 10.0), (None, 20.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "grp string, x double")
    got = {r.grp: r for r in exact_quantiles(
        df, "x", [0.5], group_cols=["grp"]).collect()}
    assert set(got) == {"a", "b", None}
    assert got[None]["q_0_5"] == 10.0 and got[None]["n"] == 2
    assert got["a"]["q_0_5"] == 2.0


# ------------------------------------------------ weighted quantiles

def _ref_weighted_q(vals, wts, q):
    import numpy as np

    order = np.argsort(vals)
    v = np.array(vals)[order]
    cw = np.cumsum(np.array(wts)[order])
    idx = np.searchsorted(cw, q * cw[-1] - 1e-9, side="left")
    return float(v[min(idx, len(v) - 1)])


def test_weighted_quantiles_matches_reference(spark):
    import numpy as np

    from whylogs_spark.core.summaries import weighted_quantiles

    rng = np.random.RandomState(11)
    vals = [float(x) for x in np.round(rng.lognormal(0, 1, 500), 3)]
    wts = [float(x) for x in rng.randint(1, 100, 500)]
    df = spark.createDataFrame(list(zip(vals, wts)),
                               "v double, w double")
    r = weighted_quantiles(df, "v", "w",
                           [0.1, 0.5, 0.9, 1.0]).collect()[0]
    for q, name in [(0.1, "q_0_1"), (0.5, "q_0_5"),
                    (0.9, "q_0_9"), (1.0, "q_1_0")]:
        assert r[name] == _ref_weighted_q(vals, wts, q), q
    assert r.total_weight == sum(wts)
    # unit weights must reproduce the unweighted walk's median value
    from whylogs_spark.core.summaries import exact_quantiles

    ones = spark.createDataFrame([(v, 1.0) for v in vals],
                                 "v double, w double")
    wq = weighted_quantiles(ones, "v", "w", [0.5]).collect()[0]
    eq = exact_quantiles(ones, "v", [0.5]).collect()[0]
    assert wq.q_0_5 == eq.q_0_5


def test_weighted_quantiles_groups_and_exclusions(spark):
    import pytest as _pytest

    from whylogs_spark.core.summaries import weighted_quantiles

    rows = [("a", 1.0, 1.0), ("a", 2.0, 3.0), ("a", 3.0, 1.0),
            ("b", 10.0, 1.0), ("b", 20.0, 1.0),
            ("a", 99.0, 0.0), ("a", 99.0, -5.0), ("a", None, 2.0),
            ("a", 5.0, None), ("a", float("nan"), 1.0)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    out = {r.g: r for r in weighted_quantiles(
        df, "v", "w", [0.5], ["g"]).collect()}
    # weight mass 1+3+1: the median lands on the heavy value
    assert out["a"].q_0_5 == 2.0 and out["a"].total_weight == 5.0
    assert out["b"].q_0_5 == 10.0
    with _pytest.raises(ValueError, match="qs"):
        weighted_quantiles(df, "v", "w", [])
    with _pytest.raises(ValueError, match="quantile"):
        weighted_quantiles(df, "v", "w", [1.5])


def test_weighted_quantiles_guard_tight_at_huge_weights(spark):
    """At total weight >= ~1e12 the old 1e-12 relative slack exceeded
    achievable FP error: a cumulative weight GENUINELY below q*W (by
    ~0.3 here) fell inside the slack and the previous value was
    selected. The few-ulp guard keeps lower-interpolation semantics."""
    from whylogs_spark.core.summaries import weighted_quantiles

    rows = [(1.0, 6.0e11 - 0.3), (2.0, 6.0e11 + 0.3)]
    df = spark.createDataFrame(rows, "v double, w double")
    out = weighted_quantiles(df, "v", "w", [0.5]).collect()[0]
    # cum(1.0) = 6e11 - 0.3 < 0.5 * W = 6e11 -> the median is 2.0
    assert out.q_0_5 == 2.0


def test_chained_walks_plan_stays_linear(spark):
    """r13 optimization guard: every walk cuts its input's lineage
    (lazy localCheckpoint), so a CHAIN of running_sums passes keeps a
    linear physical plan.  Without the cut, each pass consumes its
    input from two branches (local window + slice rollup) and the
    upstream subtree doubles per pass — cumulative_incidence at sf0.1
    planned 188 Exchange nodes before the fix, 36 after.  Assert both
    the value identity and the bounded plan here so a regression
    (dropping the cut) fails fast."""
    rng = random.Random(13)
    rows = [(float(k), rng.randint(0, 9))
            for k in rng.sample(range(10_000), 300)]
    df = spark.createDataFrame(rows, "k double, a int").repartition(7)
    c1 = running_sums(df, ["k"], ["a"])
    c2 = running_sums(
        c1.select("k", F.col("__cum_a").alias("a")), ["k"], ["a"])
    c3 = running_sums(
        c2.select("k", F.col("__cum_a").alias("a")), ["k"], ["a"])
    n_exchange = Plan.of(c3).count(lambda n: "Exchange" in n.name)
    # linear chain: ~4 exchanges + 2 broadcasts per pass; the
    # un-cut doubling shape planned 40+ for three passes
    assert n_exchange <= 24, f"plan carries {n_exchange} Exchanges"
    got = {r.k: r["__cum_a"] for r in c3.collect()}
    # triple prefix sum, computed in plain python
    ordered = sorted(rows)
    c = 0.0
    s1, s2, s3 = 0, 0, 0
    want = {}
    for k, a in ordered:
        s1 += a
        s2 += s1
        s3 += s2
        want[k] = s3
    assert got == want


def test_cut_lineage_kill_switch(spark):
    """spark.whylogs.cutLineage=false disables the walk-entry
    checkpoint (the plan audit uses it to expose scan pushdown in the
    end-to-end plan); results are identical either way."""
    rng = random.Random(31)
    rows = [(float(k), rng.randint(0, 9))
            for k in rng.sample(range(10_000), 200)]
    df = spark.createDataFrame(rows, "k double, a int").repartition(5)

    def fmt(frame):
        # formatted explain carries the RDD callsite ("... at
        # localCheckpoint at ..."), unlike the simple plan string
        return frame._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))

    cut = running_sums(df, ["k"], ["a"])
    assert "localCheckpoint" in fmt(cut)
    spark.conf.set("spark.whylogs.cutLineage", "false")
    try:
        uncut = running_sums(df, ["k"], ["a"])
        assert "localCheckpoint" not in fmt(uncut)
    finally:
        spark.conf.unset("spark.whylogs.cutLineage")
    key = lambda r: r.k  # noqa: E731
    assert sorted(cut.collect(), key=key) \
        == sorted(uncut.collect(), key=key)
