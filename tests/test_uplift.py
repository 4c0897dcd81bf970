"""Two-model uplift, and the job group of the library's concurrent
Spark jobs."""

from functools import partial
from threading import Barrier
from time import sleep

import numpy as np
import pytest
from pyspark.sql import functions as F

import whylogs_spark as wsp
from whylogs_spark.core.util import run_concurrent
from whylogs_spark.ops.uplift import two_model_uplift, uplift_score_col
from tests.conftest import profile_wide

RNG = np.random.RandomState(61)


class TestTwoModelUplift:
    def test_recovers_heterogeneous_effect(self, spark):
        # true uplift depends on x: high for x>0, ~none for x<0
        n = 6000
        x = RNG.normal(0, 1, n)
        tr = (RNG.uniform(size=n) < 0.5).astype(float)
        base_p = 1 / (1 + np.exp(-(0.2 * x - 0.5)))
        lift = np.where(x > 0, 0.3, 0.0)
        y = (RNG.uniform(size=n) < np.clip(base_p + tr * lift, 0, 1)
             ).astype(float)
        df = spark.createDataFrame(
            [(float(a), float(b), float(c))
             for a, b, c in zip(x, tr, y)],
            "x double, tr double, y double")
        m = two_model_uplift(df, "tr", "y", ["x"])
        assert m["n_treat"] + m["n_ctrl"] == n
        scored = df.withColumn("u", uplift_score_col(m, ["x"]))
        hi = scored.filter(F.col("x") > 0.5).agg(
            F.avg("u")).collect()[0][0]
        lo = scored.filter(F.col("x") < -0.5).agg(
            F.avg("u")).collect()[0][0]
        # the model must rank high-x rows as higher uplift
        assert hi > lo + 0.1
        assert 0.1 < hi < 0.6

    def test_threaded_arm_fits_equal_sequential(self, spark):
        # r13: the two arm fits run on driver threads — each arm's
        # Newton-step aggregate sequence is unchanged, so the
        # coefficients must be IDENTICAL to direct sequential
        # fit_logistic calls on the same arm filters
        from whylogs_spark.ops.causal import fit_logistic
        n = 800
        x = RNG.normal(0, 1, n)
        tr = (np.arange(n) % 2).astype(float)
        y = (RNG.uniform(size=n)
             < 1 / (1 + np.exp(-(0.4 * x + 0.3 * tr)))).astype(float)
        df = spark.createDataFrame(
            [(float(a), float(b), float(c))
             for a, b, c in zip(x, tr, y)],
            "x double, tr double, y double")
        m = two_model_uplift(df, "tr", "y", ["x"])
        t = F.col("tr").cast("double")
        seq_t = fit_logistic(df.filter(t == 1.0), "y", ["x"])
        seq_c = fit_logistic(df.filter(t == 0.0), "y", ["x"])
        assert m["n_treat"] == seq_t["n"]
        assert m["n_ctrl"] == seq_c["n"]
        for got, ref in ((m["treatment"], seq_t), (m["control"],
                                                   seq_c)):
            assert abs(got["intercept"] - ref["intercept"]) < 1e-9
            for c in ["x"]:
                assert abs(got["coef"][c] - ref["coef"][c]) < 1e-9


@pytest.fixture
def job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller's job group")
    yield "caller-group"
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_concurrent_jobs_keep_callers_job_group(spark, job_group,
                                                launched_jobs):
    # profile() and two_model_uplift run their Spark jobs on driver
    # threads; every one of them must carry the caller's job group so
    # that cancelJobGroup reaches it
    rng = np.random.RandomState(3)
    x = rng.normal(size=400)
    y = (x + rng.normal(size=400) > 0).astype(float)
    df = spark.createDataFrame(
        [(float(a), f"s{i % 5}", i % 4, float(i % 2), float(b))
         for i, (a, b) in enumerate(zip(x, y))],
        "x double, s string, k int, tr double, y double")
    calls = {
        "unsegmented": lambda: wsp.profile(df),
        "segmented": lambda: wsp.profile(df, segment_by=["k"]),
        "wide": lambda: profile_wide(df, segment_by=["k"]),
        "uplift": lambda: two_model_uplift(df, "tr", "y", ["x"],
                                           max_iter=3),
    }
    tracker = spark.sparkContext.statusTracker()
    for name, call in calls.items():
        _, launched = launched_jobs(call)
        grouped = set(tracker.getJobIdsForGroup(job_group))
        assert launched, name
        assert launched <= grouped, (name, sorted(launched - grouped))


def test_concurrent_thunks_do_not_share_local_properties(spark):
    # a query records its SQL execution id in the thread's local
    # properties: concurrent thunks must each own a copy
    sc = spark.sparkContext
    both_running = Barrier(2, timeout=60)

    def thunk(i):
        both_running.wait()
        sc.setLocalProperty("whylogs.test.owner", str(i))
        both_running.wait()
        return sc.getLocalProperty("whylogs.test.owner")

    assert run_concurrent(spark, [partial(thunk, 0), partial(thunk, 1)]) \
        == ["0", "1"]
    assert sc.getLocalProperty("whylogs.test.owner") is None


def test_run_concurrent_raises_first_failure_after_every_thunk(spark):
    finished = []

    def fail(exc, delay):
        sleep(delay)
        finished.append(type(exc).__name__)
        raise exc

    def slow_ok():
        sleep(0.3)
        finished.append("ok")
        return 1

    with pytest.raises(ValueError, match="first") as info:
        run_concurrent(spark, [partial(fail, ValueError("first"), 0.1),
                               partial(fail, KeyError("second"), 0.0),
                               slow_ok])
    assert sorted(finished) == ["KeyError", "ValueError", "ok"]
    assert [n for n in info.value.__notes__ if "KeyError('second')" in n]
