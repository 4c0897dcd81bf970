"""Interval containment join (ops/intervals.py): brute-force parity,
bucket-size invariance, null/inverted bounds, and the hash-join (not
nested-loop) plan shape."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
from whylogs_spark.ops.intervals import interval_join


@pytest.fixture(scope="module")
def data(spark):
    import random

    rng = random.Random(9)
    base = datetime(2024, 3, 1)
    pts = [(i, i % 5, base + timedelta(minutes=rng.randint(0, 5000)))
           for i in range(400)]
    ivs = []
    for j in range(60):
        s = base + timedelta(minutes=rng.randint(0, 5000))
        ivs.append((j, j % 5, s,
                    s + timedelta(minutes=rng.randint(1, 200))))
    ivs.append((900, 0, None, base))                 # null start
    ivs.append((901, 0, base, None))                 # null end
    ivs.append((902, 0, base + timedelta(hours=2), base))  # inverted
    L = spark.createDataFrame(pts, "pid long, k long, ts timestamp")
    R = spark.createDataFrame(
        ivs, "iid long, k long, start timestamp, end timestamp")
    want = sorted((p, j) for p, kk, t in pts
                  for j, k2, s, e in ivs
                  if s is not None and e is not None and s <= e
                  and kk == k2 and s <= t <= e)
    return L, R, want


def test_interval_join_matches_bruteforce(spark, data):
    L, R, want = data
    out = interval_join(L, R, on="ts", by=["k"], bucket="45 minutes")
    got = sorted((r.pid, r.iid) for r in
                 out.select("pid", "iid").collect())
    assert got == want


def test_interval_join_bucket_size_invariant(spark, data):
    L, R, want = data
    for b in ("7 minutes", "3 hours", "2 days"):
        got = sorted((r.pid, r.iid) for r in interval_join(
            L, R, on="ts", by=["k"], bucket=b)
            .select("pid", "iid").collect())
        assert got == want, b


def test_interval_join_closed_bounds(spark):
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    L = spark.createDataFrame([(1, t0)], "pid long, ts timestamp")
    R = spark.createDataFrame(
        [(1, t0, t0)], "iid long, start timestamp, end timestamp")
    assert interval_join(L, R, on="ts", bucket="1 hour").count() == 1


def test_interval_join_plans_hash_join(spark, data):
    L, R, _ = data
    out = interval_join(L, R, on="ts", by=["k"], bucket="1 hour")
    plan = Plan.of(out)
    assert not plan.has(named("NestedLoop", "Cartesian"))
    assert plan.has(named("Join"))


def test_interval_join_rejects_bad_bucket(spark, data):
    L, R, _ = data
    with pytest.raises(ValueError):
        interval_join(L, R, bucket="-5 minutes")
    with pytest.raises(ValueError):
        interval_join(L, R, bucket="auto", max_fanout=0)


def test_interval_join_auto_bucket_matches_bruteforce(spark, data):
    L, R, want = data
    got = sorted((r.pid, r.iid) for r in interval_join(
        L, R, on="ts", by=["k"]).select("pid", "iid").collect())
    assert got == want


def test_auto_bucket_bounds_pathological_fanout(spark):
    """One year-long interval among minute-scale ones: a naive
    1-minute bucket would explode it to ~526k replicas; the auto
    bucket must keep EVERY interval's replica count <= max_fanout + 1
    while staying exact."""
    from whylogs_spark.ops.intervals import auto_bucket_expr

    base = datetime(2024, 1, 1)
    ivs = [(j, base + timedelta(minutes=7 * j),
            base + timedelta(minutes=7 * j + 3)) for j in range(50)]
    ivs.append((999, base, base + timedelta(days=365)))  # the outlier
    R = spark.createDataFrame(
        ivs, "iid long, start timestamp, end timestamp")
    pts = [(i, base + timedelta(minutes=11 * i)) for i in range(200)]
    L = spark.createDataFrame(pts, "pid long, ts timestamp")

    got = sorted((r.pid, r.iid) for r in interval_join(
        L, R, on="ts", max_fanout=64).select("pid", "iid").collect())
    want = sorted((p, j) for p, t in pts for j, s, e in ivs
                  if s <= t <= e)
    assert got == want

    # replica bound: recompute the chosen bucket with the same in-plan
    # aggregate and check the worst interval's expansion
    rsec = R.select(
        F.unix_timestamp("start").cast("double").alias("__ssec"),
        F.unix_timestamp("end").cast("double").alias("__esec"))
    bsec = rsec.agg(auto_bucket_expr(64)).collect()[0]["__bsec"]
    year = 365 * 86400.0
    assert bsec >= year / 64
    worst = rsec.select(
        (F.floor(F.col("__esec") / bsec)
         - F.floor(F.col("__ssec") / bsec) + 1).alias("reps"))
    assert worst.agg(F.max("reps")).collect()[0][0] <= 65


def test_auto_bucket_empty_right_side(spark):
    t0 = datetime(2024, 1, 1)
    L = spark.createDataFrame([(1, t0)], "pid long, ts timestamp")
    R = spark.createDataFrame(
        [], "iid long, start timestamp, end timestamp")
    assert interval_join(L, R, on="ts").count() == 0
