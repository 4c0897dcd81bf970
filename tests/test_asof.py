"""As-of join: semantics (ties, no-match, tolerance, directions) and
the scale-critical plan shape (one exchange, no join node).

No reference analogue (training-pipeline superset, SURVEY §2.12); the
cross-engine ground truth is DuckDB's ASOF JOIN, exercised by the
`asof_join_events` gate query — these tests pin the tricky semantics on
hand-built rows.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
from whylogs_spark.ops.asof import asof_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "a"),
            (1, _ts("2024-01-01 12:00:00"), "b"),
            (1, _ts("2024-01-01 09:00:00"), "early"),
            (2, _ts("2024-01-01 11:00:00"), "c"),
            (3, _ts("2024-01-01 11:00:00"), "nokey"),
        ],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 10.0),  # exact tie with 'a'
            (1, _ts("2024-01-01 11:30:00"), 20.0),
            (2, _ts("2024-01-01 11:30:00"), 30.0),  # after 'c' only
        ],
        "user_id long, ts timestamp, price double",
    )
    return left, right


def test_backward_with_ties_and_nulls(frames):
    left, right = frames
    out = asof_join(left, right, on="ts", by=["user_id"],
                    value_cols=["price"])
    got = {r["tag"]: (r["price"], r["matched_ts"]) for r in out.collect()}
    # exact tie matches (at-or-before)
    assert got["a"] == (10.0, _ts("2024-01-01 10:00:00"))
    # picks the LATEST at-or-before, not the first
    assert got["b"] == (20.0, _ts("2024-01-01 11:30:00"))
    # nothing before -> nulls
    assert got["early"] == (None, None)
    assert got["c"] == (None, None)  # right row is after
    assert got["nokey"] == (None, None)  # key absent on right
    assert out.count() == left.count()  # left join: row count preserved


def test_forward(frames):
    left, right = frames
    out = asof_join(left, right, on="ts", by=["user_id"],
                    direction="forward", value_cols=["price"])
    got = {r["tag"]: (r["price"], r["matched_ts"]) for r in out.collect()}
    assert got["a"] == (10.0, _ts("2024-01-01 10:00:00"))  # tie still hits
    assert got["early"] == (10.0, _ts("2024-01-01 10:00:00"))
    assert got["b"] == (None, None)  # nothing at-or-after
    assert got["c"] == (30.0, _ts("2024-01-01 11:30:00"))


def test_tolerance(frames):
    left, right = frames
    out = asof_join(left, right, on="ts", by=["user_id"],
                    tolerance="10 minutes", value_cols=["price"])
    got = {r["tag"]: r["price"] for r in out.collect()}
    assert got["a"] == 10.0  # 0 <= 10min
    assert got["b"] is None  # 30min gap > tolerance -> nulled out


def test_column_collision_gets_suffix(frames):
    left, right = frames
    right2 = right.withColumnRenamed("price", "tag")  # collides with left
    out = asof_join(left, right2, on="ts", by=["user_id"],
                    value_cols=["tag"])
    assert "tag" in out.columns and "tag_r" in out.columns


def test_plan_single_exchange_no_join(frames):
    """The 100 TB contract: union + ONE hash exchange on the key + one
    window — never a range/cross join (per-key quadratic blowup)."""
    left, right = frames
    out = asof_join(left, right, on="ts", by=["user_id"],
                    value_cols=["price"])
    plan = Plan.of(out)
    assert not plan.has(named("Join", "CartesianProduct"))
    # exactly one exchange above the union (inputs here are local
    # relations; parquet sources may add AQE read nodes but no exchange)
    assert plan.count("Exchange") == 1
    assert plan.has(named("Window"))


def test_matches_window_free_reference(spark):
    """Randomized cross-check against a per-row max-subquery reference
    computed driver-side."""
    import random

    rnd = random.Random(7)
    lrows = [(rnd.randrange(5), _ts("2024-01-01 00:00:00")
              + dt.timedelta(seconds=rnd.randrange(10_000)), i)
             for i in range(200)]
    rrows_set = {}
    for j in range(120):
        k = (rnd.randrange(5), _ts("2024-01-01 00:00:00")
             + dt.timedelta(seconds=rnd.randrange(10_000)))
        rrows_set[k] = float(j)
    rrows = [(u, ts, v) for (u, ts), v in rrows_set.items()]
    left = spark.createDataFrame(lrows, "k long, ts timestamp, i long")
    right = spark.createDataFrame(rrows, "k long, ts timestamp, v double")
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["v"])
    got = {r["i"]: r["v"] for r in out.collect()}
    for (u, ts, i) in lrows:
        cand = [(rts, v) for (ru, rts, v) in rrows if ru == u and rts <= ts]
        want = max(cand)[1] if cand else None
        assert got[i] == want, (i, u, ts)


def test_hot_key_buckets_equivalent(spark):
    """The two-phase skew-bounded plan must return exactly the
    single-phase result — including left buckets with no right rows
    (bridged from an earlier bucket's close) and exact-tie timestamps."""
    import random

    rnd = random.Random(11)
    base = _ts("2024-01-01 00:00:00")
    lrows = [(rnd.randrange(3), base
              + dt.timedelta(seconds=rnd.randrange(100_000)), i)
             for i in range(300)]
    rrows_set = {}
    for j in range(60):
        k = (rnd.randrange(3), base
             + dt.timedelta(seconds=rnd.randrange(100_000)))
        # ~1 in 4 right rows carries a NULL value: the per-bucket close
        # must skip these (last NON-null), like the single-phase
        # last(ignorenulls=True) carry does
        rrows_set[k] = None if j % 4 == 0 else float(j)
    # exact tie: right row at a left row's timestamp must match backward
    lrows.append((0, base + dt.timedelta(seconds=424242), 300))
    rrows_set[(0, base + dt.timedelta(seconds=424242))] = 999.0
    rrows = [(u, ts, v) for (u, ts), v in rrows_set.items()]
    left = spark.createDataFrame(lrows, "k long, ts timestamp, i long")
    right = spark.createDataFrame(rrows, "k long, ts timestamp, v double")

    for direction in ("backward", "forward"):
        for tol in (None, "2 hours"):
            plain = asof_join(left, right, on="ts", by=["k"],
                              direction=direction, tolerance=tol,
                              value_cols=["v"])
            bucketed = asof_join(left, right, on="ts", by=["k"],
                                 direction=direction, tolerance=tol,
                                 value_cols=["v"],
                                 hot_key_buckets="1 hour")
            a = {r["i"]: (r["v"], r["matched_ts"])
                 for r in plain.collect()}
            b = {r["i"]: (r["v"], r["matched_ts"])
                 for r in bucketed.collect()}
            assert a == b, (direction, tol)
    # tie matched through the bucketed path too
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["v"],
                    hot_key_buckets="1 hour")
    got = {r["i"]: r["v"] for r in out.collect()}
    assert got[300] == 999.0


def test_hot_key_buckets_null_close_not_shadowing(spark):
    """A bucket whose LATEST right row has a NULL value but an earlier
    non-null one must close with the non-null value — a NULL close
    would make the cross-bucket carry skip to an older bucket and hand
    later left rows a stale value (diverging from single-phase)."""
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 03:30:00"), 0)],  # bucket 3 (1-hour buckets)
        "k long, ts timestamp, i long")
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:10:00"), 7.0),    # bucket 0: stale
            (1, _ts("2024-01-01 01:10:00"), 42.0),   # bucket 1: real
            (1, _ts("2024-01-01 01:50:00"), None),   # bucket 1 close row
        ],
        "k long, ts timestamp, v double")
    plain = asof_join(left, right, on="ts", by=["k"], value_cols=["v"])
    bucketed = asof_join(left, right, on="ts", by=["k"],
                         value_cols=["v"], hot_key_buckets="1 hour")
    prow = plain.collect()[0]
    brow = bucketed.collect()[0]
    assert prow["v"] == 42.0
    assert brow["v"] == 42.0
    # matched_ts still tracks the last right ROW (per-column carry)
    assert brow["matched_ts"] == prow["matched_ts"] \
        == _ts("2024-01-01 01:50:00")


def test_hot_key_buckets_ntz_dst_safe(spark):
    """TIMESTAMP_NTZ bucket ids must come from wall-clock arithmetic,
    not a session-tz cast: under America/Los_Angeles the 2024-03-10
    spring-forward gap makes cast('timestamp') non-monotonic, which
    would break bucket/event-order agreement near the transition."""
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        # NTZ events straddling the nonexistent 02:00-03:00 hour
        lrows = [(1, f"2024-03-10 0{h}:{m:02d}:00", i)
                 for i, (h, m) in enumerate(
                     [(1, 15), (1, 45), (2, 15), (2, 45), (3, 15),
                      (3, 45), (4, 15)])]
        rrows = [(1, "2024-03-10 01:30:00", 1.0),
                 (1, "2024-03-10 02:30:00", 2.0),
                 (1, "2024-03-10 03:30:00", 3.0)]
        left = spark.createDataFrame(lrows, "k long, s string, i long") \
            .select("k", F.col("s").cast("timestamp_ntz").alias("ts"), "i")
        right = spark.createDataFrame(rrows, "k long, s string, v double") \
            .select("k", F.col("s").cast("timestamp_ntz").alias("ts"), "v")
        plain = asof_join(left, right, on="ts", by=["k"],
                          value_cols=["v"])
        bucketed = asof_join(left, right, on="ts", by=["k"],
                             value_cols=["v"], hot_key_buckets="1 hour")
        a = {r["i"]: (r["v"], r["matched_ts"]) for r in plain.collect()}
        b = {r["i"]: (r["v"], r["matched_ts"]) for r in bucketed.collect()}
        assert a == b
        # and the values are the wall-clock-correct ones
        assert b[2][0] == 1.0 and b[3][0] == 2.0 and b[4][0] == 2.0
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_hot_key_buckets_plan_partitions_by_bucket(spark):
    """The big (row-count-proportional) window must key on
    (key, bucket), not the key alone — that is the skew bound."""
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:00"), 0)], "k long, ts timestamp, i long")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:00"), 1.0)], "k long, ts timestamp, v double")
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["v"],
                    hot_key_buckets="1 day")
    plan = Plan.of(out)
    assert plan.has(None, "__asof_bucket")
    assert plan.has("Exchange", "hashpartitioning(k#")


def test_bucketed_asof_on_date_and_string_ts(spark):
    """hot_key_buckets must work on DATE on-columns (DATE->DOUBLE is
    not a valid Spark cast) and must not silently NULL-bucket STRING
    timestamp columns."""
    import datetime as dt

    from whylogs_spark.ops.asof import asof_join

    left = spark.createDataFrame(
        [(1, dt.date(2026, 1, d)) for d in range(1, 8)],
        "k long, ts date")
    right = spark.createDataFrame(
        [(1, dt.date(2026, 1, 1), 10.0), (1, dt.date(2026, 1, 5), 50.0)],
        "k long, ts date, v double")
    single = asof_join(left, right, on="ts", by=["k"], value_cols=["v"])
    bucketed = asof_join(left, right, on="ts", by=["k"],
                         value_cols=["v"], hot_key_buckets="2 days")
    s = {(r["ts"], r["v"]) for r in single.collect()}
    b = {(r["ts"], r["v"]) for r in bucketed.collect()}
    assert s == b and len(s) == 7

    lefts = left.select("k", F.col("ts").cast("string").alias("ts"))
    rights = right.select("k", F.col("ts").cast("string").alias("ts"), "v")
    s2 = {(r["ts"], r["v"]) for r in asof_join(
        lefts, rights, on="ts", by=["k"], value_cols=["v"]).collect()}
    b2 = {(r["ts"], r["v"]) for r in asof_join(
        lefts, rights, on="ts", by=["k"], value_cols=["v"],
        hot_key_buckets="2 days").collect()}
    assert s2 == b2 and len(s2) == 7
