"""Streaming inter-arrival gaps: batch lag() parity under
out-of-order arrival, first-event nulls, and validation."""

import datetime

from pyspark.sql import Window
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan
from whylogs_spark.streaming.cadence import streaming_interarrival

BASE = datetime.datetime(2024, 6, 1)


def _t(s):
    return BASE + datetime.timedelta(seconds=s)


def test_streaming_interarrival_matches_batch_lag(spark, tmp_path):
    schema = "u string, ts timestamp"
    # batch 0 delivers u1's events OUT of order (t30 before t10 is
    # within the watermark bound), u2 in order
    b0 = spark.createDataFrame(
        [("u1", _t(0)), ("u1", _t(30)), ("u1", _t(10)),
         ("u2", _t(5))], schema)
    b1 = spark.createDataFrame(
        [("u1", _t(100)), ("u2", _t(65))], schema)
    sentinel = spark.createDataFrame(
        [("zz", _t(100000))], schema)

    d = str(tmp_path / "src")
    b0.coalesce(1).write.parquet(d + "/b=0")
    b1.coalesce(1).write.parquet(d + "/b=1")
    sentinel.coalesce(1).write.parquet(d + "/b=2")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d + "/*"))

    out = streaming_interarrival(stream, "u", "ts",
                                 watermark="1 minute")
    q = (out.writeStream.format("memory").queryName("cadence")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(240)

    got = {(r["u"], r["ts"]): r["gap_s"] for r in spark.sql(
        "SELECT * FROM cadence WHERE u != 'zz'").collect()}

    df = b0.unionByName(b1)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (us - F.lag(us).over(
        Window.partitionBy("u").orderBy("ts"))).cast("double") / 1e6
    want = {(r["u"], r["ts"]): r["g"]
            for r in df.select("u", "ts", w.alias("g")).collect()}
    assert got == want
    # spot checks: out-of-order t10 still yields the in-order gaps
    assert got[("u1", _t(10))] == 10.0
    assert got[("u1", _t(30))] == 20.0
    assert got[("u1", _t(0))] is None
    assert got[("u1", _t(100))] == 70.0

    plan = Plan.of(q)
    assert plan.has("FlatMapGroupsInPandasWithState")
    assert plan.has("EventTimeWatermark")


def test_streaming_interarrival_validation(spark):
    import pytest

    df = spark.createDataFrame([], "u string, ts timestamp")
    with pytest.raises(ValueError, match="columns not in"):
        streaming_interarrival(df, "nope")
    with pytest.raises(ValueError, match="expire_after_s"):
        streaming_interarrival(df, "u", expire_after_s=0)
