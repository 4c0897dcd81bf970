"""Streaming windowed KLL quantiles: closed windows must hold the true
percentiles within the KLL rank bound, and the emitted blob must merge
with batch sketches."""

import datetime

import numpy as np

from whylogs_spark.core.sketches import KllSketch
from whylogs_spark.streaming.quantiles import streaming_quantiles

BASE = datetime.datetime(2024, 6, 1, 0, 0, 0)
RNG = np.random.RandomState(23)


def test_streaming_quantiles_match_batch_sketch(spark, tmp_path):
    h0 = RNG.normal(50, 5, 3000)
    h1 = RNG.normal(80, 5, 2000)
    rows = (
        [(BASE + datetime.timedelta(minutes=int(i) % 60), float(v))
         for i, v in enumerate(h0)]
        + [(BASE + datetime.timedelta(hours=1, minutes=int(i) % 60),
            float(v)) for i, v in enumerate(h1)])
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    sentinel = spark.createDataFrame(
        [(BASE + datetime.timedelta(days=10), 0.0)],
        "ts timestamp, v double")

    src = str(tmp_path / "qsrc")
    df.coalesce(1).write.parquet(src + "/b=0")
    sentinel.coalesce(1).write.parquet(src + "/b=1")
    stream = (spark.readStream.schema("ts timestamp, v double")
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))

    out = streaming_quantiles(stream, "v", window_duration="1 hour",
                              watermark="0 seconds",
                              quantiles=(0.5, 0.95))
    q = (out.writeStream.format("memory").queryName("squant")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(240)

    got = {r["window_start"]: r for r in spark.sql(
        "SELECT * FROM squant WHERE n > 1").collect()}
    assert BASE in got and BASE + datetime.timedelta(hours=1) in got

    for start, vals in ((BASE, h0),
                        (BASE + datetime.timedelta(hours=1), h1)):
        r = got[start]
        assert r["n"] == len(vals)
        assert r["q_min"] == float(vals.min())
        assert r["q_max"] == float(vals.max())
        # the true percentile must sit within the KLL rank bound
        for q_, col in ((0.5, "q_50"), (0.95, "q_95")):
            s = np.sort(vals)
            eps = 0.0165 * 2
            lo = s[max(0, int(np.floor((q_ - eps) * len(s))) - 1)]
            hi = s[min(len(s) - 1, int(np.ceil((q_ + eps) * len(s))))]
            assert lo <= r[col] <= hi, (start, q_)
        # the emitted blob rehydrates and merges with a batch sketch
        sk = KllSketch.deserialize(bytes(r["kll"]))
        assert sk.n == len(vals)
        other = KllSketch(256)
        other.update_batch(np.array([1.0, 2.0]))
        sk.merge(other)
        assert sk.n == len(vals) + 2

    # runtime plan audit: a stateful native aggregate keyed on the
    # window, no Python node
    import io as _io
    from contextlib import redirect_stdout

    buf = _io.StringIO()
    with redirect_stdout(buf):
        q.explain()
    plan = buf.getvalue()
    assert "StateStoreSave" in plan and "ObjectHashAggregate" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert "EventTimeWatermark" in plan


def test_streaming_quantiles_grouped(spark, tmp_path):
    rows = []
    for g, mu in (("a", 10.0), ("b", 100.0)):
        for i in range(500):
            rows.append((g, BASE + datetime.timedelta(minutes=i % 50),
                         float(mu + RNG.normal())))
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    sentinel = spark.createDataFrame(
        [("z", BASE + datetime.timedelta(days=10), 0.0)],
        "g string, ts timestamp, v double")
    src = str(tmp_path / "qg")
    df.coalesce(1).write.parquet(src + "/b=0")
    sentinel.coalesce(1).write.parquet(src + "/b=1")
    stream = (spark.readStream.schema("g string, ts timestamp, v double")
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    out = streaming_quantiles(stream, "v", window_duration="1 hour",
                              watermark="0 seconds", quantiles=(0.5,),
                              by_cols=["g"])
    q = (out.writeStream.format("memory").queryName("squantg")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(240)
    got = {r["g"]: r for r in spark.sql(
        "SELECT * FROM squantg WHERE g IN ('a','b')").collect()}
    assert got["a"]["n"] == 500 and got["b"]["n"] == 500
    assert abs(got["a"]["q_50"] - 10.0) < 1.0
    assert abs(got["b"]["q_50"] - 100.0) < 1.0
