"""Streaming profiles: tumbling-window aggregation + rolling sink.

FIXTURES.md F7: tumbling-window profiles vs batch profiles of the same
time slices must merge-match.
"""

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
import whylogs_spark as wsp
from whylogs_spark.streaming.rolling import RollingProfileSink, streaming_profile


@pytest.fixture(scope="module")
def events_stream_src(spark, events, tmp_path_factory):
    """Write events out as several files, then stream-read them back."""
    src = str(tmp_path_factory.mktemp("events_src"))
    events.repartition(4).write.mode("overwrite").parquet(src)
    return src


def test_streaming_native_profile_matches_batch(spark, events,
                                                events_stream_src):
    stream = spark.readStream.schema(
        spark.read.parquet(events_stream_src).schema
    ).option("maxFilesPerTrigger", 2).parquet(events_stream_src)

    out = streaming_profile(
        stream, ts_col="ts", window_duration="1 day",
        watermark="0 seconds", columns=["value"])
    q = (
        out.writeStream.format("memory").queryName("prof")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT window_start, n FROM prof "
        "WHERE metric='counts' AND component='n' AND column='value'"
    ).collect()
    truth = {
        str(r["d"]): r["n"]
        for r in events.groupBy(
            F.date_trunc("day", F.col("ts")).cast("string").alias("d"))
        .count().withColumnRenamed("count", "n").collect()
    }
    got_map = {r["window_start"]: r["n"] for r in got}
    assert got_map == truth


def test_streamed_window_merges_with_batch_profile(spark, tmp_path):
    """A window of ``streaming_profile`` (append mode) carries the batch
    profile's sketches: collected into a ProfileView it merges with a
    batch profile of the same rows (exact KLL n, quantiles within the
    rank bound of two merged sketches, exact frequent items), and,
    written to a store, feeds ``quantile_series``."""
    import datetime as dt

    import numpy as np

    from whylogs_spark.core.profiler import (PROFILE_SCHEMA, ProfileView,
                                             merge_profiles)
    from whylogs_spark.core.sketches import KllSketch
    from whylogs_spark.io.store import ProfileStore

    hour = 1_714_557_600  # 2024-05-01 10:00 UTC, a window start
    src = str(tmp_path / "src")
    spark.range(0, 3000, 1, 1).select(
        F.timestamp_seconds(F.lit(hour) + F.col("id") % 3600).alias("ts"),
        (F.randn(5) * 4.0 + 20.0).alias("x"),
        F.element_at(F.array(*map(F.lit, "abbccc")),
                     (F.col("id") % 6 + 1).cast("int")).alias("w"),
    ).write.parquet(src + "/b=0")
    spark.range(1).select(  # moves the watermark past the window
        F.timestamp_seconds(F.lit(hour + 2 * 86400)).alias("ts"),
        F.lit(0.0).alias("x"), F.lit("z").alias("w"),
    ).write.parquet(src + "/b=1")
    rows = spark.read.parquet(src + "/b=0")
    stream = (spark.readStream.schema(rows.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = (streaming_profile(stream, ts_col="ts", window_duration="1 hour",
                           watermark="0 seconds")
         .writeStream.format("memory").queryName("streamed_window")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    streamed = ProfileView(spark.sql(
        "SELECT * FROM streamed_window WHERE window_start = "
        "(SELECT min(window_start) FROM streamed_window)").select(
        *[f.name for f in PROFILE_SCHEMA.fields]))
    assert streamed.get_component("x", "counts", "n") == 3000

    batch = wsp.profile(rows.drop("ts"))
    merged = merge_profiles([streamed, batch])
    kll = KllSketch.deserialize(
        bytes(merged.get_component("x", "distribution", "kll")))
    assert kll.n == 6000
    xs = np.sort([r["x"] for r in rows.select("x").collect()])
    for q_, comp in ((0.25, "q_25"), (0.5, "median"), (0.95, "q_95")):
        got = merged.get_component("x", "distribution", comp)
        assert abs(np.searchsorted(xs, got) / xs.size - q_) <= 2 * 0.0165
    items = json.loads(merged.get_component("w", "frequent_items",
                                            "items"))
    assert [(i["value"], i["est"]) for i in items] == [
        ("c", 3000), ("b", 2000), ("a", 1000)]

    store = ProfileStore(str(tmp_path / "store"))
    for day, view in ((1, streamed), (2, batch)):
        store.write(view, "ds", dt.datetime(2024, 5, day,
                                            tzinfo=dt.timezone.utc))
    series = store.quantile_series(spark, "ds", "x", quantiles=(0.5,),
                                   window=2).orderBy("dataset_ts").collect()
    assert [(r["batches"], r["n"]) for r in series] == [(1, 3000),
                                                       (2, 6000)]
    for r in series:
        assert abs(np.searchsorted(xs, r["q_50"]) / xs.size - 0.5) \
            <= 2 * 0.0165


def test_rolling_sink_merges_to_batch_profile(spark, events,
                                              events_stream_src, tmp_path):
    stream = spark.readStream.schema(
        spark.read.parquet(events_stream_src).schema
    ).option("maxFilesPerTrigger", 1).parquet(events_stream_src)

    sink_path = str(tmp_path / "profiles")
    ckpt = str(tmp_path / "ckpt")
    sink = RollingProfileSink(
        sink_path, ts_col="ts", window="1 day", columns=["value"])
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    view = sink.read_profiles(spark)
    rows = view.df.filter(
        (F.col("metric") == "distribution") & (F.col("component") == "mean")
    ).collect()
    truth = {
        str(r["d"]): r["m"]
        for r in events.groupBy(
            F.date_trunc("day", F.col("ts")).cast("string").alias("d"))
        .agg(F.avg("value").alias("m")).collect()
    }
    assert len(rows) == len(truth)
    for r in rows:
        ws = json.loads(r["segment"])["__wstart"]
        assert r["d"] == pytest.approx(truth[ws], rel=1e-9), ws


def test_rolling_sink_segmented(spark, events, events_stream_src, tmp_path):
    """Segment x window rolling profiles merge-on-read to the batch truth
    (reference SegmentCache semantics, segment_cache.py)."""
    stream = spark.readStream.schema(
        spark.read.parquet(events_stream_src).schema
    ).option("maxFilesPerTrigger", 1).parquet(events_stream_src)

    sink_path = str(tmp_path / "profiles_seg")
    ckpt = str(tmp_path / "ckpt_seg")
    sink = RollingProfileSink(
        sink_path, ts_col="ts", window="1 day",
        segment_by=["event_type"], columns=["value"])
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    view = sink.read_profiles(spark)
    got = {
        r["segment"]: r["n"]
        for r in view.df.filter(
            (F.col("metric") == "counts") & (F.col("component") == "n")
        ).collect()
    }
    truth = events.groupBy(
        F.date_trunc("day", F.col("ts")).cast("string").alias("w"),
        "event_type").count().collect()
    import json
    truth_map = {}
    for r in truth:
        truth_map[(r["w"], r["event_type"])] = r["count"]
    total_got = sum(got.values())
    assert total_got == sum(truth_map.values())
    # every (window, segment) pair present with the right count
    for seg_json, n in got.items():
        d = json.loads(seg_json)
        key = (d["__wstart"], d["event_type"])
        assert truth_map[key] == n, (key, n)
    assert len(got) == len(truth_map)


def test_stateful_streaming_sessionize(spark, tmp_path):
    """Closed sessions from the stateful streaming operator must equal
    the batch sessionize() result once the watermark passes every
    session's end (a far-future sentinel event forces that)."""
    import datetime

    from whylogs_spark.ops.events import sessionize
    from whylogs_spark.streaming.sessions import streaming_sessionize

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ev(uid, minutes):
        return (uid, base + datetime.timedelta(minutes=minutes))

    rows = []
    for uid in range(1, 6):
        # session 1: 3 events 10 min apart; session 2: 2 events after a
        # 3-hour silence; session lengths vary per user
        rows += [ev(uid, m) for m in (0, 10, 20 + uid)]
        rows += [ev(uid, m) for m in (200, 210 + uid)]
    main = spark.createDataFrame(rows, "user_id long, ts timestamp")
    sentinel = spark.createDataFrame(
        [(999, base + datetime.timedelta(days=30))],
        "user_id long, ts timestamp")

    src = str(tmp_path / "sess_src")
    # two time-ordered files: main events, then the watermark-pushing
    # sentinel (maxFilesPerTrigger=1 -> two microbatches + timeout batch)
    main.coalesce(1).write.parquet(src + "/b=0")
    sentinel.coalesce(1).write.parquet(src + "/b=1")

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/*"))
    out = streaming_sessionize(stream, gap="30 minutes",
                               watermark="0 seconds")
    q = (out.writeStream.format("memory").queryName("sessions")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql(
            "SELECT * FROM sessions WHERE user_id < 999").collect()
    }

    truth_df = (sessionize(main, gap="30 minutes")
                .groupBy("user_id", "session_id")
                .agg(F.min("ts").alias("session_start"),
                     F.max("ts").alias("session_end"),
                     F.count(F.lit(1)).alias("n_events")))
    truth = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in truth_df.collect()
    }
    assert got == truth
    assert len(got) == 10  # 2 sessions x 5 users


def test_drift_monitor_sink_flags_shifted_batch(spark, tmp_path):
    """Two microbatches against a N(0,1) reference: the matching batch
    scores NO_DRIFT, the +8-shifted batch scores DRIFT and fires the
    on_drift callback."""
    import numpy as np

    from whylogs_spark.streaming.drift_monitor import DriftMonitorSink

    rng = np.random.default_rng(17)
    ref_df = spark.createDataFrame(
        [(float(x),) for x in rng.normal(size=4000)], "value double")
    reference = wsp.profile(ref_df)

    src = str(tmp_path / "drift_src")
    same = spark.createDataFrame(
        [(float(x),) for x in rng.normal(size=2000)], "value double")
    shifted = spark.createDataFrame(
        [(float(x) + 8.0,) for x in rng.normal(size=2000)], "value double")
    same.coalesce(1).write.parquet(src + "/b=0")
    shifted.coalesce(1).write.parquet(src + "/b=1")

    fired = []
    sink = DriftMonitorSink(
        reference, str(tmp_path / "scores"),
        on_drift=lambda bid, scores: fired.append(
            (bid, [s.column for s in scores])))
    stream = (spark.readStream.schema("value double")
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    scores = {(r["batch_id"], r["col_name"]): r["category"]
              for r in sink.read_scores(spark).collect()}
    assert len(scores) == 2
    cats = sorted(scores.values())
    assert cats == ["DRIFT", "NO_DRIFT"]
    assert len(fired) == 1 and fired[0][1] == ["value"]


def test_streaming_exact_dedup_drops_within_watermark(spark, tmp_path):
    """Duplicate texts arriving within the horizon are dropped; the
    first occurrence of each distinct normalized text survives."""
    import datetime as dt

    from whylogs_spark.streaming.dedup import streaming_exact_dedup

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "the same text"),
        (2, t0 + dt.timedelta(minutes=1), "THE  SAME   text"),  # dup
        (3, t0 + dt.timedelta(minutes=2), "a different text"),
        (4, t0 + dt.timedelta(minutes=3), "the same text"),      # dup
        (5, t0 + dt.timedelta(minutes=4), "a third text"),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "doc_id long, ts timestamp, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    out = streaming_exact_dedup(stream, watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql(
        "SELECT doc_id FROM dedup_out").collect()}
    # exactly one survivor per distinct normalized text
    assert len(got) == 3
    assert 3 in got and 5 in got
    assert len(got & {1, 2, 4}) == 1

    # the runtime plan is stateful dedup-within-watermark
    plan = Plan.of(q)
    assert plan.has(named("StreamingDeduplicate"))
    assert plan.has("EventTimeWatermark")


def test_streaming_fingerprint_counts(spark, tmp_path):
    import datetime as dt

    from whylogs_spark.streaming.dedup import streaming_fingerprint_counts

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "aaa"), (2, t0 + dt.timedelta(minutes=1), "aaa"),
        (3, t0 + dt.timedelta(minutes=2), "bbb"),
        (4, t0 + dt.timedelta(minutes=20), "aaa"),  # next window
    ]
    src = str(tmp_path / "src_counts")
    spark.createDataFrame(
        rows, "doc_id long, ts timestamp, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    out = streaming_fingerprint_counts(
        stream, watermark="0 seconds", window_duration="10 minutes")
    q = (out.writeStream.format("memory").queryName("fp_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT window_start, n_rows, n_duplicates FROM fp_counts"
    ).collect()
    by_win = sorted((str(r["window_start"]), r["n_rows"],
                     r["n_duplicates"]) for r in got)
    # window 12:00-12:10 has aaa x2 (1 dup) + bbb x1; 12:20 has aaa x1
    assert [t[1:] for t in by_win] == [(1, 0), (2, 1), (1, 0)]
    assert by_win[0][0] == by_win[1][0] != by_win[2][0]


def test_streaming_model_monitor_matches_batch_ece(spark, tmp_path):
    """Windowed streaming calibration bins + batch rollup must equal
    the batch expected_calibration_error on each window's slice."""
    import datetime as dt
    import random

    from whylogs_spark.core import model_perf as M
    from whylogs_spark.streaming.model_monitor import (
        calibration_from_bins, streaming_model_bins)

    rng = random.Random(61)
    rows = []
    for hour in (10, 11):
        for _ in range(300):
            sc = rng.random()
            y = 1 if rng.random() < min(sc + 0.15, 1.0) else 0
            rows.append((dt.datetime(2024, 5, 1, hour,
                                     rng.randint(0, 59)),
                         sc, y, 1 if sc >= 0.5 else 0))
    df = spark.createDataFrame(
        rows, "ts timestamp, score double, label int, pred int")
    src = str(tmp_path / "model_src")
    df.repartition(3).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    bins = streaming_model_bins(
        stream, ts_col="ts", score_col="score", label_col="label",
        prediction_col="pred", window_duration="1 hour",
        watermark="0 seconds", n_bins=10)
    q = (bins.writeStream.format("memory").queryName("mbins")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    rolled = {r.window_start.hour: r for r in calibration_from_bins(
        spark.sql("SELECT * FROM mbins")).collect()}
    assert set(rolled) == {10, 11}
    for hour in (10, 11):
        slice_df = df.filter(F.hour("ts") == hour)
        want = M.expected_calibration_error(
            slice_df, "score", "label", n_bins=10).collect()[0]
        got = rolled[hour]
        assert got.ece == pytest.approx(want.ece, abs=1e-9)
        assert got.mce == pytest.approx(want.mce, abs=1e-9)
        assert got.n == want.n
        n_corr = slice_df.filter("pred = label").count()
        assert got.accuracy == pytest.approx(
            n_corr / slice_df.count(), abs=1e-9)


def test_anomaly_monitor_sink_flags_spiked_batch(spark, tmp_path):
    """Three file-source microbatches of per-type hourly metric rows:
    the third carries a 100x spike on one series. The sink judges each
    arriving batch against trailing history and fires on_anomaly for
    exactly the spiked (series, ts)."""
    import datetime as dt

    from whylogs_spark.streaming.anomaly import AnomalyMonitorSink

    t0 = dt.datetime(2026, 2, 1, 0, 0, 0)
    src = str(tmp_path / "metric_src")
    # batches 0/1: 5 steady hours per series; batch 2: the next hour,
    # with series "b" spiked
    hours = lambda lo, hi: range(lo, hi)
    batch0 = [(k, t0 + dt.timedelta(hours=h), 100.0 + h)
              for k in ("a", "b") for h in hours(0, 5)]
    batch1 = [(k, t0 + dt.timedelta(hours=h), 100.0 + h)
              for k in ("a", "b") for h in hours(5, 10)]
    batch2 = [("a", t0 + dt.timedelta(hours=10), 110.0),
              ("b", t0 + dt.timedelta(hours=10), 9999.0)]
    schema = "series string, ts timestamp, value double"
    for i, rows in enumerate([batch0, batch1, batch2]):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(src + f"/b={i}")

    fired = []
    sink = AnomalyMonitorSink(
        str(tmp_path / "series_store"), "ts", "value",
        key_cols=["series"], window=8, method="zscore", threshold=6.0,
        min_baseline=4, expected_seconds=3600,
        on_anomaly=lambda bid, rows: fired.append((bid, rows)))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt_anom"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    assert len(fired) == 1
    bid, rows = fired[0]
    assert [(r.series, r.ts.hour) for r in rows] == [("b", 10)]
    assert abs(rows[0].score) > 6

    # batch-mode backfill over the stored series agrees
    hist = sink.read_anomalies(spark).filter("is_anomaly").collect()
    assert [(r.series, r.ts.hour) for r in hist] == [("b", 10)]
    # the series store holds exactly the rolled-up rows
    assert sink.read_series(spark).count() == len(batch0) + len(
        batch1) + len(batch2)


def test_anomaly_monitor_sink_cusum_flags_sustained_shift(spark,
                                                          tmp_path):
    """CUSUM mode: three microbatches where the third carries a small
    sustained (+3 per hour) shift no single-batch zscore would flag;
    the cumulative walk alarms on the shifted rows only."""
    import datetime as dt

    import numpy as np

    from whylogs_spark.streaming.anomaly import AnomalyMonitorSink

    rng = np.random.default_rng(12)
    t0 = dt.datetime(2026, 3, 1)
    src = str(tmp_path / "cusum_src")
    schema = "series string, ts timestamp, value double"
    mk = lambda lo, hi, off: [
        ("a", t0 + dt.timedelta(hours=h),
         float(50 + rng.normal(0, 1) + off)) for h in range(lo, hi)]
    for i, rows in enumerate([mk(0, 8, 0), mk(8, 16, 0),
                              mk(16, 28, 3.0)]):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(src + f"/b={i}")

    fired = []
    sink = AnomalyMonitorSink(
        str(tmp_path / "cusum_store"), "ts", "value",
        key_cols=["series"], method="cusum", cusum_h=5.0,
        cusum_baseline_n=12,
        on_anomaly=lambda bid, rows: fired.append((bid, rows)))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt_cusum"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    assert len(fired) == 1
    bid, rows = fired[0]
    assert all(r.alarm_up for r in rows)
    # every alarm sits inside the shifted batch (hours 16+)
    assert min(r.ts for r in rows) >= t0 + dt.timedelta(hours=16)
    hist = sink.read_anomalies(spark) \
        .filter("alarm_up or alarm_down").collect()
    assert {r.ts for r in hist} >= {r.ts for r in rows}

    with pytest.raises(ValueError, match="cumulative"):
        AnomalyMonitorSink(str(tmp_path / "x"), "ts", "value",
                           method="cusum", expected_seconds=3600)
    with pytest.raises(ValueError, match="method"):
        AnomalyMonitorSink(str(tmp_path / "x"), "ts", "value",
                           method="bogus")


def test_streaming_model_bins_drops_nan_scores_and_labels(spark):
    """NaN scores/labels must be excluded like nulls (batch parity):
    a NaN score would poison the window's sum_score while
    confidence_bin floors it into bin 0. withWatermark is a no-op on a
    batch frame, so the streaming transform runs directly here."""
    import datetime as dt

    from whylogs_spark.streaming.model_monitor import (
        calibration_from_bins, streaming_model_bins)

    t = dt.datetime(2024, 5, 1, 10, 30)
    nan = float("nan")
    rows = [(t, 0.2, 0.0), (t, 0.9, 1.0),
            (t, nan, 1.0), (t, 0.5, nan), (t, None, 0.0)]
    df = spark.createDataFrame(
        rows, "ts timestamp, score double, label double")
    bins = streaming_model_bins(
        df, ts_col="ts", score_col="score", label_col="label",
        window_duration="1 hour", n_bins=10).collect()
    assert sum(r.n for r in bins) == 2
    rolled = calibration_from_bins(
        spark.createDataFrame(bins)).collect()[0]
    assert rolled.n == 2
    assert rolled.ece == rolled.ece  # not NaN


def test_anomaly_sink_read_series_dedup_and_compact(spark, tmp_path):
    """foreachBatch redelivery appends the same microbatch twice:
    read_series must hide the duplicates, and compact() must rewrite
    the store so they are gone on disk too."""
    import datetime as dt

    from whylogs_spark.streaming.anomaly import AnomalyMonitorSink

    t0 = dt.datetime(2026, 4, 1)
    schema = "series string, ts timestamp, value double"
    rows = [("a", t0 + dt.timedelta(hours=h), 10.0 + h)
            for h in range(6)]
    batch = spark.createDataFrame(rows, schema)
    sink = AnomalyMonitorSink(
        str(tmp_path / "dup_store"), "ts", "value",
        key_cols=["series"], window=4, method="zscore")
    sink(batch, 0)
    sink(batch, 0)  # simulated at-least-once redelivery
    sink(batch.filter(F.hour("ts") >= 3), 1)  # partial overlap too

    raw = spark.read.parquet(sink.path)
    assert raw.count() == 2 * len(rows) + 3
    got = sink.read_series(spark)
    assert got.count() == len(rows)
    assert got.filter("series = 'a'").agg(
        F.sum("value")).first()[0] == pytest.approx(
            sum(v for _, _, v in rows))

    sink.compact(spark)
    raw2 = spark.read.parquet(sink.path)
    assert raw2.count() == len(rows)
    # judged history unchanged by compaction
    assert sink.read_anomalies(spark).count() == len(rows)


def test_streaming_value_counts_topk_matches_batch(spark, tmp_path):
    """Windowed streaming value counts + sink-side top-k rollup must
    equal a batch groupBy on each window's slice; nulls excluded,
    long values truncated."""
    import datetime as dt

    from whylogs_spark.streaming.frequent import (
        frequent_from_counts, streaming_value_counts)

    t0 = dt.datetime(2024, 6, 1, 9, 0)
    rows = []
    vals = ["ok"] * 7 + ["warn"] * 4 + ["err"] * 2 + [None] * 3 + \
        ["x" * 300]
    for hour in (0, 1):
        for i, v in enumerate(vals):
            rows.append((t0 + dt.timedelta(hours=hour, minutes=i), v))
    df = spark.createDataFrame(rows, "ts timestamp, status string")
    src = str(tmp_path / "freq_src")
    df.repartition(2).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    counts = streaming_value_counts(
        stream, ts_col="ts", value_col="status",
        window_duration="1 hour", watermark="0 seconds", truncate=5)
    q = (counts.writeStream.format("memory").queryName("vcounts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    sink = spark.sql("SELECT * FROM vcounts")
    top = frequent_from_counts(sink, k=2).collect()
    by_win = {}
    for r in top:
        by_win.setdefault(r.window_start.hour, []).append(r)
    assert set(by_win) == {9, 10}
    for hour, rs in by_win.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [(r.value, r.n, r.rank) for r in rs] == \
            [("ok", 7, 1), ("warn", 4, 2)]
        # frac denominates over COUNTED (non-null) rows: 7+4+2+1
        assert rs[0].frac == pytest.approx(7 / 14)
    # truncation applied: the 300-char value is stored at 5 chars
    assert sink.filter("value = 'xxxxx'").count() == 2
    # nulls excluded entirely
    assert sink.filter("value is null").count() == 0

    with pytest.raises(ValueError, match="truncate"):
        streaming_value_counts(stream, truncate=0)
    with pytest.raises(ValueError, match="k must"):
        frequent_from_counts(sink, k=0)


def test_frequent_from_counts_update_mode_partials(spark):
    """An update-mode append sink re-emits a (window, value) key with
    its cumulative count each microbatch; the rollup must keep only
    the latest (max) count so stale partials neither occupy extra
    ranks nor deflate frac."""
    import datetime as dt

    from whylogs_spark.streaming.frequent import frequent_from_counts

    w0 = dt.datetime(2024, 6, 1, 9)
    w1 = dt.datetime(2024, 6, 1, 10)
    rows = [
        (w0, w1, "ok", 3), (w0, w1, "ok", 7),     # two emissions
        (w0, w1, "warn", 4),
        (w0, w1, "err", 1), (w0, w1, "err", 2),
    ]
    df = spark.createDataFrame(
        rows, "window_start timestamp, window_end timestamp, "
              "value string, n long")
    got = sorted(frequent_from_counts(df, k=3).collect(),
                 key=lambda r: r.rank)
    assert [(r.value, r.n, r.rank) for r in got] == \
        [("ok", 7, 1), ("warn", 4, 2), ("err", 2, 3)]
    assert got[0].frac == pytest.approx(7 / 13)


def test_anomaly_sink_compact_rolls_back_cleanly(spark, tmp_path):
    """The compact swap must leave the store intact if interrupted:
    simulate by verifying the trash dir is cleaned on success and a
    stale trash dir from a crashed run does not break the next one."""
    import datetime as dt
    import os

    from whylogs_spark.streaming.anomaly import AnomalyMonitorSink

    t0 = dt.datetime(2026, 5, 1)
    schema = "series string, ts timestamp, value double"
    rows = [("a", t0 + dt.timedelta(hours=h), 1.0) for h in range(4)]
    batch = spark.createDataFrame(rows, schema)
    sink = AnomalyMonitorSink(
        str(tmp_path / "c_store"), "ts", "value", key_cols=["series"])
    sink(batch, 0)
    sink(batch, 0)
    # stale trash from a hypothetical earlier crash
    os.makedirs(sink.path + "__compact_old", exist_ok=True)
    open(sink.path + "__compact_old/junk", "w").write("x")
    sink.compact(spark)
    assert spark.read.parquet(sink.path).count() == len(rows)
    assert not os.path.exists(sink.path + "__compact_old")
    assert not os.path.exists(sink.path + "__compact_tmp")


def test_streaming_session_stats_native_matches_batch(spark, tmp_path):
    """Native session_window sessions == batch sessionize/session_stats
    on the same data: session boundaries at the gap, true span (not
    gap-padded), value aggregates. Also: a late event INSIDE the
    watermark that bridges two sessions merges them — the native
    machinery's advantage over the custom stateful operator."""
    import datetime as dt

    from whylogs_spark.ops.events import session_stats, sessionize
    from whylogs_spark.streaming.sessions import streaming_session_stats

    t0 = dt.datetime(2024, 7, 1, 8, 0)
    mk = lambda u, mins, v: (u, t0 + dt.timedelta(minutes=mins), v)
    rows = [mk(1, 0, 1.0), mk(1, 10, 2.0), mk(1, 70, 4.0),   # 2 sessions
            mk(2, 5, 8.0)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double")
    src = str(tmp_path / "sess_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    sess = streaming_session_stats(
        stream, gap="30 minutes", watermark="0 seconds",
        value_col="value")
    q = (sess.writeStream.format("memory").queryName("nsess")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(spark.sql("SELECT * FROM nsess").collect(),
                 key=lambda r: (r.user_id, r.session_start))
    want = sorted(
        session_stats(sessionize(df, gap="30 minutes")).collect(),
        key=lambda r: (r.user_id, r.session_start))
    assert len(got) == len(want) == 3
    for g, w in zip(got, want):
        assert g.user_id == w.user_id
        assert g.session_start == w.session_start
        assert g.n_events == w.n_events
        assert g.duration_seconds == w.duration_sec
        assert g.window_end == g.last_event + dt.timedelta(minutes=30)
    assert [g.value_sum for g in got] == [3.0, 4.0, 8.0]


def test_streaming_session_stats_merges_bridged_sessions(spark,
                                                         tmp_path):
    """Two microbatches: first delivers 8:00 and 8:50 (a 50-min gap ->
    two open sessions), second delivers a LATE 8:25 event that bridges
    them within the watermark -> ONE merged session of 3 events."""
    import datetime as dt

    from whylogs_spark.streaming.sessions import streaming_session_stats

    t0 = dt.datetime(2024, 7, 2, 8, 0)
    schema = "user_id long, ts timestamp, value double"
    src = str(tmp_path / "bridge_src")
    b0 = [(1, t0, 1.0), (1, t0 + dt.timedelta(minutes=50), 2.0)]
    b1 = [(1, t0 + dt.timedelta(minutes=25), 4.0)]
    for i, rows in enumerate([b0, b1]):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(src + f"/b={i}")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    sess = streaming_session_stats(
        stream, gap="30 minutes", watermark="2 hours")
    q = (sess.writeStream.format("memory").queryName("bsess")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM bsess").collect()
    assert len(got) == 1
    assert got[0].n_events == 3
    assert got[0].duration_seconds == 50 * 60


def test_streaming_session_stats_subsecond_duration(spark, tmp_path):
    """Sub-second spans must keep microsecond precision (batch
    parity), not whole-second endpoint truncation."""
    import datetime as dt

    from whylogs_spark.streaming.sessions import streaming_session_stats

    t0 = dt.datetime(2024, 7, 3, 8, 0, 0, 900000)
    rows = [(1, t0, 1.0),
            (1, t0 + dt.timedelta(milliseconds=300), 2.0)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double")
    src = str(tmp_path / "subsec_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    sess = streaming_session_stats(stream, gap="30 minutes",
                                   watermark="0 seconds")
    q = (sess.writeStream.format("memory").queryName("subsec")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM subsec").collect()
    assert len(got) == 1
    assert got[0].duration_seconds == pytest.approx(0.3)


def test_streaming_heavy_hitters_mg_bounds(spark, tmp_path):
    """Misra-Gries heavy hitters: cardinality far above `slots`, two
    microbatches per window. The emitted estimates must obey the MG
    contract est <= true <= est + max_undercount, the heavy values
    must rank on top, and windows emit only after the watermark
    passes (a far-future sentinel forces it)."""
    import datetime as dt
    from collections import Counter

    from whylogs_spark.streaming.frequent import streaming_heavy_hitters

    t0 = dt.datetime(2024, 8, 1, 9, 0)
    vals = []
    for i in range(60):            # "hot" values
        vals += ["hot_a"] * 3 + ["hot_b"] * 2
    vals += [f"cold_{i}" for i in range(400)]   # long tail
    rows = [(t0 + dt.timedelta(seconds=i % 3000), v)
            for i, v in enumerate(vals)]
    truth = Counter(vals)
    schema = "ts timestamp, status string"
    src = str(tmp_path / "hh_src")
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], schema).coalesce(1) \
        .write.parquet(src + "/b=0")
    spark.createDataFrame(rows[half:], schema).coalesce(1) \
        .write.parquet(src + "/b=1")
    sentinel = [(t0 + dt.timedelta(days=2), "zz")]
    spark.createDataFrame(sentinel, schema).coalesce(1) \
        .write.parquet(src + "/b=2")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    hh = streaming_heavy_hitters(
        stream, ts_col="ts", value_col="status",
        window_duration="1 hour", watermark="0 seconds", slots=16)
    q = (hh.writeStream.format("memory").queryName("hh")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.sql(
        "SELECT * FROM hh WHERE window_start < '2024-08-02'").collect()
    assert got, "window should have emitted after the sentinel"
    assert len({r.window_start for r in got}) == 1
    by_rank = sorted(got, key=lambda r: r.rank)
    # state never exceeded the slot budget
    assert len(got) <= 16
    # the two planted heavy values top the ranking
    assert {by_rank[0].value, by_rank[1].value} == {"hot_a", "hot_b"}
    for r in got:
        true = truth[r.value]
        assert r.est_count <= true <= r.est_count + r.max_undercount, r
    assert by_rank[0].n_rows == len(vals)

    with pytest.raises(ValueError, match="slots"):
        streaming_heavy_hitters(stream, slots=0)


def test_streaming_frequent_drop_null_event_times(spark, tmp_path):
    """Rows with a null event time must be dropped before windowing in
    both streaming_value_counts and streaming_heavy_hitters — a null ts
    otherwise keys a null/NaT window whose heavy-hitters state row
    computes wstart_ms from the int64 NaT sentinel."""
    import datetime as dt

    from whylogs_spark.streaming.frequent import (
        streaming_heavy_hitters, streaming_value_counts)

    t0 = dt.datetime(2024, 8, 1, 9, 0)
    rows = [(t0 + dt.timedelta(minutes=i), "ok") for i in range(5)]
    rows += [(None, "null_ts")] * 3
    rows += [(t0 + dt.timedelta(days=2), "zz")]   # watermark sentinel
    schema = "ts timestamp, status string"
    src = str(tmp_path / "nullts_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    vc = streaming_value_counts(
        stream, ts_col="ts", value_col="status",
        window_duration="1 hour", watermark="0 seconds")
    q = (vc.writeStream.format("memory").queryName("nullts_vc")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    vrows = spark.sql("SELECT * FROM nullts_vc").collect()
    assert all(r.window_start is not None for r in vrows)
    assert not [r for r in vrows if r.value == "null_ts"]

    hh = streaming_heavy_hitters(
        stream, ts_col="ts", value_col="status",
        window_duration="1 hour", watermark="0 seconds", slots=8)
    q = (hh.writeStream.format("memory").queryName("nullts_hh")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    hrows = spark.sql(
        "SELECT * FROM nullts_hh WHERE window_start < '2024-08-02'"
    ).collect()
    assert hrows and all(r.window_start == t0 for r in hrows)
    assert {r.value for r in hrows} == {"ok"}
    assert all(r.n_rows == 5 for r in hrows)


def test_streaming_fk_monitor_matches_batch(spark, tmp_path):
    """Windowed orphan accounting over a file stream equals the same
    accounting computed in batch, and the runtime plan is a broadcast
    stream-static join + one watermarked stateful agg."""
    import datetime as dt

    from whylogs_spark.streaming.integrity import streaming_fk_monitor

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for i in range(40):
        fk = None if i % 10 == 0 else (999 if i % 7 == 0 else i % 5)
        rows.append((i, t0 + dt.timedelta(minutes=i), fk))
    src = str(tmp_path / "fk_src")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, cust long"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    dim = spark.createDataFrame([(i,) for i in range(5)], "id long")

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    out = streaming_fk_monitor(stream, dim, ["cust"], ["id"],
                               window="10 minutes",
                               watermark="0 seconds")
    q = (out.writeStream.format("memory").queryName("fk_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.window_start: (r.child_rows, r.null_key_rows,
                            r.matched_rows, r.orphan_rows,
                            r.match_rate)
           for r in spark.sql("SELECT * FROM fk_out").collect()}

    # batch reference over the same file
    from pyspark.sql import functions as F
    batch = spark.read.parquet(src)
    b = (batch.join(dim.withColumnRenamed("id", "cust")
                    .withColumn("__m", F.lit(True)), "cust", "left")
         .groupBy(F.window("ts", "10 minutes").alias("w"))
         .agg(F.count("*").alias("n"),
              F.sum(F.when(F.col("cust").isNull(), 1).otherwise(0))
              .alias("nk"),
              F.sum(F.when(F.col("__m").isNotNull(), 1).otherwise(0))
              .alias("m"),
              F.sum(F.when(F.col("__m").isNull()
                           & F.col("cust").isNotNull(), 1)
                    .otherwise(0)).alias("o"))
         .collect())
    want = {r.w.start: (r.n, r.nk, r.m, r.o,
                        round(r.m / (r.n - r.nk), 6)
                        if r.n - r.nk > 0 else None)
            for r in b}
    # all but the last window are closed under availableNow + 0s
    # watermark; compare the closed ones
    assert len(got) >= len(want) - 1
    for k, v in got.items():
        assert want[k] == v

    plan = Plan.of(q)
    assert plan.has("EventTimeWatermark")
    assert plan.has("BroadcastHashJoin")
    assert plan.has("StateStoreSave")


def test_streaming_fk_monitor_arity_validation(spark, tmp_path):
    import pytest

    from whylogs_spark.streaming.integrity import streaming_fk_monitor

    dim = spark.createDataFrame([(1,)], "id long")
    df = spark.createDataFrame(
        [], "event_id long, ts timestamp, cust long")
    with pytest.raises(ValueError, match="arity"):
        streaming_fk_monitor(df, dim, ["cust"], ["id", "id"])


def test_streaming_srm_monitor(spark, tmp_path):
    """Windowed arm counts on a stream + sink-side SRM rollup: a
    balanced window stays quiet, a 75/25 window flags, junk arms and
    null timestamps are excluded."""
    import datetime as dt

    from whylogs_spark.core.drift import chi2_sf
    from whylogs_spark.streaming.experiment import (
        srm_from_counts, streaming_arm_counts)

    t0 = dt.datetime(2024, 9, 1, 9, 0)
    rows = []
    # window 1 (9:00): balanced 40/40
    for i in range(40):
        rows.append((t0 + dt.timedelta(seconds=i), "c"))
        rows.append((t0 + dt.timedelta(seconds=i, milliseconds=500),
                     "t"))
    # window 2 (10:00): broken 60/20
    t1 = t0 + dt.timedelta(hours=1)
    for i in range(60):
        rows.append((t1 + dt.timedelta(seconds=i), "c"))
    for i in range(20):
        rows.append((t1 + dt.timedelta(seconds=i), "t"))
    rows += [(t0, "junk")] * 10 + [(None, "c")] * 5
    df = spark.createDataFrame(rows, "ts timestamp, arm string")
    src = str(tmp_path / "srm_src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    counts = streaming_arm_counts(
        stream, ts_col="ts", group_col="arm", arms=["c", "t"],
        window_duration="1 hour", watermark="0 seconds")
    q = (counts.writeStream.format("memory").queryName("srm_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    sink = spark.sql("SELECT * FROM srm_counts")
    assert sink.filter("arm = 'junk'").count() == 0
    out = {r.window_start.hour: r for r in srm_from_counts(
        sink, {"c": 0.5, "t": 0.5}).collect()}
    assert out[9].n_total == 80 and out[9].n_c == 40
    assert chi2_sf(out[9].chi2, out[9].dof) > 0.9
    assert out[10].n_total == 80 and out[10].n_c == 60
    # (60-40)^2/40 * 2 = 20
    assert out[10].chi2 == pytest.approx(20.0)
    assert chi2_sf(out[10].chi2, out[10].dof) < 1e-4

    with pytest.raises(ValueError, match="at least 2"):
        srm_from_counts(sink, {"c": 1.0})


def test_streaming_fairness_monitor(spark, tmp_path):
    """Windowed per-group decision counts on a stream + sink-side
    demographic-parity rollup: a balanced window shows no gap, a
    skewed window shows the selection-rate gap; junk groups and null
    predictions are excluded."""
    import datetime as dt

    from whylogs_spark.streaming.fairness import (
        fairness_from_counts, streaming_decision_counts)

    t0 = dt.datetime(2024, 9, 1, 9, 0)
    rows = []
    # window 1 (9:00): both groups select 50%
    for i in range(40):
        rows.append((t0 + dt.timedelta(seconds=i), "x", i % 2 == 0))
        rows.append((t0 + dt.timedelta(seconds=i, milliseconds=500),
                     "y", i % 2 == 0))
    # window 2 (10:00): x selects 75%, y selects 25%
    t1 = t0 + dt.timedelta(hours=1)
    for i in range(40):
        rows.append((t1 + dt.timedelta(seconds=i), "x", i % 4 != 0))
        rows.append((t1 + dt.timedelta(seconds=i), "y", i % 4 == 0))
    rows += [(t0, "junk", True)] * 10 + [(t0, "x", None)] * 5
    df = spark.createDataFrame(rows,
                               "ts timestamp, g string, p boolean")
    src = str(tmp_path / "fair_src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    counts = streaming_decision_counts(
        stream, ts_col="ts", group_col="g", pred_col="p",
        groups=["x", "y"], window_duration="1 hour",
        watermark="0 seconds")
    q = (counts.writeStream.format("memory")
         .queryName("fair_counts").outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    sink = spark.sql("SELECT * FROM fair_counts")
    assert sink.filter("group = 'junk'").count() == 0
    out = {(r.window_start.hour, r.group): r for r in
           fairness_from_counts(sink, "x").collect()}
    assert out[(9, "x")].n == 40  # null preds excluded
    assert out[(9, "y")].demographic_parity_diff == pytest.approx(0.0)
    assert out[(9, "y")].disparate_impact == pytest.approx(1.0)
    assert out[(10, "x")].selection_rate == pytest.approx(0.75)
    assert out[(10, "y")].selection_rate == pytest.approx(0.25)
    assert out[(10, "y")].demographic_parity_diff == \
        pytest.approx(-0.5)
    assert out[(10, "y")].disparate_impact == pytest.approx(1 / 3)
