"""Streaming as-of enrichment: point-in-time dimension lookup on an
unbounded stream, including a LATE-arriving dimension update that a
plain stream-static join would have missed."""

import datetime

from whylogs_spark.core.plan import Plan
import whylogs_spark  # noqa: F401  (session fixtures)
from whylogs_spark.streaming.asof import streaming_asof_enrich

BASE = datetime.datetime(2024, 5, 1, 0, 0, 0)


def _t(minutes):
    return BASE + datetime.timedelta(minutes=minutes)


def test_streaming_asof_enrich_point_in_time(spark, tmp_path):
    ev_schema = "k long, ts timestamp, amount double"
    dim_schema = "k long, ts timestamp, tier string"

    # batch 0: dim versions for key 1 at t0 and t60; key 2 has none
    dims0 = spark.createDataFrame(
        [(1, _t(0), "bronze"), (1, _t(60), "silver")], dim_schema)
    # batch 0 events: before any version (t=-10), between versions
    # (t=30), after the second (t=90); key 2 event with no dim at all
    evs0 = spark.createDataFrame(
        [(1, _t(-10), 5.0), (1, _t(30), 7.0), (1, _t(90), 9.0),
         (2, _t(30), 11.0)], ev_schema)
    # batch 1: a LATE dim update for key 1 timestamped t75 (arrives
    # after the t90 event entered the buffer but before the watermark
    # released it) and key 2's first version at t10
    dims1 = spark.createDataFrame(
        [(1, _t(75), "gold"), (2, _t(10), "basic")], dim_schema)
    evs1 = spark.createDataFrame([(2, _t(80), 13.0)], ev_schema)
    # batch 2: watermark-pushing sentinels on both streams
    dims2 = spark.createDataFrame(
        [(999, _t(100000), "zz")], dim_schema)
    evs2 = spark.createDataFrame([(999, _t(100000), 0.0)], ev_schema)

    esrc = str(tmp_path / "ev")
    dsrc = str(tmp_path / "dim")
    evs0.coalesce(1).write.parquet(esrc + "/b=0")
    dims0.coalesce(1).write.parquet(dsrc + "/b=0")
    evs1.coalesce(1).write.parquet(esrc + "/b=1")
    dims1.coalesce(1).write.parquet(dsrc + "/b=1")
    evs2.coalesce(1).write.parquet(esrc + "/b=2")
    dims2.coalesce(1).write.parquet(dsrc + "/b=2")

    ev_stream = (spark.readStream.schema(ev_schema)
                 .option("maxFilesPerTrigger", 1).parquet(esrc + "/*"))
    dim_stream = (spark.readStream.schema(dim_schema)
                  .option("maxFilesPerTrigger", 1).parquet(dsrc + "/*"))

    out = streaming_asof_enrich(
        ev_stream, dim_stream, key_col="k", ts_col="ts",
        dim_ts_col="ts", watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("asof")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(240)

    rows = {(r["k"], r["ts"]): r for r in spark.sql(
        "SELECT * FROM asof WHERE k < 999").collect()}
    assert len(rows) == 5

    # key 1 @ -10: no version yet
    r = rows[(1, _t(-10))]
    assert r["dim_tier"] is None and r["dim_ts"] is None
    assert r["amount"] == 5.0
    # key 1 @ 30: bronze (t0 version)
    r = rows[(1, _t(30))]
    assert r["dim_tier"] == "bronze" and r["dim_ts"] == _t(0)
    # key 1 @ 90: the LATE t75 'gold' version, not t60 'silver' —
    # point-in-time correctness across microbatches
    r = rows[(1, _t(90))]
    assert r["dim_tier"] == "gold" and r["dim_ts"] == _t(75)
    # key 2 @ 30: late 'basic' (t10) version arrives in batch 1
    r = rows[(2, _t(30))]
    assert r["dim_tier"] == "basic" and r["dim_ts"] == _t(10)
    # key 2 @ 80: same current version
    r = rows[(2, _t(80))]
    assert r["dim_tier"] == "basic" and r["amount"] == 13.0

    # runtime plan audit: stateful pandas operator behind ONE
    # event-time watermark, state hashed on the join key
    plan = Plan.of(q)
    assert plan.has("FlatMapGroupsInPandasWithState")
    assert plan.has("EventTimeWatermark")
    assert plan.has("Exchange", "hashpartitioning(__k")


def test_streaming_asof_validation(spark):
    ev = spark.createDataFrame([], "k long, ts timestamp, v double")
    dim_nocols = spark.createDataFrame([], "k long, ts timestamp")
    import pytest

    with pytest.raises(ValueError, match="no attribute"):
        streaming_asof_enrich(ev, dim_nocols, "k")
    dim_clash = spark.createDataFrame(
        [], "k long, ts timestamp, v double")
    ev_clash = spark.createDataFrame(
        [], "k long, ts timestamp, dim_v double")
    with pytest.raises(ValueError, match="collision"):
        streaming_asof_enrich(ev_clash, dim_clash, "k")


def test_streaming_asof_null_payload_columns(spark, tmp_path):
    """to_json drops null fields: an event payload column that is
    null in EVERY emitted row of a group batch must still appear in
    the output (it used to vanish from the buffered JSON and crash
    the query with a KeyError at the schema projection), and a
    PARTIALLY-null long column must come back as longs with nulls,
    not NaN floats that fail the Arrow cast."""
    ev_schema = "k long, ts timestamp, amt long, note string"
    dim_schema = "k long, ts timestamp, tier string"

    evs0 = spark.createDataFrame(
        [(1, _t(10), 5, None), (1, _t(20), None, None)], ev_schema)
    dims0 = spark.createDataFrame([(1, _t(0), "bronze")], dim_schema)
    evs1 = spark.createDataFrame(
        [(999, _t(100000), None, None)], ev_schema)
    dims1 = spark.createDataFrame([(999, _t(100000), None)], dim_schema)

    esrc = str(tmp_path / "ev")
    dsrc = str(tmp_path / "dim")
    evs0.coalesce(1).write.parquet(esrc + "/b=0")
    dims0.coalesce(1).write.parquet(dsrc + "/b=0")
    evs1.coalesce(1).write.parquet(esrc + "/b=1")
    dims1.coalesce(1).write.parquet(dsrc + "/b=1")

    ev_stream = (spark.readStream.schema(ev_schema)
                 .option("maxFilesPerTrigger", 1).parquet(esrc + "/*"))
    dim_stream = (spark.readStream.schema(dim_schema)
                  .option("maxFilesPerTrigger", 1).parquet(dsrc + "/*"))

    out = streaming_asof_enrich(
        ev_stream, dim_stream, key_col="k", ts_col="ts",
        dim_ts_col="ts", watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("asofnull")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(240)

    rows = {r["ts"]: r for r in spark.sql(
        "SELECT * FROM asofnull WHERE k < 999").collect()}
    assert len(rows) == 2
    assert rows[_t(10)]["amt"] == 5
    assert rows[_t(10)]["note"] is None
    assert rows[_t(20)]["amt"] is None
    assert rows[_t(20)]["note"] is None
    assert rows[_t(10)]["dim_tier"] == "bronze"
    assert rows[_t(20)]["dim_tier"] == "bronze"
