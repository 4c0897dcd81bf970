"""Streaming per-group reservoir: the emitted sample must EQUAL the
batch group_sample of the same rows (same hash recipe), regardless of
arrival order across microbatches."""

import datetime

from whylogs_spark.core.plan import Plan
from whylogs_spark.ops.sampling import group_sample
from whylogs_spark.streaming.sampling import streaming_group_sample

BASE = datetime.datetime(2024, 8, 1)


def test_streaming_sample_equals_batch(spark, tmp_path):
    rows = []
    for src_i, src in enumerate(("web", "books", "code")):
        for i in range(200):
            rows.append((src, 1000 * src_i + i,
                         BASE + datetime.timedelta(minutes=i % 30)))
    df = spark.createDataFrame(rows, "source string, doc_id long, "
                                     "ts timestamp")
    sentinel = spark.createDataFrame(
        [("zz", 999999, BASE + datetime.timedelta(days=30))],
        "source string, doc_id long, ts timestamp")

    # two microbatches with interleaved arrival order, then sentinel
    d = str(tmp_path / "src")
    df.filter("doc_id % 2 = 0").coalesce(1).write.parquet(d + "/b=0")
    df.filter("doc_id % 2 = 1").coalesce(1).write.parquet(d + "/b=1")
    sentinel.coalesce(1).write.parquet(d + "/b=2")
    stream = (spark.readStream
              .schema("source string, doc_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(d + "/*"))

    out = streaming_group_sample(
        stream, "source", k=25, key_cols=["doc_id"],
        watermark="0 seconds", salt="s1")
    q = (out.writeStream.format("memory").queryName("gsample")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(240)

    got = {(r["source"], r["doc_id"])
           for r in spark.sql(
               "SELECT source, doc_id FROM gsample "
               "WHERE source != 'zz'").collect()}
    # payload columns ride as strings through the JSON state
    want = {(r["source"], str(r["doc_id"]))
            for r in group_sample(df, ["source"], 25, ["doc_id"],
                                  salt="s1").collect()}
    assert got == want
    assert len(got) == 75  # 25 x 3 groups

    # runtime plan audit
    plan = Plan.of(q)
    assert plan.has("FlatMapGroupsInPandasWithState")
    assert plan.has("EventTimeWatermark")


def test_streaming_sample_validation(spark):
    import pytest

    df = spark.createDataFrame([], "g string, id long, ts timestamp")
    with pytest.raises(ValueError, match="k must"):
        streaming_group_sample(df, "g", 0, ["id"])
    with pytest.raises(ValueError, match="columns not in"):
        streaming_group_sample(df, "g", 5, ["nope"])


def test_streaming_sample_all_null_payload_column(spark, tmp_path):
    """A payload column that is null in every sampled row must still
    be emitted (to_json drops null fields; the emitted frame used to
    lack the declared column and fail the Arrow conversion), and rank
    ties at the k boundary are cut to exactly k like the batch
    row_number() contract."""
    schema = "source string, doc_id long, note string, ts timestamp"
    rows = [("web", i % 4, None, BASE) for i in range(8)]
    df = spark.createDataFrame(rows, schema)
    sentinel = spark.createDataFrame(
        [("zz", 999999, "x", BASE + datetime.timedelta(days=30))],
        schema)

    d = str(tmp_path / "src")
    df.coalesce(1).write.parquet(d + "/b=0")
    sentinel.coalesce(1).write.parquet(d + "/b=1")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d + "/*"))

    out = streaming_group_sample(
        stream, "source", k=3, key_cols=["doc_id"],
        watermark="0 seconds", salt="s2")
    q = (out.writeStream.format("memory").queryName("gsnull")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(240)

    got = spark.sql(
        "SELECT * FROM gsnull WHERE source = 'web'").collect()
    # exactly k survive even though every doc_id appears twice
    # (identical rank pairs straddle the boundary)
    assert len(got) == 3
    assert all(r["note"] is None for r in got)
    want = {str(r["doc_id"])
            for r in group_sample(df, ["source"], 3, ["doc_id"],
                                  salt="s2").collect()}
    assert {r["doc_id"] for r in got} == want
