"""A default profile is one native program: no Python worker, Columns
built once per schema, and DataSketches blobs that still merge with
stores written in the engine's former sketch formats."""

import datetime as dt
import json

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.column import Column as ClassicColumn

import whylogs_spark as wsp
from whylogs_spark.core.plan import Plan, named
from whylogs_spark.core.planner import plan_dataframe
from whylogs_spark.core.profiler import (ProfileView, _native_frame,
                                         merge_profiles, merge_segments)
from whylogs_spark.core.sketches import FrequentStringsSketch, KllSketch
from whylogs_spark.io.dsketch import fi_to_ds_bytes, fi_with_null_count
from whylogs_spark.io.store import ProfileStore
from whylogs_spark.io.why1 import read_why1, read_why1_rows, write_why1
from tests.conftest import old_writer, profile_wide

@pytest.fixture(scope="module")
def frame(spark):
    """20k rows in one partition: 8 float, 4 string and 1 int column;
    "top" is every string column's most frequent value."""
    return spark.range(0, 20_000, 1, 1).select(
        *[(F.sin(F.col("id") * (k + 1)) * 100).alias(f"f{k}")
          for k in range(8)],
        *[F.when(F.col("id") % 3 == 0, "top").otherwise(
            (F.col("id") % (5 + 7 * k)).cast("string")).alias(f"s{k}")
          for k in range(4)],
        (F.col("id") % 8).alias("seg"))


@pytest.mark.parametrize("run, kwargs", [
    (wsp.profile, {}), (wsp.profile, {"segment_by": ["seg"]}),
    (profile_wide, {"segment_by": ["seg"]}),
], ids=["unsegmented", "segmented", "wide"])
def test_default_profile_runs_no_python_node(spark, frame, launched_jobs,
                                             run, kwargs):
    (view, plans), jobs = launched_jobs(lambda: Plan.executed(
        spark, lambda: run(frame, **kwargs)))
    assert plans and all(p.has(named("Aggregate")) for p in plans)
    for p in plans:
        assert not p.python_nodes(), p.names()
    if not kwargs:
        assert len(jobs) <= 9, sorted(jobs)
    # the sketch components are there, from the native aggregates
    seg = "{}" if not kwargs else '{"seg":"1"}'
    assert view.get_component("f0", "distribution", "kll", seg) is not None
    items = json.loads(view.get_component("s0", "frequent_items", "items",
                                          seg))
    assert items[0]["value"] == "top"
    assert [i["est"] for i in items] == sorted(
        (i["est"] for i in items), reverse=True)


def test_repeat_planning_reuses_its_columns(spark, monkeypatch):
    """A schema planned once is planned for free: the second call
    returns the same output Column objects and builds none, and a job's
    frame over the plan builds none either."""
    schema = T.StructType([T.StructField("memo_x", T.DoubleType()),
                           T.StructField("memo_s", T.StringType()),
                           T.StructField("memo_i", T.LongType())])
    built = []
    init = ClassicColumn.__init__

    def counting(self, *args, **kwargs):
        built.append(1)
        init(self, *args, **kwargs)

    monkeypatch.setattr(ClassicColumn, "__init__", counting)
    first = plan_dataframe(schema, None, [], wsp.MetricConfig())
    assert built  # the first plan builds its Columns
    built.clear()
    again = plan_dataframe(schema, None, [], wsp.MetricConfig())
    assert again is first
    assert all(a.agg is b.agg and a.out is b.out
               for a, b in zip(first, again))
    df = spark.createDataFrame([(1.0, "a", 1)], schema)
    grouped = df.groupBy()
    built.clear()
    frame = _native_frame(grouped, again, [])
    assert built == []
    monkeypatch.undo()
    assert len(frame.columns) == sum(a.out is not None for a in first)


def _legacy(view, values, words):
    """``view`` with its KLL and frequent-items blobs replaced by the
    engine's former ``WSK1``/``WFI1`` sketches of the same data."""
    kll, fi = KllSketch(256), FrequentStringsSketch(128, 128)
    kll.update_batch(values)
    fi.update_batch(words)
    table = view.table().to_pylist()
    for r in table:
        if (r["metric"], r["component"]) == ("distribution", "kll"):
            r["b"] = kll.serialize()
        elif (r["metric"], r["component"]) == ("frequent_items", "mg"):
            r["b"] = fi.serialize()
    return ProfileView(pa.Table.from_pylist(table, view.table().schema),
                       spark=view.spark)


def test_store_mixing_legacy_and_datasketches_rows(spark, tmp_path):
    rng = np.random.default_rng(11)
    days, views = [], []
    for shift in (0.0, 0.0, 3.0):
        x = rng.normal(shift, 1.0, 4000)
        w = rng.choice(["a", "b", "c", "d"], 4000,
                       p=[0.5, 0.3, 0.15, 0.05] if not shift
                       else [0.05, 0.15, 0.3, 0.5])
        days.append((x, w))
        views.append(wsp.profile(spark.createDataFrame(
            [(float(a), str(b)) for a, b in zip(x, w)],
            "x double, w string")))
    blob = views[0].get_component("x", "distribution", "kll")
    assert bytes(blob)[2] == 15  # DataSketches KLL family byte
    mg = views[0].get_component("w", "frequent_items", "mg")
    assert bytes(mg)[2] == 10  # DataSketches frequent-items family byte
    mixed = [views[0], _legacy(views[1], *days[1]), views[2]]
    assert bytes(mixed[1].get_component("x", "distribution", "kll"))[:4] \
        == b"WSK1"

    # an unmarked store, as the engine wrote before the format marker:
    # its reads probe for the legacy blobs
    store = ProfileStore(str(tmp_path / "store"))
    dates = []
    for i, v in enumerate(mixed):
        ts = dt.datetime(2024, 3, 1 + i, tzinfo=dt.timezone.utc)
        with old_writer():
            store.write(v, "mix", ts)
        dates.append(ts.date().isoformat())

    got = store.get(spark, "mix", dates[0], dates[1])
    assert got.get_component("x", "counts", "n") == 8000
    merged = KllSketch.deserialize(
        bytes(got.get_component("x", "distribution", "kll")))
    assert merged.n == 8000
    both = np.sort(np.concatenate([days[0][0], days[1][0]]))
    med = merged.quantile(0.5)
    assert abs(np.searchsorted(both, med) / both.size - 0.5) < 0.02
    items = json.loads(got.get_component("w", "frequent_items", "items"))
    assert items[0]["value"] == "a"

    pair = merge_profiles(mixed[:2])
    assert pair.get_component("x", "distribution", "n") == 8000

    scores = {s.column: s for s in store.drift_between(
        spark, "mix", dates[0], dates[0], dates[1], dates[2])}
    assert set(scores) == {"x", "w"}
    assert {s.category for s in scores.values()} == {"DRIFT"}

    series = store.quantile_series(spark, "mix", "x", quantiles=(0.5,),
                                   window=2).orderBy("dataset_ts").collect()
    assert [r["batches"] for r in series] == [1, 2, 2]
    assert [r["n"] for r in series] == [4000, 8000, 8000]

    # WHY1: DataSketches blobs are copied unchanged, legacy ones converted
    for i, v in enumerate((views[0], got)):
        path = str(tmp_path / f"p{i}.bin")
        write_why1(v, path)
        rows = {(r[1], r[2], r[3]): r[7] for r in read_why1_rows(path)}
        kll = rows[("x", "distribution", "kll")]
        if i == 0:
            assert bytes(kll) == bytes(blob)
        assert KllSketch.deserialize(bytes(kll)).n == (4000, 8000)[i]


def test_why1_plain_frequent_items_bytes_merge(spark, tmp_path):
    """A WHY1 frequent-strings payload of plain DataSketches bytes (as
    reference whylogs writes it, with no Spark null count after it)
    reads back in the shape of a profile's ``mg`` blob, so the native
    merge can combine it."""
    words = ["a"] * 50 + ["b"] * 30 + ["c"] * 20
    view = wsp.profile(spark.createDataFrame([(w,) for w in words],
                                             "w string"))
    fresh = bytes(view.get_component("w", "frequent_items", "mg"))
    assert fi_with_null_count(fresh) == fresh
    empty = fi_to_ds_bytes(FrequentStringsSketch(128, 128))
    assert fi_with_null_count(empty) == empty + bytes(8)
    fi = FrequentStringsSketch(128, 128)
    fi.update_batch(words)
    plain = fi_to_ds_bytes(fi)
    table = view.table().to_pylist()
    for r in table:
        if (r["metric"], r["component"]) == ("frequent_items", "mg"):
            r["b"] = plain
    path = str(tmp_path / "plain.bin")
    write_why1(ProfileView(pa.Table.from_pylist(table, view.table().schema),
                           spark=view.spark), path)
    back = read_why1(spark, path)
    assert bytes(back.get_component("w", "frequent_items", "mg")) \
        == plain + bytes(8)
    merged = merge_profiles([back, back])
    items = json.loads(merged.get_component("w", "frequent_items", "items"))
    assert [(i["value"], i["est"]) for i in items] == [
        ("a", 100), ("b", 60), ("c", 40)]


def test_store_plain_frequent_items_blobs(spark, tmp_path):
    """A store whose ``mg`` blobs are plain DataSketches bytes (no Spark
    null count after them; stores written from WHY1 views before WHY1
    reads appended the count hold them) reads, collapses segments and
    scores drift like a store written with the counts: the store probe
    finds the plain blobs and appends the count."""
    days = {1: [("a", i % 2) for i in range(50)]
            + [("b", i % 2) for i in range(30)] + [("c", 0)] * 20,
            2: [("a", 0)] * 10 + [("b", 1)] * 30
            + [("c", i % 2) for i in range(60)]}
    plain, full = (ProfileStore(str(tmp_path / name))
                   for name in ("plain", "full"))
    for day, rows in days.items():
        view = wsp.profile(spark.createDataFrame(rows, "w string, g int"),
                           segment_by=["g"])
        table = view.table().to_pylist()
        for r in table:
            if r["component"] == "mg":
                r["b"] = bytes(r["b"])[:-8]
                assert fi_with_null_count(r["b"]) == r["b"] + bytes(8)
        ts = dt.datetime(2024, 3, day, tzinfo=dt.timezone.utc)
        with old_writer():  # an unmarked store keeps the plain blobs
            plain.write(ProfileView(pa.Table.from_pylist(
                table, view.table().schema), spark=view.spark), "ds", ts)
        full.write(view, "ds", ts)

    def items(view, segment):
        return [(i["value"], i["est"]) for i in json.loads(
            view.get_component("w", "frequent_items", "items", segment))]

    got = plain.get(spark, "ds")
    assert items(got, '{"g":"0"}') == [("c", 50), ("a", 35), ("b", 15)]
    assert items(got, '{"g":"1"}') == [("b", 45), ("c", 30), ("a", 25)]
    day1 = merge_segments(plain.get(spark, "ds", "2024-03-01",
                                    "2024-03-01", merge=False))
    assert items(day1, "{}") == [("a", 50), ("b", 30), ("c", 20)]
    for by_segment in (False, True):
        assert plain.drift_between(
            spark, "ds", "2024-03-01", "2024-03-01", "2024-03-02",
            "2024-03-02", by_segment=by_segment) == full.drift_between(
            spark, "ds", "2024-03-01", "2024-03-01", "2024-03-02",
            "2024-03-02", by_segment=by_segment)


def test_merge_of_local_views_with_plain_frequent_items_blobs(spark):
    """Local views whose ``mg`` blobs are plain DataSketches bytes merge:
    the driver-side check finds them as the store probe does, and the
    merge appends Spark's null count before ``approx_top_k_combine``
    reads them."""
    view = wsp.profile(spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3, "w string"))
    table = view.table().to_pylist()
    for r in table:
        if r["component"] == "mg":
            r["b"] = bytes(r["b"])[:-8]
    plain = ProfileView(pa.Table.from_pylist(table, view.table().schema),
                        spark=view.spark)
    for merged, k in ((merge_profiles([plain, plain]), 2),
                      (merge_segments(plain), 1)):
        items = json.loads(merged.get_component("w", "frequent_items",
                                                "items"))
        assert [(i["value"], i["est"]) for i in items] == [
            ("a", 5 * k), ("b", 3 * k)]


def test_merge_of_one_profile_is_that_profile(spark):
    """``merge_profiles([v])`` renders every component as ``v`` does: the
    mode-aware cardinality bounds and the frequent items that beat the
    sketch's error (``[]`` on a near-uniform integer column), from the
    same read-outs. KLL merges are randomized, so its rows are left out,
    and a frequent-items blob is compared by its counts (a rebuilt
    sketch may serialize its items in another order)."""
    df = spark.range(0, 5000, 1, 1).select(
        (F.col("id") % 1000).alias("uniform"), (F.col("id") % 7).alias("few"),
        (F.col("id") * 1.5).alias("x"),
        F.lit(None).cast("double").alias("empty"))
    view = wsp.profile(df)

    def counts(blob):
        sk = FrequentStringsSketch.deserialize(blob)
        return sk.n, sk.error, sk.counts

    def rows(v):
        return {(r["column"], r["metric"], r["component"]):
                (r["n"], r["d"], r["s"],
                 counts(r["b"]) if r["component"] == "mg" else r["b"])
                for r in v.table().to_pylist()
                if r["component"] != "kll" and not (
                    r["metric"] == "distribution"
                    and r["component"].startswith(("q_", "median")))}

    fresh, merged = rows(view), rows(merge_profiles([view]))
    assert merged == fresh
    assert fresh[("uniform", "frequent_items", "items")][2] == "[]"
    est, lower = (fresh[("few", "cardinality", c)][1]
                  for c in ("est", "lower"))
    assert est == 7 and lower > 6.99


def test_streaming_sketch_windows_run_no_python_node(spark, tmp_path):
    """The streaming operators that hold sketches per window —
    ``streaming_profile``, ``streaming_quantiles`` and
    ``streaming_heavy_hitters`` — run a stateful native aggregate: their
    runtime microbatch plans have a state store and no Python node."""
    from whylogs_spark.streaming.frequent import streaming_heavy_hitters
    from whylogs_spark.streaming.quantiles import streaming_quantiles
    from whylogs_spark.streaming.rolling import streaming_profile

    src = str(tmp_path / "src")
    spark.range(0, 500, 1, 1).select(
        F.timestamp_seconds(F.lit(1_714_557_600) + F.col("id") * 7)
        .alias("ts"), (F.col("id") % 17 * 1.5).alias("x"),
        (F.col("id") % 5).cast("string").alias("w")).write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, x double, w string") \
        .parquet(src)
    operators = {
        "profile": streaming_profile(stream, ts_col="ts",
                                     watermark="0 seconds"),
        "quantiles": streaming_quantiles(stream, "x",
                                         watermark="0 seconds"),
        "heavy_hitters": streaming_heavy_hitters(
            stream, value_col="w", watermark="0 seconds", slots=8),
    }
    for name, out in operators.items():
        q = (out.writeStream.format("noop").outputMode("append")
             .option("checkpointLocation", str(tmp_path / name))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        plan = Plan.of(q)
        assert plan.has("StateStoreSave"), (name, plan.names())
        assert not plan.python_nodes(), (name, plan.names())
