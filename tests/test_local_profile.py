"""Local profile views: ``profile()`` keeps its rows on the driver as one
Arrow table, reads them with no Spark job, and builds ``df`` from them
on first use.
"""

import glob
import math
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq
import pytest

import whylogs_spark as wsp
from whylogs_spark.core import profiler
from whylogs_spark.core.configs import MetricConfig
from whylogs_spark.core.sketches import KllSketch
from whylogs_spark.io.store import ProfileStore
from whylogs_spark.io.why1 import (read_why1, read_why1_segmented,
                                   write_why1, write_why1_segmented)

BIG = 2**62 + 3  # an int64 a double cannot hold


@pytest.fixture(scope="module")
def small(spark):
    rows = [(i % 6, None if i % 11 == 0 else float(i % 17) * 0.5,
             None if i % 13 == 0 else f"s{i % 7}",
             BIG - i if i % 3 else 2**53 + i)
            for i in range(600)]
    return spark.createDataFrame(
        rows, "k int, x double, s string, big long").coalesce(1)


def _summary_via_spark(view):
    """The summary as ``to_pandas`` built it from ``df.toPandas()``."""
    pdf = view.df.toPandas()
    pdf["key"] = pdf["metric"] + "/" + pdf["component"]
    pdf["value"] = pdf["n"].where(pdf["n"].notna(), pdf["d"]).astype(object)
    pdf.loc[pdf["value"].isna(), "value"] = pdf.loc[
        pdf["value"].isna(), "s"]
    wide = pdf.pivot_table(
        index=["segment", "column"], columns="key", values="value",
        aggfunc="first", dropna=False,
    ).reset_index()
    wide.columns.name = None
    return wide.sort_values(["segment", "column"]).reset_index(drop=True)


def _multiset(rows):
    def norm(v, kll):
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        if kll and v is not None:
            return _kll_content(v)
        return bytes(v) if isinstance(v, (bytes, bytearray)) else v

    return Counter(
        tuple(norm(r[k], k == "b" and r["component"] == "kll")
              for k in profiler.PROFILE_SCHEMA.names)
        for r in rows)


def _kll_content(blob):
    """A KLL blob as its items and their weights: below k values per
    segment the sketch keeps every item, but the order of its level-0
    items follows the shuffle's partial-merge order."""
    items, weights = KllSketch.deserialize(bytes(blob))._weighted_items()
    return tuple(items.tolist()), tuple(weights.tolist())


def _views(spark, small, tmp_path, monkeypatch):
    wide_cfg = MetricConfig(wide_column_threshold=1)
    parts = profiler.profile_partitions(
        small, {"by_k": ["k"], "all": []})
    unseg = wsp.profile(small)
    seg = wsp.profile(small, segment_by=["k"])
    why1_path = str(tmp_path / "p.bin")
    write_why1(unseg, why1_path)
    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    write_why1_segmented(seg, str(seg_dir))
    views = {
        "unsegmented": unseg,
        "segmented": seg,
        "wide": wsp.profile(small, segment_by=["k"], config=wide_cfg),
        "partitions": parts["by_k"],
        "partitions_empty": parts["all"],
        "why1": read_why1(spark, why1_path),
        "why1_segmented": read_why1_segmented(spark, str(seg_dir)),
    }
    monkeypatch.setattr(profiler, "_SEGMENT_COLLECT_LIMIT", 2)
    views["fallback"] = wsp.profile(small, segment_by=["k"])
    return views


def test_local_views_match_their_dataframe(spark, small, tmp_path,
                                           monkeypatch):
    views = _views(spark, small, tmp_path, monkeypatch)
    for name, view in views.items():
        pdf = view.to_pandas()
        pd.testing.assert_frame_equal(pdf, _summary_via_spark(view),
                                      obj=name)
        assert len(pdf) > 0, name
        want = _multiset(view.df.collect())
        assert _multiset(view.table().to_pylist()) == want, name
    # the lazy fallback and the collected profile agree
    pd.testing.assert_frame_equal(views["fallback"].to_pandas(),
                                  views["segmented"].to_pandas())
    assert (_multiset(views["fallback"].table().to_pylist())
            == _multiset(views["segmented"].table().to_pylist()))


def test_table_filters_local_and_lazy_alike(small, monkeypatch):
    local = wsp.profile(small, segment_by=["k"])
    monkeypatch.setattr(profiler, "_SEGMENT_COLLECT_LIMIT", 2)
    lazy = wsp.profile(small, segment_by=["k"])
    where = dict(column="x", component=["kll", "mean"],
                 segment=['{"k":"1"}', '{"k":"4"}'])
    got = _multiset(local.table(**where).to_pylist())
    assert got == _multiset(lazy.table(**where).to_pylist())
    assert {(seg, comp) for seg, _, _, comp, *_ in got} == {
        (s, c) for s in where["segment"] for c in where["component"]}


def test_reads_of_a_fresh_profile_run_no_job(small, launched_jobs):
    view = wsp.profile(small)
    assert view.cache() is view
    other = wsp.profile(small.filter("x > 2"))
    reads = {
        "to_pandas": view.to_pandas,
        "get_component": lambda: view.get_component("x", "counts", "n"),
        "histogram": lambda: view.histogram("x", 5),
        "diff": lambda: view.diff(other),
    }
    for name, read in reads.items():
        _, jobs = launched_jobs(read)
        assert jobs == set(), (name, jobs)
    assert view.get_component("x", "counts", "n") == 600


def test_setting_df_replaces_the_local_rows(small):
    view = wsp.profile(small)
    view.df = view.df.filter("column = 'x'")
    assert view.to_pandas()["column"].tolist() == ["x"]


def test_int64_past_2_53_survives_df_and_store(spark, small, tmp_path):
    view = wsp.profile(small)
    assert view.get_component("big", "ints", "max") == BIG - 1
    assert view.get_component("big", "ints", "min") == 2**53
    [row] = view.df.filter(
        "column = 'big' AND metric = 'ints' AND component = 'max'"
    ).collect()
    assert row["n"] == BIG - 1
    path = str(tmp_path / "p.bin")
    write_why1(view, path)
    assert read_why1(spark, path).get_component("big", "ints", "max") \
        == BIG - 1
    store = ProfileStore(str(tmp_path / "store"))
    store.write(view, "ds")
    [row] = spark.read.parquet(store.path).filter(
        "column = 'big' AND metric = 'ints' AND component = 'max'"
    ).collect()
    assert row["n"] == BIG - 1


def _parquet_rows(path):
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    return sorted(pq.ParquetFile(f).metadata.num_rows for f in files)


def test_store_writes_one_file_per_20k_rows(spark, small, tmp_path):
    view = wsp.profile(small, segment_by=["k"])
    ProfileStore(str(tmp_path / "a")).write(view, "ds")
    assert _parquet_rows(tmp_path / "a") == [view.table().num_rows]

    rows = [("{}", f"c{i}", "counts", "n", i, None, None, None)
            for i in range(25_000)]
    big = profiler.ProfileView(profiler._profile_table(rows), spark=spark)
    ProfileStore(str(tmp_path / "b")).write(big, "ds")
    assert _parquet_rows(tmp_path / "b") == [12_500, 12_500]
