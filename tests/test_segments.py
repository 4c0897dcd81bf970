"""Segmentation parity (reference: python/tests/api/logger/test_segments.py).

Per-segment profiles must equal the profile of the filtered whole table,
and ⊕ over segments must equal the unsegmented profile.
"""

import json

import pytest
from pyspark.sql import functions as F

import whylogs_spark as wsp
from tests.conftest import profile_wide


@pytest.fixture(scope="module")
def seg_view(lineitem):
    return wsp.profile(
        lineitem, segment_by=["l_returnflag"], columns=["l_quantity"]
    ).cache()


def test_segment_counts_match_filtered(seg_view, lineitem):
    rows = seg_view.df.filter(
        (F.col("metric") == "counts") & (F.col("component") == "n")
    ).collect()
    for r in rows:
        seg = json.loads(r["segment"])
        flag = seg["l_returnflag"]
        expected = lineitem.filter(F.col("l_returnflag") == flag).count()
        assert r["n"] == expected, (flag, r["n"], expected)


def test_segment_mean_matches_filtered(seg_view, lineitem):
    rows = seg_view.df.filter(
        (F.col("metric") == "distribution") & (F.col("component") == "mean")
    ).collect()
    assert len(rows) == 3
    for r in rows:
        flag = json.loads(r["segment"])["l_returnflag"]
        expected = (
            lineitem.filter(F.col("l_returnflag") == flag)
            .agg(F.avg("l_quantity"))
            .collect()[0][0]
        )
        assert r["d"] == pytest.approx(expected, rel=1e-9)


def test_segment_quantiles_present_per_segment(seg_view):
    rows = seg_view.df.filter(F.col("component") == "median").collect()
    segs = {json.loads(r["segment"])["l_returnflag"] for r in rows}
    assert segs == {"A", "N", "R"}


def test_null_segment_key(spark):
    df = spark.createDataFrame(
        [(1.0, "x"), (2.0, "x"), (3.0, None)], ["v", "k"]
    )
    view = wsp.profile(df, segment_by=["k"])
    rows = view.df.filter(
        (F.col("column") == "v")
        & (F.col("metric") == "counts")
        & (F.col("component") == "n")
    ).collect()
    by_seg = {json.loads(r["segment"])["k"]: r["n"] for r in rows}
    assert by_seg == {"x": 2, "None": 1}


def test_profile_partitions_single_pass_matches_separate(lineitem):
    import whylogs_spark as wsp

    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none")
    parts = {"by_flag": ["l_returnflag"],
             "by_both": ["l_returnflag", "l_linestatus"]}
    multi = wsp.profile_partitions(
        lineitem, parts, columns=["l_quantity"], config=cfg)
    for name, cols in parts.items():
        ref = wsp.profile(lineitem, segment_by=cols,
                          columns=["l_quantity"], config=cfg)
        a = {(r["segment"], r["column"], r["metric"], r["component"]):
             (r["n"], r["d"]) for r in multi[name].df.collect()}
        b = {(r["segment"], r["column"], r["metric"], r["component"]):
             (r["n"], r["d"]) for r in ref.df.collect()}
        assert a == b


def test_segment_filter(lineitem):
    import whylogs_spark as wsp

    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none")
    v = wsp.profile(lineitem, segment_by=["l_returnflag"],
                    columns=["l_quantity"], config=cfg,
                    segment_filter="l_quantity > 25")
    expect = lineitem.filter("l_quantity > 25").count()
    total = sum(
        r["n"] for r in v.df.filter(
            "metric='counts' and component='n'").collect())
    assert total == expect


def test_explicit_segment_key_values(spark, lineitem):
    """Constant segment keys appended sorted by name (reference:
    segment_processing.py:70-72)."""
    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none")
    v = wsp.profile(lineitem, segment_by=["l_returnflag"],
                    columns=["l_quantity"],
                    segment_key_values={"env": "prod", "batch": "b7"},
                    config=cfg)
    segs = [r["segment"] for r in
            v.df.select("segment").distinct().collect()]
    import json
    for s in segs:
        d = json.loads(s)
        assert d["env"] == "prod" and d["batch"] == "b7"
        assert "l_returnflag" in d
    assert len(segs) == 3  # key-values add no extra groups


def test_segment_key_rendering_parity_across_paths(spark):
    """Boolean/float segment values must render Spark-style ("true",
    "1.0E-7") in every path — narrow (_segment_json_col), sketch pass,
    wide, and grouping-sets — so counts/types rows and kll/fi rows of
    one profile never land under different segment keys."""
    from whylogs_spark.core.profiler import profile_partitions

    df = spark.createDataFrame(
        [(True, 1e-7, 1.0), (True, 1e-7, 2.0), (False, 0.5, 3.0)],
        ["flag", "rate", "x"])

    def keys(view):
        return {r["segment"]
                for r in view.df.select("segment").distinct().collect()}

    narrow = wsp.profile(df, segment_by=["flag", "rate"], columns=["x"])
    wide = profile_wide(df, segment_by=["flag", "rate"], columns=["x"])
    parts = profile_partitions(df, {"p": ["flag", "rate"]}, columns=["x"])

    kn, kw, kp = keys(narrow), keys(wide), keys(parts["p"])
    assert kn == kw == kp, (kn, kw, kp)
    assert len(kn) == 2
    # Spark string rendering, not python's (True/1e-07)
    assert any('"true"' in k for k in kn), kn
    assert all("True" not in k and "1e-07" not in k for k in kn), kn
    # within each profile, native rows and sketch rows share keys
    for v in (narrow, wide):
        native = {r["segment"] for r in v.df.filter(
            "metric='counts'").select("segment").distinct().collect()}
        sketch = {r["segment"] for r in v.df.filter(
            "component='kll'").select("segment").distinct().collect()}
        assert sketch <= native, (native, sketch)


def _rows_by_key(view):
    rows = view.df.collect()
    out = {(r["segment"], r["column"], r["metric"], r["component"]):
           (r["n"], r["d"], r["s"], _blob(r["component"], r["b"]))
           for r in rows}
    assert len(out) == len(rows)
    return out


def _blob(component, b):
    """Blob bytes; a KLL blob as its items and their weights: below k
    values per segment the sketch keeps every item, but the order of
    its level-0 items follows the shuffle's partial-merge order."""
    if b is None or component != "kll":
        return None if b is None else bytes(b)
    from whylogs_spark.core.sketches import KllSketch
    items, weights = KllSketch.deserialize(bytes(b))._weighted_items()
    return tuple(items.tolist()), tuple(weights.tolist())


def test_past_limit_fallback_matches_collected(spark, monkeypatch):
    """Past ``_SEGMENT_COLLECT_LIMIT`` segments the native frames are
    exploded JVM-side instead of collected, on the narrow and the wide
    path alike; the rows must not change."""
    from whylogs_spark.core import profiler

    df = spark.createDataFrame(
        [(i % 6, float(i % 17) * 0.5, f"s{i % 7}", i % 5)
         for i in range(600)],
        "k int, x double, s string, i int").coalesce(1)
    paths = [wsp.profile, profile_wide]
    collected = [run(df, segment_by=["k"]) for run in paths]
    monkeypatch.setattr(profiler, "_SEGMENT_COLLECT_LIMIT", 2)
    for run, view in zip(paths, collected):
        fallback = run(df, segment_by=["k"])
        plan = fallback.df._jdf.queryExecution().optimizedPlan().toString()
        assert "Generate" in plan and "Generate" not in (
            view.df._jdf.queryExecution().optimizedPlan().toString())
        want = _rows_by_key(view)
        assert len({seg for seg, *_ in want}) == 6
        assert _rows_by_key(fallback) == want


def test_partition_view_query_runs_no_extra_jobs(lineitem, launched_jobs):
    """A profile_partitions view holds collected sketch rows, like a
    profile() view: querying it does not re-run the sketch pass."""
    from whylogs_spark.core.profiler import profile_partitions

    cols = ["l_quantity", "l_shipmode"]
    part = profile_partitions(
        lineitem, {"by_flag": ["l_returnflag"]}, columns=cols)["by_flag"]
    ref = wsp.profile(lineitem, segment_by=["l_returnflag"], columns=cols)

    def query(view):
        return view.df.filter("column = 'l_quantity'").collect()

    _, part_jobs = launched_jobs(lambda: query(part))
    _, ref_jobs = launched_jobs(lambda: query(ref))
    assert len(part_jobs) <= len(ref_jobs), (part_jobs, ref_jobs)
