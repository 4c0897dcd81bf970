"""Core profiling spine: exact metrics vs pandas/duckdb oracles.

Mirrors the reference's metric unit tests
(python/tests/core/metrics/test_metrics.py) but with the driver's
synthetic tables as inputs.
"""

import json
import math

import numpy as np
import pandas as pd
import pytest

import whylogs_spark as wsp


@pytest.fixture(scope="module")
def li_view(lineitem):
    return wsp.profile(lineitem).cache()


@pytest.fixture(scope="module")
def li_pdf(lineitem):
    return lineitem.toPandas()


def comp(view, col, metric, component):
    return view.get_component(col, metric, component)


def test_counts(li_view, li_pdf):
    n = len(li_pdf)
    assert comp(li_view, "l_quantity", "counts", "n") == n
    assert comp(li_view, "l_orderkey", "counts", "null") == int(
        li_pdf["l_orderkey"].isna().sum())
    assert comp(li_view, "l_quantity", "counts", "nan") == 0


def test_types(li_view, li_pdf):
    n = len(li_pdf)
    assert comp(li_view, "l_orderkey", "types", "integral") == n
    assert comp(li_view, "l_orderkey", "types", "fractional") == 0
    assert comp(li_view, "l_returnflag", "types", "string") == n
    assert comp(li_view, "l_shipdate", "types", "temporal") == n


def test_distribution_exact(li_view, li_pdf):
    s = li_pdf["l_extendedprice"]
    assert comp(li_view, "l_extendedprice", "distribution", "mean") == \
        pytest.approx(s.mean(), rel=1e-9)
    assert comp(li_view, "l_extendedprice", "distribution", "stddev") == \
        pytest.approx(s.std(ddof=1), rel=1e-9)
    assert comp(li_view, "l_extendedprice", "distribution", "min") == \
        pytest.approx(s.min())
    assert comp(li_view, "l_extendedprice", "distribution", "max") == \
        pytest.approx(s.max())


def test_ints(li_view, li_pdf):
    assert comp(li_view, "l_linenumber", "ints", "min") == int(
        li_pdf["l_linenumber"].min())
    assert comp(li_view, "l_linenumber", "ints", "max") == int(
        li_pdf["l_linenumber"].max())


def test_quantiles_within_rank_error(li_view, li_pdf):
    s = li_pdf["l_quantity"].dropna().to_numpy()
    for qname, q in [("q_01", 0.01), ("median", 0.5), ("q_99", 0.99)]:
        est = comp(li_view, "l_quantity", "distribution", qname)
        rank = (s <= est).mean()
        assert abs(rank - q) < 0.02, (qname, est, rank)


def test_cardinality(li_view, li_pdf):
    true_card = li_pdf["l_returnflag"].nunique()
    est = comp(li_view, "l_returnflag", "cardinality", "est")
    assert est == pytest.approx(true_card, rel=0.05)
    true_ok = li_pdf["l_orderkey"].nunique()
    est_ok = comp(li_view, "l_orderkey", "cardinality", "est")
    assert est_ok == pytest.approx(true_ok, rel=0.05)


def test_cardinality_bounds_mode_aware(spark):
    """Bounds come from the sketch's own mode, not one fixed formula:
    a sparse (coupon) sketch brackets the exact count TIGHTLY (the old
    1.04/sqrt(2^lgK) slack was ~650x too loose there); a dense sketch
    gets the estimator RSE and still brackets."""
    import whylogs_spark as wsp
    from pyspark.sql import functions as F

    df = spark.range(100_000).select(
        (F.col("id") % 10).alias("small"), F.col("id").alias("big"))
    long = wsp.profile(df).df.filter("metric='cardinality'")
    d = {(r["column"], r["component"]): r["d"] for r in long.collect()}
    assert d[("small", "lower")] <= 10 <= d[("small", "upper")]
    assert d[("small", "upper")] - d[("small", "lower")] < 0.01
    assert d[("big", "lower")] <= 100_000 <= d[("big", "upper")]
    width = (d[("big", "upper")] - d[("big", "lower")]) / 100_000
    assert 0.01 < width < 0.10  # ~2 * 2sigma composite-estimator RSE


def test_frequent_items(li_view, li_pdf):
    items = json.loads(comp(li_view, "l_returnflag", "frequent_items", "items"))
    got = {it["value"]: it for it in items}
    true = li_pdf["l_returnflag"].value_counts()
    # low-cardinality column -> MG is exact
    for val, cnt in true.items():
        assert val in got
        assert got[val]["lower"] <= cnt <= got[val]["upper"]
    top_true = true.index[0]
    assert items[0]["value"] == top_true


def test_summary_shape(li_view, lineitem):
    wide = li_view.to_pandas()
    assert set(wide["column"]) == set(lineitem.columns)
    assert "counts/n" in wide.columns
    assert "distribution/mean" in wide.columns


def test_timestamp_profiled(li_view, li_pdf):
    lo = comp(li_view, "l_shipdate", "distribution", "min")
    hi = comp(li_view, "l_shipdate", "distribution", "max")
    assert lo is not None and hi is not None and lo <= hi
    ts = pd.to_datetime(li_pdf["l_shipdate"])
    assert int(lo) == int(ts.min().value // 1_000_000)
    assert int(hi) == int(ts.max().value // 1_000_000)


def test_histogram_from_kll(lineitem):
    import whylogs_spark as wsp

    view = wsp.profile(lineitem, columns=["l_quantity"])
    bins = view.histogram("l_quantity", 20)
    assert len(bins) == 20
    total = lineitem.count()
    est = sum(c for _, _, c in bins)
    assert abs(est - total) / total < 0.05
    assert bins[0][0] <= bins[-1][1]


def test_profile_leaves_no_cached_rdd(spark, lineitem):
    """The sketch half is collected into local rows, so a profile and
    its materialization leave the session's persisted RDDs as they
    were — unsegmented and segmented alike."""
    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    frame = lineitem.select("l_returnflag", "l_quantity")
    # kll + mg unsegmented; kll of l_quantity in each of 3 segments
    for view, n_sketches in (
            (wsp.profile(frame), 2),
            (wsp.profile(frame, segment_by=["l_returnflag"]), 3)):
        view.to_pandas()
        sketches = view.df.filter("component IN ('kll', 'mg')").collect()
        assert len(sketches) == n_sketches
    assert len(jsc.getPersistentRDDs()) == before


def test_profile_diff(lineitem):
    import whylogs_spark as wsp

    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none")
    a = wsp.profile(lineitem, columns=["l_quantity"], config=cfg)
    b = wsp.profile(lineitem.filter("l_quantity > 10"),
                    columns=["l_quantity"], config=cfg)
    d = a.diff(b)
    row = d[(d["metric"] == "counts") & (d["component"] == "n")].iloc[0]
    assert row["delta"] < 0  # filtered set is smaller


def test_log_accepts_pandas_row_multiple(spark, lineitem):
    import pandas as pd

    import whylogs_spark as wsp

    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none",
                           cardinality_impl="approx")
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", None]})
    v = wsp.log(pandas=pdf, config=cfg)
    assert v.get_component("a", "counts", "n") == 3
    assert v.get_component("b", "counts", "null") == 1

    vr = wsp.log(row={"a": 7, "b": "z"}, config=cfg)
    assert vr.get_component("a", "counts", "n") == 1

    vm = wsp.log(multiple={"one": pdf, "two": pdf}, config=cfg)
    assert set(vm) == {"one", "two"}
    assert vm["one"].get_component("a", "counts", "n") == 3


def test_single_value_stddev_m2_zero(spark):
    """Reference semantics: one observed value -> variance/m2 are 0, not
    NULL (python/whylogs/core/metrics/metrics.py:357); the merge path
    already emits 0.0, so the single-pass path must match."""
    import whylogs_spark as wsp

    df = spark.createDataFrame([(1.5,), (float("nan"),), (None,)],
                               "x double")
    v = wsp.profile(df, columns=["x"])
    assert v.get_component("x", "distribution", "n") == 1
    assert v.get_component("x", "distribution", "stddev") == 0.0
    assert v.get_component("x", "distribution", "m2") == 0.0
    assert v.get_component("x", "counts", "nan") == 1


def test_write_read_api(spark, lineitem, tmp_path):
    """why.write / why.read parity (reference api/writer, result_set.py:310)."""
    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none",
                           cardinality_impl="approx")
    v = wsp.profile(lineitem, columns=["l_quantity"], config=cfg)
    n = v.get_component("l_quantity", "counts", "n")
    binp = str(tmp_path / "p.bin")
    wsp.write(v, binp)
    assert wsp.read(binp, spark=spark).get_component(
        "l_quantity", "counts", "n") == n
    pqp = str(tmp_path / "pq")
    wsp.write(v, pqp)
    assert wsp.read(pqp, spark=spark).get_component(
        "l_quantity", "counts", "n") == n


def test_model_perf_entry_points(spark, lineitem):
    cm = wsp.log_classification_metrics(
        lineitem.selectExpr("l_returnflag t", "l_linestatus p",
                            "l_quantity s"), "t", "p", "s")
    assert cm.count() == 6
    rm = wsp.log_regression_metrics(lineitem, "l_quantity", "l_linenumber")
    row = rm.first()
    assert row["n"] == lineitem.count()
    assert row["rmse"] >= row["mae"] >= 0
