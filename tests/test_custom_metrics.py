"""Custom metric plug-in API (reference surface:
@custom_metric/register_metric at python/whylogs/core/metrics/metrics.py:60,156,
pluggable component aggregators at aggregators.py:33-47)."""

import pytest
from pyspark.sql import functions as F

import whylogs_spark as wsp
from whylogs_spark import CustomComponent, ValueType


CFG = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none",
                       cardinality_impl="approx")


@pytest.fixture
def range_metric():
    wsp.register_metric(
        "value_range",
        [
            CustomComponent("vmin", "d", lambda c: F.min(c), merge="min"),
            CustomComponent("vmax", "d", lambda c: F.max(c), merge="max"),
            CustomComponent("span", "d",
                            lambda c: F.max(c) - F.min(c), merge="none"),
            CustomComponent("nonzero", "n",
                            lambda c: F.sum((c != 0).cast("long")),
                            merge="sum"),
        ],
        value_types={ValueType.INTEGRAL, ValueType.FRACTIONAL},
    )
    yield
    wsp.unregister_metric("value_range")


def test_custom_metric_profile(spark, lineitem, range_metric):
    v = wsp.profile(lineitem, columns=["l_quantity"], config=CFG)
    exact = lineitem.selectExpr(
        "min(l_quantity) mn", "max(l_quantity) mx",
        "sum(cast(l_quantity != 0 as long)) nz").first()
    assert v.get_component("l_quantity", "value_range", "vmin") == exact.mn
    assert v.get_component("l_quantity", "value_range", "vmax") == exact.mx
    assert v.get_component("l_quantity", "value_range", "span") == (
        exact.mx - exact.mn)
    assert v.get_component("l_quantity", "value_range", "nonzero") == exact.nz
    # string column must NOT get the metric (value_types filter)
    vs = wsp.profile(lineitem, columns=["l_returnflag"], config=CFG)
    assert vs.get_component("l_returnflag", "value_range", "vmin") is None


def test_custom_metric_merge_monoid(spark, lineitem, range_metric):
    a = wsp.profile(lineitem.filter("l_orderkey % 2 = 0"),
                    columns=["l_quantity"], config=CFG)
    b = wsp.profile(lineitem.filter("l_orderkey % 2 = 1"),
                    columns=["l_quantity"], config=CFG)
    whole = wsp.profile(lineitem, columns=["l_quantity"], config=CFG)
    m = a.merge(b)
    for comp in ("vmin", "vmax", "nonzero"):
        assert m.get_component("l_quantity", "value_range", comp) == \
            whole.get_component("l_quantity", "value_range", comp), comp
    # "none"-merge components are dropped rather than kept stale
    assert m.get_component("l_quantity", "value_range", "span") is None


def test_custom_metric_column_filter(spark, lineitem):
    wsp.register_metric(
        "qty_only",
        [CustomComponent("total", "d", lambda c: F.sum(c), merge="sum")],
        columns=["l_quantity"],
    )
    try:
        v = wsp.profile(lineitem, columns=["l_quantity", "l_tax"],
                        config=CFG)
        assert v.get_component("l_quantity", "qty_only", "total") is not None
        assert v.get_component("l_tax", "qty_only", "total") is None
    finally:
        wsp.unregister_metric("qty_only")


def test_register_validation():
    with pytest.raises(ValueError):
        wsp.register_metric("counts", [
            CustomComponent("x", "d", lambda c: F.sum(c))])
    with pytest.raises(ValueError):
        wsp.register_metric("empty", [])
    with pytest.raises(ValueError):
        CustomComponent("x", "q", lambda c: F.sum(c))
    for merge in ("median", lambda values: values.sum()):
        with pytest.raises(ValueError):
            CustomComponent("x", "d", lambda c: F.sum(c), merge=merge)
