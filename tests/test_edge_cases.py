"""Edge-case hardening: empty frames, all-null columns, Decimal/Date
types (reference type folding: Decimal->float at
python/whylogs/core/preprocessing.py:167,191; NaN counts as null+nan at
preprocessing.py:126-150)."""

import datetime
import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import whylogs_spark as wsp
from tests.conftest import profile_wide

FAST = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none")


def test_empty_dataframe(spark):
    df = spark.createDataFrame(
        [], T.StructType([T.StructField("a", T.LongType()),
                          T.StructField("s", T.StringType())]))
    v = wsp.profile(df)
    assert v.get_component("a", "counts", "n") == 0
    assert v.get_component("a", "counts", "null") == 0
    assert v.get_component("a", "distribution", "mean") is None
    assert v.get_component("s", "types", "string") == 0


def test_all_null_column(spark):
    schema = T.StructType([T.StructField("x", T.DoubleType())])
    df = spark.createDataFrame([(None,), (None,), (None,)], schema)
    v = wsp.profile(df)
    assert v.get_component("x", "counts", "n") == 3
    assert v.get_component("x", "counts", "null") == 3
    assert v.get_component("x", "counts", "nan") == 0
    assert v.get_component("x", "distribution", "n") == 0
    assert v.get_component("x", "types", "fractional") == 0


def test_decimal_and_date(spark):
    schema = T.StructType([T.StructField("dec", T.DecimalType(10, 2)),
                           T.StructField("dt", T.DateType())])
    df = spark.createDataFrame(
        [(decimal.Decimal("10.25"), datetime.date(2024, 1, 1)),
         (decimal.Decimal("20.75"), datetime.date(2024, 6, 1))], schema)
    v = wsp.profile(df, config=FAST)
    assert v.get_component("dec", "types", "fractional") == 2
    assert v.get_component("dec", "distribution", "mean") == \
        pytest.approx(15.5)
    # dates profile as epoch-millis distributions (temporal superset)
    assert v.get_component("dt", "types", "temporal") == 2
    ms = v.get_component("dt", "distribution", "min")
    assert ms == datetime.datetime(
        2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp() * 1000


def test_nan_counted_as_nan_not_null(spark):
    schema = T.StructType([T.StructField("x", T.DoubleType())])
    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (None,), (float("inf"),)], schema)
    v = wsp.profile(df, config=FAST)
    assert v.get_component("x", "counts", "n") == 4
    assert v.get_component("x", "counts", "null") == 1
    assert v.get_component("x", "counts", "nan") == 1
    assert v.get_component("x", "counts", "inf") == 1
    # NaN excluded from metrics; Inf included (reference parity)
    assert v.get_component("x", "distribution", "n") == 2
    assert v.get_component("x", "distribution", "max") == float("inf")
    # types bucket counts non-null incl. NaN
    assert v.get_component("x", "types", "fractional") == 3


def test_single_row(spark):
    df = spark.createDataFrame([(42,)], ["v"])
    v = wsp.profile(df, config=FAST)
    assert v.get_component("v", "distribution", "stddev") == 0.0
    assert v.get_component("v", "distribution", "m2") == 0.0
    assert v.get_component("v", "ints", "min") == 42
    assert v.get_component("v", "ints", "max") == 42


def test_odd_column_names(spark):
    """Dots, spaces, unicode in column names survive profiling (the
    planner quotes dotted names; segment json keys are raw strings)."""
    df = spark.range(0, 100).selectExpr(
        "id AS `col.with.dots`", "id * 2 AS `col with spaces`",
        "cast(id AS string) AS `日本語`")
    v = wsp.profile(df, config=FAST)
    assert v.get_component("col.with.dots", "counts", "n") == 100
    assert v.get_component("col with spaces", "distribution", "max") == 198.0
    assert v.get_component("日本語", "types", "string") == 100


def test_odd_column_names_wide_path(spark):
    df = spark.range(0, 100).selectExpr(
        "id AS `col.with.dots`", "id * 2 AS `col with spaces`",
        "cast(id AS string) AS `日本語`")
    v = profile_wide(df, config=FAST)
    assert v.get_component("col.with.dots", "counts", "n") == 100
    assert v.get_component("日本語", "types", "string") == 100
