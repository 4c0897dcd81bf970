"""Nested struct profiling: `a.b.c` leaf paths profile as first-class
typed columns — a strict superset of the reference, which maps nested
values to a count-only object column (reference:
python/whylogs/core/datatypes.py:82-110). Maps stay count-only OBJECT.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whylogs_spark.core.plan import Plan
import whylogs_spark as wsp
from whylogs_spark.core.datatypes import flatten_struct_columns

SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("meta", T.StructType([
        T.StructField("tag", T.StringType()),
        T.StructField("amounts", T.StructType([
            T.StructField("price", T.DoubleType()),
            T.StructField("qty", T.LongType()),
        ])),
    ])),
    T.StructField("props", T.MapType(T.StringType(), T.LongType())),
])

ROWS = [
    (1, ("x", (1.5, 10)), {"k": 1}),
    (2, ("y", (2.5, 20)), None),
    (3, (None, (None, 30)), {"j": 2}),
]


@pytest.fixture(scope="module")
def nested(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_struct_leaves_profile_as_typed_columns(nested):
    v = wsp.profile(nested)
    cols = {r["column"] for r in
            v.df.select("column").distinct().collect()}
    assert {"id", "meta.tag", "meta.amounts.price",
            "meta.amounts.qty", "props"} <= cols
    assert "meta" not in cols and "meta.amounts" not in cols

    assert v.get_component("meta.tag", "counts", "n") == 3
    assert v.get_component("meta.tag", "counts", "null") == 1
    assert v.get_component("meta.tag", "types", "string") == 2
    assert v.get_component("meta.amounts.price", "distribution",
                           "mean") == pytest.approx(2.0)
    assert v.get_component("meta.amounts.qty", "ints", "max") == 30
    assert v.get_component("meta.amounts.qty", "ints", "min") == 10
    # maps keep the reference's count-only OBJECT behavior
    assert v.get_component("props", "types", "object") == 2
    assert v.get_component("props", "distribution", "mean") is None


def test_column_selection_expands_to_leaves(nested):
    v = wsp.profile(nested, columns=["meta"])
    cols = {r["column"] for r in
            v.df.select("column").distinct().collect()}
    assert cols == {"meta.tag", "meta.amounts.price", "meta.amounts.qty"}
    # and selecting one leaf directly also works
    df2, cols2 = flatten_struct_columns(nested)
    v2 = wsp.profile(df2, columns=["meta.amounts.qty"])
    got = {r["column"] for r in v2.df.select("column").distinct().collect()}
    assert got == {"meta.amounts.qty"}


def test_segmented_nested(nested):
    v = wsp.profile(nested, segment_by=["id"],
                    columns=["meta"],
                    config=wsp.MetricConfig(quantile_impl="none",
                                            frequent_items_impl="none"))
    rows = v.df.filter("column='meta.amounts.qty' and metric='counts' "
                       "and component='n'").collect()
    assert len(rows) == 3
    assert all(r["n"] == 1 for r in rows)


def test_leaf_name_collision_raises(spark):
    df = spark.createDataFrame(
        [(1.0, (2.0,))],
        T.StructType([
            T.StructField("a.b", T.DoubleType()),
            T.StructField("a", T.StructType(
                [T.StructField("b", T.DoubleType())])),
        ]))
    with pytest.raises(ValueError, match="collides"):
        wsp.profile(df)


def test_scan_pruning_survives_flattening(nested, tmp_path):
    """Flattening is a pure projection — profiling ONE leaf of a struct
    stored in parquet must read only that leaf's column chunk."""
    p = str(tmp_path / "nested.parquet")
    nested.write.parquet(p)
    spark = nested.sparkSession
    df = spark.read.parquet(p)
    flat, _ = flatten_struct_columns(df, columns=["meta"])
    scan, = Plan.of(flat.select("`meta.amounts.qty`")).scans()
    assert any("qty" in c for c in scan.read_schema)
    assert not any("price" in c or "tag" in c for c in scan.read_schema)
