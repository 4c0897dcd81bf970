"""Wide-frame profiling path (core/wide.py): the unpivot-per-type-class
plan must emit the same long-form profile rows as the narrow per-column
path (reference batches wide frames instead —
python/whylogs/api/pyspark/experimental/profiler.py:80-112; we switch
plan shape)."""

import pytest
from pyspark.sql import functions as F

import whylogs_spark as wsp
from tests.conftest import profile_wide

CFG = wsp.MetricConfig(quantile_impl="native", frequent_items_impl="none")

@pytest.fixture(scope="module")
def frame(spark):
    base = spark.range(0, 4000, 1, 8)
    cols = []
    for i in range(12):
        cols.append((F.col("id") * (i + 1) % 1009).alias(f"i{i}"))
    for i in range(12):
        c = (F.col("id") * 1.5 + i).cast("double")
        c = F.when(F.col("id") % 97 == 0, None).otherwise(c)
        if i == 0:  # one column with NaN and Inf
            c = (F.when(F.col("id") % 101 == 0, float("nan"))
                 .when(F.col("id") % 103 == 0, float("inf"))
                 .otherwise(c))
        cols.append(c.alias(f"f{i}"))
    for i in range(6):
        cols.append(
            F.concat(F.lit(f"s{i}_"), (F.col("id") % (50 + i))
                     .cast("string")).alias(f"s{i}"))
    for i in range(3):
        cols.append((F.col("id") % (2 + i) == 0).alias(f"b{i}"))
    cols.append(F.timestamp_seconds(F.col("id") * 3600).alias("t0"))
    cols.append(F.array(F.col("id").cast("double")).alias("arr0"))
    return base.select(*cols)


def _rows(view):
    rows = view.df.collect()
    out = {(r["segment"], r["column"], r["metric"], r["component"]):
           (r["n"], r["d"], r["s"], None if r["b"] is None else bytes(r["b"]))
           for r in rows}
    assert len(out) == len(rows)
    return out


def _compare(a, b):
    """Every slot equal, HLL bytes and native quantiles included (the
    same partial GK summaries merge either way); NaN equals NaN."""
    assert set(a) == set(b), (
        f"row keys differ: only-narrow={set(a) - set(b)} "
        f"only-wide={set(b) - set(a)}")
    for k, v1 in a.items():
        v2 = b[k]
        assert all(x == y or x != x and y != y
                   for x, y in zip(v1, v2)), (k, v1, v2)


def test_wide_matches_narrow(spark, frame):
    a = _rows(wsp.profile(frame, config=CFG))
    b = _rows(profile_wide(frame, config=CFG))
    _compare(a, b)


@pytest.mark.parametrize("segment_by", [["grp"], ["grp", "flag"]],
                         ids=["str", "str_bool"])
def test_wide_matches_narrow_segmented(spark, frame, segment_by):
    seg = (frame.withColumn("grp", (F.col("i0") % 3).cast("string"))
           .withColumn("flag", F.col("i1") % 2 == 0))
    a = _rows(wsp.profile(seg, segment_by=segment_by, config=CFG))
    b = _rows(profile_wide(seg, segment_by=segment_by, config=CFG))
    _compare(a, b)


def test_wide_sketch_pass_kll_fi(spark, frame):
    v = profile_wide(frame, columns=["i0", "s0", "f1"])
    # KLL quantiles present for numerics, FI items for int/string
    assert v.get_component("i0", "distribution", "median") is not None
    assert v.get_component("f1", "distribution", "q_95") is not None
    assert v.get_component("i0", "frequent_items", "items") is not None
    assert v.get_component("s0", "frequent_items", "items") is not None
    # exact parity spot-checks against the data
    exact = frame.selectExpr(
        "count(i0) n", "min(i0) mn", "max(i0) mx").first()
    assert v.get_component("i0", "counts", "n") == 4000
    assert v.get_component("i0", "ints", "min") == exact.mn
    assert v.get_component("i0", "ints", "max") == exact.mx


def test_wide_tensor_column_counts_only(spark, frame):
    v = profile_wide(frame, columns=["arr0", "i0"])
    assert v.get_component("arr0", "counts", "n") == 4000
    assert v.get_component("arr0", "types", "tensor") == 4000
    assert v.get_component("arr0", "cardinality", "est") is None
