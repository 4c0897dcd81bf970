"""Z-order layout keys (ops/layout.py): bit-interleave correctness vs a
Python Morton encoder, locality benefit vs single-column sort, null and
constant-column handling, zero-shuffle key projection."""

import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
from whylogs_spark.ops import layout


def _morton(vals, bits):
    z = 0
    for i, v in enumerate(vals):
        for j in range(bits):
            z |= ((v >> j) & 1) << (j * len(vals) + i)
    return z


def test_zorder_key_matches_python_morton(spark):
    rows = [(i, float(i % 16), float((i * 7) % 16)) for i in range(64)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    out = {r.id: r.zkey for r in
           layout.with_zorder_key(df, ["a", "b"], bits=4).collect()}
    # min=0, max=15 for both: normalization maps v -> floor(v/15*15)=v
    for i, a, b in rows:
        assert out[i] == _morton([int(a), int(b)], 4), i


def test_zorder_improves_multidim_locality(spark):
    # 32x32 grid; compare worst-file range spans under zorder vs
    # sorting by x alone, splitting into 16 equal files
    rows = [(x * 32 + y, float(x), float(y))
            for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    keyed = layout.with_zorder_key(df, ["x", "y"], bits=5).collect()
    by_z = sorted(keyed, key=lambda r: r.zkey)
    by_x = sorted(keyed, key=lambda r: (r.x, r.y))
    n_files = 16

    def max_span(order, attr):
        spans = []
        sz = len(order) // n_files
        for f in range(n_files):
            chunk = order[f * sz:(f + 1) * sz]
            vals = [getattr(r, attr) for r in chunk]
            spans.append(max(vals) - min(vals))
        return max(spans)

    # x-sort: y spans the whole range in every file; zorder bounds both
    assert max_span(by_x, "y") == 31.0
    assert max_span(by_z, "x") <= 16.0
    assert max_span(by_z, "y") <= 16.0


def test_zorder_nulls_and_constant_columns(spark):
    rows = [(0, None, 5.0), (1, 1.0, 5.0), (2, 9.0, 5.0)]
    df = spark.createDataFrame(rows, "id long, a double, c double")
    out = {r.id: r.zkey for r in
           layout.with_zorder_key(df, ["a", "c"], bits=4).collect()}
    # null normalizes to the minimum -> same key as the min row
    assert out[0] == out[1]
    # constant column contributes nothing: keys still ordered by a
    assert out[0] < out[2]


def test_zorder_key_projection_is_shuffle_free(spark):
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 10).cast("double").alias("a"),
        (F.col("id") % 7).cast("double").alias("b"))
    out = layout.with_zorder_key(df, ["a", "b"])
    plan = Plan.of(out)
    # only the 1-row bounds agg exchanges; no shuffle of the data rows
    assert plan.has(("BroadcastNestedLoopJoin", "BroadcastHashJoin"))
    assert not plan.has(named("Window"))


def test_cluster_by_zorder_partitions_are_key_ranges(spark):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 50).cast("double").alias("a"),
        ((F.col("id") * 13) % 50).cast("double").alias("b"))
    clustered = layout.cluster_by_zorder(df, ["a", "b"], n_partitions=8)
    parts = clustered.select("zkey").rdd.glom().collect()
    ranges = [(p[0].zkey, p[-1].zkey) for p in parts if p]
    ranges.sort()
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint, ordered ranges


def test_zorder_rejects_too_many_bits(spark):
    df = spark.range(3).select(
        *[F.col("id").cast("double").alias(f"c{i}") for i in range(8)])
    with pytest.raises(ValueError):
        layout.with_zorder_key(df, [f"c{i}" for i in range(8)], bits=8)


# ------------------------------------------------------------- hilbert
def _xy2d(bits, x, y):
    """Reference Hilbert index (classic quadrant walk)."""
    d = 0
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
    return d


def test_hilbert_key_matches_python_reference(spark):
    rows = [(x * 8 + y, float(x), float(y))
            for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {r.id: r.hkey for r in
           layout.with_hilbert_key(df, ["x", "y"], bits=3).collect()}
    for i, x, y in rows:
        assert out[i] == _xy2d(3, int(x), int(y)), (x, y)


def test_hilbert_curve_is_gapless(spark):
    # the defining property (and what Z-order lacks): consecutive keys
    # are always grid NEIGHBORS — any construction bug breaks this
    rows = [(x * 16 + y, float(x), float(y))
            for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = layout.with_hilbert_key(df, ["x", "y"], bits=4).collect()
    assert sorted(r.hkey for r in got) == list(range(256))
    by_d = sorted(got, key=lambda r: r.hkey)
    for a, b in zip(by_d, by_d[1:]):
        assert abs(a.x - b.x) + abs(a.y - b.y) == 1.0


def test_hilbert_locality_beats_zorder_worst_file(spark):
    # 32x32 grid, 16 equal files: the Hilbert walk has no diagonal
    # seams, so its worst per-file span is no worse than Z-order's
    rows = [(x * 32 + y, float(x), float(y))
            for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    hk = sorted(layout.with_hilbert_key(df, ["x", "y"], bits=5)
                .collect(), key=lambda r: r.hkey)
    zk = sorted(layout.with_zorder_key(df, ["x", "y"], bits=5)
                .collect(), key=lambda r: r.zkey)
    n_files = 16

    def worst(order, attr):
        sz = len(order) // n_files
        return max(
            max(getattr(r, attr) for r in order[f * sz:(f + 1) * sz])
            - min(getattr(r, attr) for r in order[f * sz:(f + 1) * sz])
            for f in range(n_files))

    for attr in ("x", "y"):
        assert worst(hk, attr) <= worst(zk, attr)
        assert worst(hk, attr) <= 16.0


def test_hilbert_validates_arity_and_bits(spark):
    df = spark.createDataFrame([(1.0, 2.0, 3.0)],
                               "a double, b double, c double")
    with pytest.raises(ValueError, match="exactly 2"):
        layout.with_hilbert_key(df, ["a", "b", "c"])
    with pytest.raises(ValueError, match="exceeds"):
        layout.with_hilbert_key(df, ["a", "b"], bits=32)


def test_hilbert_key_projection_is_shuffle_free(spark):
    df = spark.createDataFrame(
        [(float(i), float(i * 3 % 7)) for i in range(50)],
        "a double, b double")
    kinds = Plan.of(layout.with_hilbert_key(df, ["a", "b"])).exchanges()
    # one broadcast of the 1-row bounds agg; no hash/range exchange of
    # the data itself
    assert not kinds["hash"] and not kinds["range"], kinds


# -------------------------------------------------------- property tests
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(st.integers(1, 10))
def test_hilbert_reference_is_bijective_neighbor_walk(bits):
    # pure-python property of the reference walk the Spark expression
    # mirrors: bijection over the grid + unit steps, any bits
    n = 1 << bits
    if n > 64:
        n = 64
        bits = 6
    seen = {}
    for x in range(n):
        for y in range(n):
            seen[_xy2d(bits, x, y)] = (x, y)
    assert len(seen) == n * n
    assert set(seen) == set(range(n * n))
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = seen[d], seen[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_layout_report_shows_clustering_wins(spark, tmp_path):
    rows = [(x * 32 + y, float(x), float(y))
            for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    clustered = str(tmp_path / "clustered")
    unsorted = str(tmp_path / "unsorted")
    layout.cluster_by_hilbert(df, ["x", "y"], n_partitions=8) \
        .write.parquet(clustered)
    df.repartition(8, "id").write.parquet(unsorted)

    rep_c = layout.layout_report(spark, clustered, ["x", "y"]).collect()
    rep_u = layout.layout_report(spark, unsorted, ["x", "y"]).collect()
    assert sum(r.n_rows for r in rep_c) == 1024

    def avg_span(rep, c):
        vals = [getattr(r, f"span_frac_{c}") for r in rep]
        return sum(vals) / len(vals)

    # hash-scattered files span ~the full range on both columns; the
    # hilbert layout bounds both
    for c in ("x", "y"):
        assert avg_span(rep_u, c) > 0.9
        assert avg_span(rep_c, c) < 0.55


def test_skew_report_ranks_hot_keys(spark):
    rows = [(k, i) for k, reps in
            [("hot", 500), ("warm", 100)] + [(f"k{j}", 10)
                                             for j in range(40)]
            for i in range(reps)]
    df = spark.createDataFrame(rows, "key string, v long") \
        .repartition(8)
    rep = layout.skew_report(df, ["key"], top_k=3).collect()
    assert [r.key for r in rep] == ["hot", "warm", "k0"]
    hot = rep[0]
    n_total = 500 + 100 + 400
    assert hot.n == 500 and hot.total_rows == n_total
    assert hot.n_keys == 42
    assert hot.share == pytest.approx(500 / n_total)
    assert hot.skew == pytest.approx(500 * 42 / n_total)
    # plan shape: top-k never globally sorts
    assert Plan.of(layout.skew_report(df, ["key"])).has(
        "TakeOrderedAndProject")


def test_skew_report_null_and_multi_keys(spark):
    rows = [(None, 1, i) for i in range(30)] + \
        [("a", 1, i) for i in range(5)] + [("a", 2, i) for i in range(2)]
    df = spark.createDataFrame(rows, "k1 string, k2 long, v long")
    rep = layout.skew_report(df, ["k1", "k2"], top_k=2).collect()
    assert rep[0].k1 is None and rep[0].n == 30
    assert (rep[1].k1, rep[1].k2, rep[1].n) == ("a", 1, 5)
