"""Tests for ops/cluster.py — deterministic k-means verified against
an independent NumPy implementation of the same quantized Lloyd
iteration, plus edge/validation behavior."""

import math
import random

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
from whylogs_spark.ops.cluster import (
    kmeans,
    kmeans_assign,
    kmeans_cluster_stats,
    kmeans_init,
    kmeans_iterate,
)


def _vecs(n, dim, seed=0):
    rng = random.Random(seed)
    return [[round(rng.uniform(-1, 1), 4) for _ in range(dim)]
            for _ in range(n)]


def _np_kmeans(ids, vecs, k, n_iter, q=6):
    """Independent reference: same deterministic init + quantized
    Lloyd updates, argmin with lowest-index tie-break."""
    order = np.argsort(ids)
    cents = [np.round(np.array(vecs[i], dtype=np.float64), q)
             for i in order[:k]]
    X = np.array(vecs, dtype=np.float64)
    for _ in range(n_iter):
        d = np.stack([((X - c) ** 2).sum(axis=1) for c in cents])
        a = d.argmin(axis=0)  # argmin takes first (lowest index) on ties
        for j in range(k):
            m = X[a == j]
            if len(m):
                cents[j] = np.round(m.mean(axis=0), q)
    d = np.stack([((X - c) ** 2).sum(axis=1) for c in cents])
    return d.argmin(axis=0), cents


def test_kmeans_matches_numpy(spark):
    n, dim, k, it = 120, 8, 4, 3
    vecs = _vecs(n, dim, seed=1)
    ids = list(range(n))
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in zip(ids, vecs)])
    assigned, cents = kmeans(df, k=k, n_iter=it)
    got = {r.vec_id: r.cluster for r in assigned.collect()}
    want, np_cents = _np_kmeans(ids, vecs, k, it)
    assert got == {i: int(want[i]) for i in ids}
    for c, nc in zip(cents, np_cents):
        assert np.allclose(c, nc, atol=1e-9)


def test_kmeans_init_deterministic_and_short(spark):
    df = spark.createDataFrame(
        [Row(vec_id=3, embedding=[1.0, 0.0]),
         Row(vec_id=1, embedding=[0.0, 1.0]),
         Row(vec_id=2, embedding=None)])
    cents = kmeans_init(df, k=2)
    assert cents == [[0.0, 1.0], [1.0, 0.0]]  # ids 1, 3 (null skipped)
    with pytest.raises(ValueError, match="only 2"):
        kmeans_init(df, k=3)


def test_assign_tie_breaks_to_lowest_index(spark):
    df = spark.createDataFrame([Row(vec_id=1, embedding=[0.0, 0.0])])
    out = kmeans_assign(df, [[1.0, 0.0], [-1.0, 0.0]],
                        dist_col="dist_sq").collect()[0]
    assert out.cluster == 0
    assert out.dist_sq == pytest.approx(1.0)


def test_assign_null_vector_gets_null_cluster(spark):
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[0.5, 0.5]),
         Row(vec_id=2, embedding=None)])
    got = {r.vec_id: r.cluster
           for r in kmeans_assign(df, [[0.0, 0.0]]).collect()}
    assert got[1] == 0
    assert got[2] is None


def test_dim_mismatch_raises_both_directions(spark):
    short = spark.createDataFrame([Row(vec_id=1, embedding=[1.0])])
    long = spark.createDataFrame([Row(vec_id=1,
                                      embedding=[1.0, 2.0, 3.0])])
    for df in (short, long):
        with pytest.raises(ValueError, match="dimension mismatch"):
            kmeans_assign(df, [[0.0, 0.0]])


def test_null_element_raises(spark):
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, None])],
        "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="null vector elements"):
        kmeans_assign(df, [[0.0, 0.0]])


def test_empty_cluster_keeps_centroid(spark):
    # both points sit at the origin; the far seed acquires nothing
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[0.0, 0.0]),
         Row(vec_id=2, embedding=[0.1, 0.0])])
    far = [100.0, 100.0]
    new = kmeans_iterate(df, [[0.0, 0.0], far])
    assert new[1] == far
    assert new[0] == [0.05, 0.0]


def test_validation(spark):
    df = spark.createDataFrame([Row(vec_id=1, embedding=[1.0])])
    with pytest.raises(ValueError, match="non-empty"):
        kmeans_assign(df, [])
    with pytest.raises(ValueError, match="ragged"):
        kmeans_assign(df, [[1.0], [1.0, 2.0]])
    with pytest.raises(ValueError, match="n_iter"):
        kmeans(df, n_iter=-1, k=1)


def test_inertia_nonincreasing_and_stats(spark, embeddings):
    df = embeddings.select("vec_id", "embedding")
    inertias = []
    for it in (0, 1, 3):
        assigned, _ = kmeans(df, k=4, n_iter=it, dist_col="dist_sq")
        stats = kmeans_cluster_stats(assigned).collect()
        inertias.append(sum(r.inertia for r in stats))
        assert sum(r.size for r in stats) == df.count()
    # Lloyd monotonicity (quantization can wiggle the tail by ~1e-6)
    assert inertias[1] <= inertias[0] + 1e-3
    assert inertias[2] <= inertias[1] + 1e-3


def test_assignment_is_plan_only_projection(spark, embeddings):
    # centroids are plan literals: no shuffle in the assignment plan
    cents = kmeans_init(embeddings, k=2)
    plan = Plan.of(kmeans_assign(embeddings, cents, check_dims=False))
    assert not plan.has(named("Exchange"))
