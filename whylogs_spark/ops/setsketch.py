"""KMV (bottom-k / K-Minimum-Values) set sketches over segments:
mergeable distinct-count estimates and pairwise Jaccard / overlap
estimates between segments from k-sized summaries — the set-operation
arm of the sketch family (the profiler's HLL answers "how many
distinct"; KMV additionally answers "how much do two segments'
key sets OVERLAP" from the same one pass).

Beyond-reference extension family (the reference ships HLL via
whylogs-sketching, `/root/reference/python/whylogs/core/metrics/
metrics.py` CardinalityMetric, but no cross-segment set algebra).

The sketch is deterministic: the hash is the md5 hex prefix mapped to
a uniform in [0, 1) — the same engine-portable idiom as
``ops/sampling.py`` — so the DuckDB gate oracle reproduces every
sketch BIT-FOR-BIT (rank over the same md5 order), and estimates are
exactly comparable across engines and runs.

Estimators (Beyer et al., "On Synopses for Distinct-Value Estimation
Under Multiset Operations", SIGMOD 2007):
  * distinct:  D ≈ (k - 1) / u_(k)   (u_(k) = k-th smallest hash)
  * Jaccard:   J ≈ |both among k smallest of the union| / k
  * intersection ≈ J * D_union

Scale shape: ONE groupBy(segment, key-hash) distinct collapse, a
PER-SEGMENT (partitioned) rank to keep the k smallest — shuffle
bounded by distinct keys, output bounded by segments x k; the
pairwise stage runs entirely on that bounded sketch table (segment
pairs x 2k rows).  Segment cardinality must be modest (the usual
segment contract); k trades accuracy for memory at ~1/sqrt(k) error.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["kmv_sketch", "kmv_distinct", "kmv_pairwise_overlap"]

_HEX_SPACE = float(1 << 64)


def _u(key_cols: Sequence[str]):
    """Deterministic uniform in [0, 1): first 16 md5 hex chars of the
    '|'-joined key, over 2^64."""
    parts = [F.col(c).cast("string") for c in key_cols]
    return (F.conv(F.substring(
        F.md5(F.concat_ws("|", *parts)), 1, 16), 16, 10)
        .cast("double") / F.lit(_HEX_SPACE))


def kmv_sketch(
    df: DataFrame,
    segment_col: str,
    key_cols: Sequence[str],
    k: int = 1024,
) -> DataFrame:
    """The bottom-k sketch table: ``(segment, __u, __rk)`` — per
    segment the k smallest distinct key hashes with their rank.
    Rows with a null segment or any null key component drop (a null
    key would collapse distinct keys onto one hash).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    ok = F.col(segment_col).isNotNull()
    for c in keys:
        ok = ok & F.col(c).isNotNull()
    hashed = (df.filter(ok)
              .select(F.col(segment_col).cast("string")
                      .alias("__seg"), _u(keys).alias("__u"))
              .groupBy("__seg", "__u")
              .agg(F.count(F.lit(1)).alias("__dup")))
    w = Window.partitionBy("__seg").orderBy(F.col("__u").asc())
    return (hashed.select(
        "__seg", "__u", F.row_number().over(w).alias("__rk"))
        .filter(F.col("__rk") <= k))


def kmv_distinct(
    df: DataFrame,
    segment_col: str,
    key_cols: Sequence[str],
    k: int = 1024,
) -> DataFrame:
    """Per-segment distinct-count estimate; one row per segment:
    ``(segment, sketch_size, distinct_est)``.  When a segment has
    fewer than k distinct keys the sketch holds all of them and the
    estimate is EXACT (= sketch_size)."""
    sk = kmv_sketch(df, segment_col, key_cols, k)
    rep = sk.groupBy("__seg").agg(
        F.count(F.lit(1)).cast("long").alias("sketch_size"),
        F.max(F.col("__u")).alias("__uk"))
    est = F.when(
        F.col("sketch_size") < k,
        F.col("sketch_size").cast("double")
    ).otherwise((F.lit(float(k)) - 1.0) / F.col("__uk"))
    return rep.select(
        F.col("__seg").alias("segment"), "sketch_size",
        est.alias("distinct_est"))


def kmv_pairwise_overlap(
    df: DataFrame,
    segment_col: str,
    key_cols: Sequence[str],
    k: int = 1024,
) -> DataFrame:
    """Pairwise segment set overlap from one shared sketch pass; one
    row per unordered segment pair: ``(segment_a, segment_b,
    k_union, matches, jaccard_est, union_est, intersection_est)``.

    For each pair the k smallest hashes of the sketch UNION form a
    KMV sketch of the set union; ``matches`` counts how many of them
    appear in BOTH segments' sketches.  ``jaccard_est = matches /
    k_union``; ``union_est`` is exact when the merged sketch is
    smaller than k.  All arithmetic runs on the bounded sketch table
    (pairs x 2k rows max) — the data is touched exactly once by
    :func:`kmv_sketch`.
    """
    sk = kmv_sketch(df, segment_col, key_cols, k).select(
        "__seg", "__u")
    # the sketch table is consumed by three branches (segment list x2,
    # candidates x2) — cut it so the data pass runs once; lazy, so
    # building the returned frame runs no job
    from whylogs_spark.core.util import materialize
    sk = materialize(sk, lazy=True)
    segs = sk.select("__seg").distinct()
    pairs = (segs.alias("pa")
             .crossJoin(F.broadcast(segs.alias("pb")))
             .filter(F.col("pa.__seg") < F.col("pb.__seg"))
             .select(F.col("pa.__seg").alias("__sa"),
                     F.col("pb.__seg").alias("__sb")))
    # per-pair union of the two sketches via two broadcast equi-joins
    # (no nested-loop OR join); both sides are bounded (pairs x k)
    cand_a = (pairs.join(F.broadcast(sk),
                         F.col("__seg") == F.col("__sa"))
              .select("__sa", "__sb", "__u",
                      F.lit(1).alias("__ina"),
                      F.lit(0).alias("__inb")))
    cand_b = (pairs.join(F.broadcast(sk),
                         F.col("__seg") == F.col("__sb"))
              .select("__sa", "__sb", "__u",
                      F.lit(0).alias("__ina"),
                      F.lit(1).alias("__inb")))
    merged = cand_a.unionByName(cand_b).groupBy(
        "__sa", "__sb", "__u").agg(
        F.max("__ina").alias("__a"), F.max("__inb").alias("__b"))
    w = Window.partitionBy("__sa", "__sb").orderBy(F.col("__u").asc())
    topk = (merged.select(
        "__sa", "__sb", "__u", "__a", "__b",
        F.row_number().over(w).alias("__rk"))
        .filter(F.col("__rk") <= k))
    rep = topk.groupBy("__sa", "__sb").agg(
        F.count(F.lit(1)).cast("long").alias("k_union"),
        F.sum((F.col("__a") * F.col("__b")).cast("long"))
        .alias("matches"),
        F.max("__u").alias("__uk"))
    jac = F.col("matches").cast("double") / F.col("k_union")
    union_est = F.when(
        F.col("k_union") < k, F.col("k_union").cast("double")
    ).otherwise((F.lit(float(k)) - 1.0) / F.col("__uk"))
    return rep.select(
        F.col("__sa").alias("segment_a"),
        F.col("__sb").alias("segment_b"),
        "k_union", "matches",
        jac.alias("jaccard_est"),
        union_est.alias("union_est"),
        (jac * union_est).alias("intersection_est"))
