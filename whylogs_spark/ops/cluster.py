"""Deterministic Lloyd k-means over embedding columns, Catalyst-native.

``ops.similarity.ivf_index`` already clusters through MLlib for ANN
recall; this module is the *reproducible* clustering path for corpus
curation (topic bucketing, SemDeDup-style partitioning, cluster-level
quality audits) where runs must be exactly replayable across engines
and re-partitions:

* **Deterministic init** — the vectors of the ``k`` smallest ids (no
  RNG, no sampling): same corpus, same clusters, every run.
* **Quantized updates** — every centroid component is rounded to
  ``quantize`` (1e-6) decimals after each mean update. On quantized
  centroids the per-row distance computation is a fixed left-fold of
  identical doubles, so ANY engine that evaluates the same fold gets
  bitwise-identical distances — assignments become exactly
  hash-comparable (the DuckDB oracle in ``__spark_entry__.py`` replays
  the whole iteration chain). Quantization at 1e-6 moves centroids by
  less than float32 input noise; it is Lloyd's algorithm on a 1e-6
  grid.

Scale shape (100 TB of vectors):

* Assignment is a pure projection: centroids travel as PLAN literals
  (k x dim doubles), the argmin is ``array_min`` over k codegen'd
  fold expressions — no shuffle, no UDF, no MLlib vector conversion.
* Each update step is ONE hash aggregation keyed (cluster, dim-pos)
  that partial-aggregates map-side to k x dim rows; the driver loop
  holds k x dim doubles per iteration, never data.
* Iterations re-scan the input, so pass a cached/checkpointed frame
  for many iterations — or fit on a bounded sample (like
  ``ivf_index``'s ``max_train_rows``) and assign the full corpus once.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans_init", "kmeans_assign", "kmeans_iterate",
           "cluster_silhouette", "clustering_agreement",
           "kmeans", "kmeans_cluster_stats"]


def _as_double(vec_col: str) -> Column:
    return F.col(vec_col).cast("array<double>")


def _check_dim(df: DataFrame, vec_col: str, dim: int) -> None:
    """Raise on ragged/short/long/null-element vectors — silently
    truncating or zero-filling a mismatched corpus produces plausible
    numbers instead of an error (probe BOTH min and max size, and
    null elements, since sums skip nulls silently)."""
    v = _as_double(vec_col)
    probe = (df.filter(F.col(vec_col).isNotNull())
             .agg(F.min(F.size(v)).alias("lo"),
                  F.max(F.size(v)).alias("hi"),
                  F.max(F.exists(v, lambda x: x.isNull()).cast("int"))
                  .alias("has_null_elem"))
             .collect()[0])
    if probe.lo is None:
        return  # no non-null vectors; callers handle emptiness
    if probe.lo != dim or probe.hi != dim:
        raise ValueError(
            f"vector dimension mismatch in '{vec_col}': expected {dim}, "
            f"found sizes in [{probe.lo}, {probe.hi}]")
    if probe.has_null_elem:
        raise ValueError(
            f"'{vec_col}' contains null vector elements; filter or "
            "impute them before clustering")


def kmeans_init(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    quantize: int = 6,
) -> List[List[float]]:
    """Deterministic seeds: the (quantized) vectors of the ``k``
    smallest non-null ids — a TakeOrderedAndProject of k rows, no RNG.
    Distinct-point collapse is the caller's concern (exact duplicate
    seed vectors yield an empty cluster, which :func:`kmeans_iterate`
    carries forward unchanged)."""
    rows = (df.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.transform(_as_double(vec_col),
                                lambda x: F.round(x, quantize))
                    .alias("__v"))
            .orderBy("__id").limit(k).collect())
    if len(rows) < k:
        raise ValueError(
            f"k={k} but only {len(rows)} non-null vectors available")
    return [list(r["__v"]) for r in rows]


def _dist_sq(vec: Column, centroid: Sequence[float]) -> Column:
    """Squared L2 distance as a left fold in index order — the exact
    FP operation sequence the DuckDB oracle replays."""
    lit = F.array(*[F.lit(float(c)) for c in centroid])
    return F.aggregate(
        F.zip_with(vec, lit, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, d: acc + d)


def kmeans_assign(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
    dist_col: Optional[str] = None,
    check_dims: bool = True,
) -> DataFrame:
    """Nearest-centroid assignment as one shuffle-free projection.
    Ties break to the lowest cluster index (struct-min over
    ``(dist, j)``). Null vectors get a null cluster. With
    ``dist_col``, the squared distance to the winner is added
    unrounded (round before comparing across engines)."""
    if not centroids:
        raise ValueError("centroids must be non-empty")
    dim = len(centroids[0])
    if any(len(c) != dim for c in centroids):
        raise ValueError("ragged centroid list")
    if check_dims:
        _check_dim(df, vec_col, dim)
    v = _as_double(vec_col)
    best = F.array_min(F.array(*[
        F.struct(_dist_sq(v, c).alias("d"),
                 F.lit(j).alias("j"))
        for j, c in enumerate(centroids)
    ]))
    out = df.withColumn(
        cluster_col,
        F.when(F.col(vec_col).isNotNull(), best.getField("j")))
    if dist_col is not None:
        out = out.withColumn(
            dist_col,
            F.when(F.col(vec_col).isNotNull(), best.getField("d")))
    return out


def kmeans_iterate(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    quantize: int = 6,
) -> List[List[float]]:
    """One Lloyd update: assign -> per-cluster mean -> quantize.
    Empty clusters keep their previous centroid (they can re-acquire
    points later). One hash aggregation of k x dim rows."""
    dim = len(centroids[0])
    assigned = kmeans_assign(df, centroids, vec_col=vec_col,
                             cluster_col="__c", check_dims=False)
    means = (assigned.filter(F.col("__c").isNotNull())
             .select(F.col("__c"),
                     F.posexplode(_as_double(vec_col))
                     .alias("__i", "__x"))
             .groupBy("__c", "__i")
             .agg(F.round(F.avg("__x"), quantize).alias("__m"))
             .collect())
    new = [list(c) for c in centroids]
    got = {}
    for r in means:
        got.setdefault(r["__c"], {})[r["__i"]] = r["__m"]
    for j, comps in got.items():
        new[j] = [comps[i] for i in range(dim)]
    return new


def kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 2,
    quantize: int = 6,
    init_centroids: Optional[Sequence[Sequence[float]]] = None,
    dist_col: Optional[str] = None,
) -> Tuple[DataFrame, List[List[float]]]:
    """Deterministic k-means: ``n_iter`` Lloyd updates from the
    deterministic seeds, then one final assignment pass. Returns
    ``(assigned_df, centroids)``. For large ``n_iter`` cache ``df``
    first (each update is a full re-scan)."""
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    # init + n_iter Lloyd updates + the final assignment each re-scan
    # `df`; when the input is a DERIVED plan (join / python stage /
    # funnel upstream) cut its lineage once so the passes replay from
    # materialized blocks instead of re-executing the upstream
    # (r13; no-op for plain scans and caches).
    from whylogs_spark.core.util import materialize
    df = materialize(df, only_if_expensive=True)
    cents = ([list(c) for c in init_centroids] if init_centroids
             else kmeans_init(df, vec_col, id_col, k, quantize))
    _check_dim(df, vec_col, len(cents[0]))
    for _ in range(n_iter):
        cents = kmeans_iterate(df, cents, vec_col, quantize)
    assigned = kmeans_assign(df, cents, vec_col=vec_col, id_col=id_col,
                             dist_col=dist_col, check_dims=False)
    return assigned, cents


def kmeans_cluster_stats(
    assigned: DataFrame,
    cluster_col: str = "cluster",
    dist_col: str = "dist_sq",
) -> DataFrame:
    """Per-cluster rollup of an assignment that carried ``dist_col``:
    ``cluster, size, inertia`` (sum of squared distances, rounded) and
    ``mean_dist_sq``. One partial-agg groupBy of k rows."""
    return (assigned.filter(F.col(cluster_col).isNotNull())
            .groupBy(F.col(cluster_col).alias("cluster"))
            .agg(F.count("*").alias("size"),
                 F.round(F.sum(dist_col), 6).alias("inertia"),
                 F.round(F.avg(dist_col), 6).alias("mean_dist_sq"))
            .orderBy("cluster"))


def cluster_silhouette(
    assigned_or_df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster: for each
    row, ``a`` = L2 distance to its OWN centroid, ``b`` = distance to
    the nearest OTHER centroid, ``s = (b − a) / max(a, b)`` (0 when
    both are 0).  The full silhouette's per-pair mean distance is
    O(n²); the centroid form is the standard O(n·k) surrogate (what
    e.g. large-scale ML libraries compute) and is a pure shuffle-free
    projection here — one k-struct argmin per row, exactly
    :func:`kmeans_assign`'s tie rule (lowest index), then ONE
    partial-agged groupBy of k rows.

    Returns ``(cluster, n, mean_silhouette, min_silhouette,
    mean_a, mean_b)`` — ``mean_silhouette`` near 1 = compact and far
    from neighbors, near 0 = overlapping, negative = likely
    mis-clustered.  Needs >= 2 centroids.  Null vectors drop.
    """
    if len(centroids) < 2:
        raise ValueError("silhouette needs >= 2 centroids")
    dim = len(centroids[0])
    if any(len(c) != dim for c in centroids):
        raise ValueError("ragged centroid list")
    v = _as_double(vec_col)
    pairs = F.array(*[
        F.struct(_dist_sq(v, c).alias("d"), F.lit(j).alias("j"))
        for j, c in enumerate(centroids)
    ])
    best = F.array_min(pairs)
    second = F.array_min(F.filter(
        pairs, lambda p: p["j"] != best.getField("j")))
    a = F.sqrt(best.getField("d"))
    b = F.sqrt(second.getField("d"))
    s = F.when(F.greatest(a, b) > 0,
               (b - a) / F.greatest(a, b)).otherwise(F.lit(0.0))
    rows = (assigned_or_df.filter(F.col(vec_col).isNotNull())
            .select(best.getField("j").alias("cluster"),
                    a.alias("__a"), b.alias("__b"), s.alias("__s")))
    return (rows.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("__s"), 6).alias("mean_silhouette"),
                 F.round(F.min("__s"), 6).alias("min_silhouette"),
                 F.round(F.avg("__a"), 6).alias("mean_a"),
                 F.round(F.avg("__b"), 6).alias("mean_b"))
            .orderBy("cluster"))


def clustering_agreement(
    assigned: DataFrame,
    label_col: str,
    cluster_col: str = "cluster",
) -> DataFrame:
    """External clustering-quality indices against ground-truth
    labels: ``(n, n_clusters, n_labels, purity, nmi, ari)`` — purity
    (dominant-label mass), normalized mutual information (arithmetic-
    mean normalization), and the adjusted Rand index.  The evaluation
    step after any clustering/dedup-grouping run when a labeled
    subset exists.

    Everything reduces over the (cluster, label) CONTINGENCY table —
    one partial-agged groupBy bounded by n_clusters x n_labels — with
    margins and totals as tiny follow-up aggregations broadcast
    together; no joins against the data.  Rows with a null cluster or
    label are excluded.  ``nmi`` is null when both partitions are
    single-block (zero entropy); ``ari`` null when its denominator is
    0 (all pairs agree by construction).
    """
    c = F.col(cluster_col).cast("string")
    y = F.col(label_col).cast("string")
    ct = (assigned.filter(c.isNotNull() & y.isNotNull())
          .select(c.alias("__c"), y.alias("__y"))
          .groupBy("__c", "__y").agg(F.count(F.lit(1)).alias("__n")))
    # the cells/margins/purity/MI branches all reduce over the same
    # bounded contingency table — pay the data collapse once (r13)
    from whylogs_spark.core.util import materialize
    ct = materialize(ct, only_if_expensive=True)
    nd = F.col("__n").cast("double")
    cells = ct.agg(
        F.sum("__n").alias("n"),
        F.sum(nd * (nd - 1) / 2.0).alias("__sij"))
    ma = ct.groupBy("__c").agg(F.sum("__n").alias("__a"))
    mb = ct.groupBy("__y").agg(F.sum("__n").alias("__b"))
    am = ma.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(F.col("__a").cast("double")
              * (F.col("__a") - 1) / 2.0).alias("__sa"))
    bm = mb.agg(
        F.count(F.lit(1)).alias("n_labels"),
        F.sum(F.col("__b").cast("double")
              * (F.col("__b") - 1) / 2.0).alias("__sb"))
    # purity: dominant label per cluster, summed
    pur = (ct.groupBy("__c").agg(F.max("__n").alias("__mx"))
           .agg(F.sum("__mx").alias("__pur")))
    # mutual information + entropies over the joint table (margins
    # joined back; every frame here is contingency-bounded)
    joint = (ct.join(ma, "__c").join(mb, "__y")
             .crossJoin(F.broadcast(cells.select("n"))))
    nn = F.col("n").cast("double")
    mi = joint.agg(
        F.sum((nd / nn) * F.log(nn * nd / (F.col("__a").cast("double")
                                           * F.col("__b"))))
        .alias("__mi"))
    ha = (ma.crossJoin(F.broadcast(cells.select("n")))
          .agg((-F.sum((F.col("__a") / nn)
                       * F.log(F.col("__a") / nn))).alias("__ha")))
    hb = (mb.crossJoin(F.broadcast(cells.select("n")))
          .agg((-F.sum((F.col("__b") / nn)
                       * F.log(F.col("__b") / nn))).alias("__hb")))
    row = (cells.crossJoin(F.broadcast(am)).crossJoin(F.broadcast(bm))
           .crossJoin(F.broadcast(pur)).crossJoin(F.broadcast(mi))
           .crossJoin(F.broadcast(ha)).crossJoin(F.broadcast(hb)))
    npairs = nn * (nn - 1) / 2.0
    exp = F.col("__sa") * F.col("__sb") / npairs
    ari_den = (F.col("__sa") + F.col("__sb")) / 2.0 - exp
    return row.select(
        "n", "n_clusters", "n_labels",
        (F.col("__pur") / nn).alias("purity"),
        F.when(F.col("__ha") + F.col("__hb") > 0,
               2.0 * F.col("__mi")
               / (F.col("__ha") + F.col("__hb"))).alias("nmi"),
        F.when(F.abs(ari_den) > 0,
               (F.col("__sij") - exp) / ari_den).alias("ari"))
