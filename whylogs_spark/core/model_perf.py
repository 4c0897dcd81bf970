"""Model-performance metrics: confusion matrix, regression, accuracy.

Reference equivalents:
  ConfusionMatrix  python/whylogs/core/model_performance_metrics/confusion_matrix.py:43
      — per-(target, pred) cell with a score distribution; the reference
      caps labels at 256 and re-encodes on merge; here a cell is just a
      grouped row, so merge is a second groupBy — no label cap needed.
  RegressionMetrics python/whylogs/core/model_performance_metrics/regression_metrics.py:7
      — count, sum |err|, sum err^2 -> MAE/MSE/RMSE, trivially mergeable.
  AccuracyEstimator python/whylogs/experimental/performance_estimation/estimators.py:28
      — reference per-segment accuracies weighted by target segment volumes.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def confusion_matrix(
    df: DataFrame,
    target_col: str,
    prediction_col: str,
    score_col: Optional[str] = None,
) -> DataFrame:
    """(target, prediction, cnt [, mean_score, min_score, max_score]).

    Nulls map to the string "None" like the reference's label handling
    (confusion_matrix.py:57-69 sorts "None" last).
    """
    t = F.coalesce(F.col(target_col).cast("string"), F.lit("None"))
    p = F.coalesce(F.col(prediction_col).cast("string"), F.lit("None"))
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if score_col is not None:
        aggs += [
            F.avg(score_col).alias("mean_score"),
            F.min(score_col).alias("min_score"),
            F.max(score_col).alias("max_score"),
        ]
    return (
        df.groupBy(t.alias("target"), p.alias("prediction"))
        .agg(*aggs)
        .orderBy("target", "prediction")
    )


def regression_metrics(
    df: DataFrame, prediction_col: str, target_col: str
) -> DataFrame:
    """One row: n, mae, mse, rmse, mean_error (exact, mergeable sums)."""
    err = F.col(prediction_col) - F.col(target_col)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.abs(err)).alias("mae"),
        F.avg(err * err).alias("mse"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.avg(err).alias("mean_error"),
    )


def accuracy(
    df: DataFrame, target_col: str, prediction_col: str
) -> DataFrame:
    return df.agg(
        (F.sum((F.col(target_col) == F.col(prediction_col)).cast("long"))
         / F.count(F.lit(1))).alias("accuracy"),
        F.count(F.lit(1)).alias("n"),
    )


def estimated_accuracy(
    reference_segmented: DataFrame, target_volumes: DataFrame
) -> DataFrame:
    """AccuracyEstimator: join reference per-segment accuracy with target
    per-segment volumes; weighted average. Both inputs are tiny profile
    tables -> broadcast join.

    reference_segmented: (segment, accuracy)
    target_volumes:      (segment, n)
    """
    j = reference_segmented.join(
        F.broadcast(target_volumes), "segment", "inner")
    return j.agg(
        (F.sum(F.col("accuracy") * F.col("n")) / F.sum("n"))
        .alias("estimated_accuracy"),
        F.sum("n").alias("n_target"),
    )


def confidence_bin(score, n_bins: int):
    """Shared confidence-bin expression: equal-width bins over [0, 1]
    with 1.0 clamped into the last bin. Used by the batch ECE and the
    streaming model monitor — they must bin identically for the
    streaming/batch parity contract to hold."""
    return F.least(F.greatest(F.floor(score * n_bins), F.lit(0)),
                   F.lit(n_bins - 1))


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Binned Expected Calibration Error (Naeini et al. 2015): partition
    predictions into ``n_bins`` equal-width confidence bins over [0, 1],
    ``ECE = sum_b (n_b / N) * |acc_b - conf_b|``. Also returns the
    maximum calibration error (MCE) and N. Beyond the reference's
    metric set — the standard "is the model's probability honest"
    check next to the confusion matrix.

    One groupBy(bin) with map-side partial agg (shuffle bounded at
    n_bins rows per partition); scores at exactly 1.0 clamp into the
    last bin. Null scores/labels are excluded.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = confidence_bin(s, n_bins)
    binned = (
        df.filter(s.isNotNull() & ~F.isnan(s)
                  & y.isNotNull() & ~F.isnan(y))
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.avg(y).alias("acc"),
             F.avg(s).alias("conf"))
    )
    tot = binned.agg(F.sum("n").alias("__tot"))
    return (
        binned.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.col("n") / F.col("__tot")
                  * F.abs(F.col("acc") - F.col("conf"))).alias("ece"),
            F.max(F.abs(F.col("acc") - F.col("conf"))).alias("mce"),
            F.first("__tot").alias("n"),
        )
    )


def roc_auc_from_sketches(pos, neg) -> float:
    """AUC from two KLL score sketches (positives' scores vs
    negatives'): ``P(S_pos > S_neg) + 0.5 * P(S_pos = S_neg)``
    computed EXACTLY over the sketches' weighted-sample
    representations (one vectorized merge walk; a sketch holds at
    most ~3k items, so this is driver-trivial). The approximation
    error is the sketches' rank error (~1/k), the same contract as
    the KLL drift path.

    This is the monitoring-path AUC, mirroring how the reference's
    model-perf metrics hold score DISTRIBUTIONS rather than raw rows
    (confusion_matrix.py:43): profiles segmented by the label carry
    one score sketch per class, they merge across days/batches by the
    sketch monoid, and AUC falls out of the stored profile — see
    ``roc_auc_from_profile`` and ``ProfileStore.auc_between``.
    """
    import numpy as np

    if pos.n == 0 or neg.n == 0:
        return float("nan")
    pi, pw = pos._weighted_items()
    ni, nw = neg._weighted_items()
    ncum = np.concatenate([[0.0], np.cumsum(nw)])
    below = ncum[np.searchsorted(ni, pi, side="left")]
    upto = ncum[np.searchsorted(ni, pi, side="right")]
    wins = float(np.sum(pw * (below + 0.5 * (upto - below))))
    denom = float(pw.sum()) * float(nw.sum())
    return wins / denom if denom > 0 else float("nan")


def pr_auc_from_sketches(pos, neg) -> float:
    """Average precision from two KLL score sketches (positives' vs
    negatives' score distributions), computed over the sketches'
    weighted-sample representations: thresholds at each distinct
    positive item, ``AP = sum dR(t) * precision(t)`` — the same
    step-sum as the exact path, error bounded by the sketches' rank
    error. The monitoring-path PR-AUC, composing with label-segmented
    profiles like ``roc_auc_from_sketches``."""
    import numpy as np

    if pos.n == 0:
        return float("nan")
    pi, pw = pos._weighted_items()
    vals, idx = np.unique(pi, return_inverse=True)
    wsum = np.zeros(len(vals))
    np.add.at(wsum, idx, pw)
    tp_tail = np.cumsum(wsum[::-1])[::-1]  # pos weight >= vals[i]
    if neg.n == 0:
        fp_tail = np.zeros(len(vals))
    else:
        ni, nw = neg._weighted_items()
        ncum = np.concatenate([[0.0], np.cumsum(nw)])
        fp_tail = float(nw.sum()) - ncum[
            np.searchsorted(ni, vals, side="left")]
    p_total = float(pw.sum())
    if p_total <= 0:
        return float("nan")
    prec = tp_tail / np.maximum(tp_tail + fp_tail, 1e-300)
    return float(np.sum((wsum / p_total) * prec))


def _class_score_sketches(view, score_col, label_col, pos_value,
                          neg_value):
    """(pos, neg) KLL score sketches from a label-segmented profile,
    or None when either class segment is absent — the shared lookup
    behind the ROC and PR profile paths."""
    import json as _json

    from .sketches import KllSketch

    def seg(v: str) -> str:
        return _json.dumps({label_col: v}, separators=(",", ":"),
                           ensure_ascii=False)

    rows = view.table(
        column=score_col, component="kll",
        segment=[seg(pos_value), seg(neg_value)]).to_pylist()
    blobs = {r["segment"]: r["b"] for r in rows if r["b"] is not None}
    if seg(pos_value) not in blobs or seg(neg_value) not in blobs:
        return None
    return (KllSketch.deserialize(bytes(blobs[seg(pos_value)])),
            KllSketch.deserialize(bytes(blobs[seg(neg_value)])))


def pr_auc_from_profile(
    view,
    score_col: str,
    label_col: str,
    pos_value: str = "1",
    neg_value: str = "0",
) -> float:
    """Average precision straight off a label-segmented profile,
    mirroring ``roc_auc_from_profile``. NaN when either class segment
    is absent."""
    pair = _class_score_sketches(view, score_col, label_col,
                                 pos_value, neg_value)
    if pair is None:
        return float("nan")
    return pr_auc_from_sketches(*pair)


def roc_auc_from_profile(
    view,
    score_col: str,
    label_col: str,
    pos_value: str = "1",
    neg_value: str = "0",
) -> float:
    """AUC straight off a profile segmented by the label column
    (``profile(df, segment_by=[label_col])``): pull the score
    column's KLL sketch for the positive and negative segments and
    run the sketch AUC. NaN when either class segment is absent."""
    pair = _class_score_sketches(view, score_col, label_col,
                                 pos_value, neg_value)
    if pair is None:
        return float("nan")
    return roc_auc_from_sketches(*pair)


def _binary_label(y):
    """Fail fast on labels outside {0, 1} — both AUC paths count
    positives as sum(label), which is only meaningful for 0/1 coding;
    {1,2} or {-1,1} encodings would otherwise produce silently wrong
    (or class-empty) results. JVM-side raise, lazy branch."""
    return F.when(y.isin(0.0, 1.0), y).otherwise(F.raise_error(
        F.concat(F.lit("label must be 0 or 1, got "),
                 y.cast("string"))))


def roc_auc_sketch(
    df: DataFrame,
    score_col: str,
    label_col: str,
    k: int = 256,
) -> float:
    """One-shot sketch AUC over a DataFrame: one KLL sketch of the
    scores per class (``kll_sketch_agg_double`` grouped by the label,
    partially aggregated before its exchange, so no row is shuffled),
    two small blobs collected, then the sketch AUC. The production
    shape for continuous scores at corpus scale; ``roc_auc_exact`` is
    its ground-truth verifier. Labels must be 0/1 (any other value
    raises).
    """
    from .sketches import KllSketch

    src = df.select(
        F.col(score_col).cast("double").alias("s"),
        F.col(label_col).cast("double").alias("y0"),
    ).filter(F.col("s").isNotNull() & ~F.isnan("s")
             & F.col("y0").isNotNull()).select(
        "s", _binary_label(F.col("y0")).cast("int").alias("y"))
    rows = src.groupBy("y").agg(
        F.kll_sketch_agg_double("s", F.lit(int(k))).alias("b")).collect()
    sk = {r["y"]: KllSketch.deserialize(bytes(r["b"])) for r in rows}
    return roc_auc_from_sketches(sk.get(1, KllSketch(k)),
                                 sk.get(0, KllSketch(k)))


def _distinct_score_counts(df, score_col, label_col, n_bins):
    """Shared head of the exact ROC/PR walks: drop null AND NaN
    score/label rows (NaN sorts above every real score in Spark, so a
    failed upstream feature would otherwise become the top threshold —
    and the KLL monitoring path drops NaN, so keeping it here would
    make the ground-truth verifier disagree with the sketch metric),
    validate 0/1 labels, optionally quantize onto the n_bins midpoint
    grid, and collapse to one (score, pos, neg) row per distinct
    score (map-side combine: the shuffle carries distinct scores
    only)."""
    s = F.col(score_col).cast("double")
    y0 = F.col(label_col).cast("double")
    base = df.filter(s.isNotNull() & ~F.isnan(s)
                     & y0.isNotNull() & ~F.isnan(y0))
    y = _binary_label(y0)
    if n_bins is not None:
        if n_bins < 1:
            raise ValueError("n_bins must be >= 1")
        edges = base.agg(F.min(s).alias("__lo"), F.max(s).alias("__hi"))
        width = F.when(
            F.col("__hi") > F.col("__lo"),
            (F.col("__hi") - F.col("__lo")) / F.lit(n_bins)
        ).otherwise(F.lit(1.0))
        b = F.least(F.greatest(F.floor((s - F.col("__lo")) / width),
                               F.lit(0)), F.lit(n_bins - 1))
        base = base.crossJoin(F.broadcast(edges))
        s = F.col("__lo") + (b + F.lit(0.5)) * width
    return base.groupBy(s.alias("s")).agg(
        F.sum(y).alias("pos"),
        (F.count(F.lit(1)) - F.sum(y)).alias("neg"))


def roc_auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: Optional[int] = None,
) -> DataFrame:
    """ROC-AUC via the rank formulation with tie correction:
    ``AUC = sum_s neg(s) * (pos_above(s) + pos(s)/2) / (P * N)`` over
    DISTINCT scores — the probability a random positive outranks a
    random negative, ties counting half (higher score = more positive).

    Distributed shape: one groupBy(score) collapses duplicates
    map-side (the shuffle carries distinct scores only), then the
    cumulative-positives walk runs as a two-phase range-partitioned
    prefix sum (``core.prefix.running_sums``) — range-repartition by
    score, per-slice local cumsums, broadcast per-slice offsets. No
    task ever sorts more than its slice, so continuous scores (where
    distinct values ≈ row count) stay fully parallel at corpus scale.

    ``n_bins``: opt-in binned approximation — quantize scores onto an
    ``n_bins`` equal-width grid (bin MIDPOINT as the score) before the
    walk, bounding the distinct-score table at ``n_bins`` rows. The
    binned AUC converges to the exact one at 1/n_bins score
    resolution; for a sketch-backed path that composes with the
    profile store, see ``roc_auc_from_sketches`` / ``auc_between``.
    Labels must be 0/1 (any other value raises).
    """
    from .prefix import running_sums

    g = _distinct_score_counts(df, score_col, label_col, n_bins)
    # __g_pos/__g_neg (class totals) ride the prefix-sum rollup, so
    # no separate totals pass over g is needed; neg is total-only —
    # its per-row cumulative is never used
    cum = running_sums(g, ["s"], ["pos"], total_cols=["neg"]).select(
        "pos", "neg",
        (F.col("__cum_pos") - F.col("pos")).alias("cum_pos_below"),
        F.col("__g_pos").alias("P"), F.col("__g_neg").alias("N"))
    return (
        cum.agg(
            # single-class input (P or N = 0) -> NULL, not a
            # divide-by-zero abort under Spark's default ANSI mode
            F.when(
                (F.first("P") > 0) & (F.first("N") > 0),
                F.sum(F.col("neg")
                      * (F.col("P") - F.col("cum_pos_below")
                         - F.col("pos") / 2))
                / (F.first("P") * F.first("N"))).alias("auc"),
            F.first("P").cast("long").alias("n_positive"),
            F.first("N").cast("long").alias("n_negative"),
        )
    )


def pr_auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: Optional[int] = None,
) -> DataFrame:
    """Exact average precision (PR-AUC, sklearn's step-sum convention
    ``AP = sum_k (R_k - R_{k-1}) * P_k`` with one threshold per
    DISTINCT score, ties entering together): for each distinct score
    s, ``TP = positives >= s``, ``FP = negatives >= s``,
    ``dR = pos(s)/P`` — so AP is one projection over the same
    range-partitioned prefix-sum walk as ``roc_auc_exact``
    (``core.prefix.running_sums``: groupBy collapses duplicates
    map-side, range exchange on score, per-slice cumsums, broadcast
    offsets; no single-task sort at corpus scale).

    ``n_bins`` opts into the equal-width binned approximation exactly
    as in ``roc_auc_exact``. Labels must be 0/1. Returns one row:
    (average_precision, n_positive, n_negative); AP is NULL when no
    positives exist (precision of an empty prediction set is
    undefined). TP + FP >= pos(s) + neg(s) >= 1 at every retained
    threshold, so the precision division is ANSI-safe by
    construction.
    """
    from .prefix import running_sums

    g = _distinct_score_counts(df, score_col, label_col, n_bins)
    cum = running_sums(g, ["s"], ["pos", "neg"]).select(
        "pos",
        (F.col("__g_pos") - (F.col("__cum_pos") - F.col("pos")))
        .alias("tp"),
        (F.col("__g_neg") - (F.col("__cum_neg") - F.col("neg")))
        .alias("fp"),
        F.col("__g_pos").alias("P"), F.col("__g_neg").alias("N"))
    # the P division must be guarded per ROW: when() around the AGG
    # doesn't short-circuit the aggregate's input expressions, so a
    # zero-positive input would still hit pos/0 under ANSI
    dr = F.when(F.col("P") > 0, F.col("pos") / F.col("P")) \
        .otherwise(F.lit(0.0))
    return cum.agg(
        F.when(
            F.first("P") > 0,
            F.sum(dr * (F.col("tp") / (F.col("tp") + F.col("fp"))))
        ).alias("average_precision"),
        F.first("P").cast("long").alias("n_positive"),
        F.first("N").cast("long").alias("n_negative"))


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    max_distinct: int = 100_000,
    n_bins: Optional[int] = None,
) -> DataFrame:
    """Exact isotonic (monotone non-decreasing) calibration of a
    score column against binary labels — the non-parametric
    alternative to Platt scaling: ``(score, n, y_rate, calibrated)``
    one row per distinct score, where ``calibrated`` is the
    pool-adjacent-violators (PAVA) fit, i.e. the weighted
    least-squares monotone step function through the per-score label
    rates.  Joinable back onto predictions as a broadcast lookup
    (score -> calibrated probability).

    Scale shape: the data collapses to one partial-agged row per
    DISTINCT score (the ``roc_auc_exact`` convention; pass
    ``n_bins`` to quantize scores first when the score space is
    continuous), then PAVA runs driver-side over the collected
    distinct table — a bounded, capped collect (raises beyond
    ``max_distinct``; PAVA is inherently sequential, and the
    distinct-score table is model-output-sized, not data-sized).
    Equal adjacent means make block boundaries ambiguous but the
    fitted VALUES identical, so the output is engine-replayable via
    the max-min characterization
    ``fit(i) = max_{j<=i} min_{k>=i} mean(y[j..k])``.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    if n_bins is not None:
        if n_bins < 2:
            raise ValueError(f"n_bins must be >= 2: {n_bins}")
        s = F.floor(s * float(n_bins)) / float(n_bins)
    g = (df.filter(s.isNotNull() & ~F.isnan(s)
                   & y.isNotNull() & ~F.isnan(y))
         .select(s.alias("__s"), y.alias("__y"))
         .groupBy("__s")
         .agg(F.count(F.lit(1)).alias("n"), F.sum("__y").alias("__t"))
         )
    rows = g.orderBy("__s").limit(int(max_distinct) + 1).collect()
    if len(rows) > int(max_distinct):
        raise ValueError(
            f"more than {max_distinct} distinct scores - pass n_bins "
            "to quantize or raise max_distinct")
    if not rows:
        raise ValueError("no valid (score, label) rows")
    # PAVA: maintain a stack of blocks (weight, sum); merge while the
    # monotonicity constraint mean[k-1] <= mean[k] is violated
    blocks = []  # [start_idx, weight, total]
    for i, r in enumerate(rows):
        blocks.append([i, float(r["n"]), float(r["__t"])])
        while len(blocks) > 1 and (
                blocks[-2][2] * blocks[-1][1]
                > blocks[-1][2] * blocks[-2][1]):
            s0, w0, t0 = blocks.pop()
            blocks[-1][1] += w0
            blocks[-1][2] += t0
    fitted = [0.0] * len(rows)
    for bi, (start, w, t) in enumerate(blocks):
        end = blocks[bi + 1][0] if bi + 1 < len(blocks) else len(rows)
        val = t / w
        for i in range(start, end):
            fitted[i] = val
    spark = df.sparkSession
    out = spark.createDataFrame(
        [(float(r["__s"]), int(r["n"]),
          float(r["__t"]) / float(r["n"]), fitted[i])
         for i, r in enumerate(rows)],
        "score double, n bigint, y_rate double, calibrated double")
    return out


def calibration_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram table: one row per occupied equal-width
    confidence bin — ``(bin, n, conf, acc, gap)`` with ``conf`` the
    bin's mean score, ``acc`` its empirical positive rate and ``gap =
    acc − conf``.  The per-bin view behind
    :func:`expected_calibration_error` (same ``confidence_bin`` rule,
    so the two always agree); plot it or feed it to a monitor.

    One partial-agged groupBy(bin); shuffle bounded at ``n_bins`` rows
    per map partition.  Null/NaN scores or labels drop.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    return (
        df.filter(s.isNotNull() & ~F.isnan(s)
                  & y.isNotNull() & ~F.isnan(y))
        .groupBy(confidence_bin(s, n_bins).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.avg(s).alias("conf"),
             F.avg(y).alias("acc"))
        .withColumn("gap", F.col("acc") - F.col("conf"))
    )


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Brier score and its Murphy (1973) 3-way split, one output row:
    ``(n, brier, reliability, resolution, uncertainty)``.

    * ``brier`` — mean (score − label)², the proper scoring rule.
    * ``reliability`` — Σ_b n_b·(conf_b − acc_b)²/N (calibration
      badness, 0 is perfect), ``resolution`` — Σ_b n_b·(acc_b − ȳ)²/N
      (sharpness, bigger is better), ``uncertainty`` — ȳ(1 − ȳ).
    * The Murphy identity brier = rel − res + unc holds exactly only
      for discrete forecasts; with equal-width binning the residual is
      the within-bin score variance (report compares, not enforces).

    Two bounded aggregates: groupBy(bin) (≤ ``n_bins`` rows) then a
    1-row reduce; the exact brier rides the first pass as one more
    partial-agged sum.  Same bin rule as
    :func:`expected_calibration_error`.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    per = (
        df.filter(s.isNotNull() & ~F.isnan(s)
                  & y.isNotNull() & ~F.isnan(y))
        .groupBy(confidence_bin(s, n_bins).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.avg(s).alias("conf"),
             F.avg(y).alias("acc"),
             F.sum((s - y) * (s - y)).alias("sq"),
             F.sum(y).alias("pos"))
    )
    tot = per.agg(F.sum("n").alias("__nt"),
                  F.sum("pos").alias("__pt")).select(
        "__nt", (F.col("__pt") / F.col("__nt")).alias("__ybar"))
    nb = F.col("n").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .agg(
            F.first("__nt").alias("n"),
            (F.sum("sq") / F.first("__nt")).alias("brier"),
            F.sum(nb * F.pow(F.col("conf") - F.col("acc"), 2)
                  / F.col("__nt")).alias("reliability"),
            F.sum(nb * F.pow(F.col("acc") - F.col("__ybar"), 2)
                  / F.col("__nt")).alias("resolution"),
            F.first(F.col("__ybar") * (1 - F.col("__ybar")))
            .alias("uncertainty"),
        )
    )


def gains_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table for a scored binary outcome, one
    row per score bucket ordered best-first: ``(bucket, n, n_pos,
    pos_rate, cum_n, cum_pos, capture_rate, cum_lift)``.

    Buckets come from the EXACT ``percentile`` cut points of the score
    at i/n_buckets (equal-frequency up to ties; occupied buckets
    only), bucket 0 = HIGHEST scores.  ``capture_rate`` is the share
    of all positives found in buckets 0..b; ``cum_lift`` that share
    divided by the share of rows examined — the "top decile captures
    3× its share" number.  The plain-classifier sibling of
    ``ops.abtest.uplift_curve`` (which needs a treatment column).

    Scale shape: ONE global aggregate for cuts + totals (broadcast
    back), map-side bucket assignment via a higher-order array
    filter, ONE groupBy over ≤ n_buckets rows, and a cumulative
    window over that bounded frame.  Null/NaN scores or labels drop.
    """
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(f"gains_table needs n_buckets >= 2, got {n_buckets}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.filter(s.isNotNull() & ~F.isnan(s)
                     & y.isNotNull() & ~F.isnan(y)) \
        .select(s.alias("__s"), y.alias("__y"))
    qs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    head = base.agg(
        F.expr(f"percentile(__s, array({qs}))").alias("__cuts"),
        F.count(F.lit(1)).cast("double").alias("__nt"),
        F.sum("__y").alias("__pt"))
    # bucket 0 = best scores: count of cut points the score EXCEEDS,
    # flipped so the table reads top-down
    binned = base.crossJoin(F.broadcast(head)).select(
        (F.lit(n_buckets - 1)
         - F.expr("size(filter(__cuts, c -> __s > c))")).alias("bucket"),
        "__y", "__nt", "__pt")
    per = binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__y").cast("double").alias("n_pos"),
        F.first("__nt").alias("__nt"),
        F.first("__pt").alias("__pt"))
    w = (Window.orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum_n = F.sum("n").over(w)
    cum_pos = F.sum("n_pos").over(w)
    cap = F.when(F.col("__pt") > 0, cum_pos / F.col("__pt"))
    return per.select(
        "bucket", "n",
        F.col("n_pos").cast("long").alias("n_pos"),
        (F.col("n_pos") / F.col("n")).alias("pos_rate"),
        cum_n.alias("cum_n"),
        cum_pos.cast("long").alias("cum_pos"),
        cap.alias("capture_rate"),
        (cap / (cum_n / F.col("__nt"))).alias("cum_lift"))


def platt_scaling(
    df: DataFrame,
    score_col: str,
    label_col: str,
    max_iter: int = 25,
):
    """Platt scaling (Platt 1999): calibrate a raw classifier score
    into a probability by fitting ``P(y=1|s) = sigmoid(a·s + b)`` —
    the parametric sibling of :func:`isotonic_calibration` (use
    isotonic when the reliability curve is non-sigmoid; Platt when
    data per bin is scarce).  Returns ``{"a", "b", "n",
    "iterations", "converged"}``.

    The fit IS a one-feature distributed IRLS logistic regression
    (``ops.causal.fit_logistic`` — one gradient/Hessian aggregate
    per Newton step); apply with :func:`platt_score_col` (a pure
    map-side sigmoid, zero shuffle).
    """
    from whylogs_spark.ops.causal import fit_logistic

    m = fit_logistic(
        df.select(F.col(score_col).cast("double").alias("__ps"),
                  F.col(label_col).cast("double").alias("__py")),
        "__py", ["__ps"], max_iter=max_iter)
    return {"a": m["coef"]["__ps"], "b": m["intercept"],
            "n": m["n"], "iterations": m["iterations"],
            "converged": m["converged"]}


def platt_score_col(model, score_col: str):
    """Calibrated-probability expression for a :func:`platt_scaling`
    model: ``sigmoid(a·s + b)``."""
    eta = (F.lit(float(model["a"]))
           * F.col(score_col).cast("double")
           + F.lit(float(model["b"])))
    eta = F.greatest(F.lit(-30.0), F.least(F.lit(30.0), eta))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
