"""Multiclass classifier evaluation: per-class precision/recall/F1
with macro and micro averages, and temperature scaling for softmax
calibration — extending the binary-only evaluation family
(``core/model_perf.py`` confusion / ROC / ECE / Platt) to k classes.

Beyond-reference extension family (the reference's ConfusionMatrix
stores cells, `/root/reference/python/whylogs/core/
model_performance_metrics/confusion_matrix.py:43`; it derives no
per-class scores).

Scale shapes:
  * ``multiclass_report`` — ONE partial-agged groupBy(target, pred)
    pass; every per-class and averaged statistic derives FROM that
    bounded (k² max) cell table — the data is touched exactly once.
  * ``temperature_scaling`` — the single scalar T is fit by
    golden-section search on the validation NLL; each evaluation is
    ONE aggregate whose log-sum-exp runs over the k named score
    columns as JVM expressions (k is bounded, ~tens).  ~40 bounded
    aggregates total, no Python on the data path.
"""

from __future__ import annotations

import math
from typing import Dict, List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["multiclass_report", "temperature_scaling",
           "temperature_score_cols"]


def multiclass_report(
    df: DataFrame,
    target_col: str,
    prediction_col: str,
) -> DataFrame:
    """Per-class classification report + averages.  One row per
    observed class: ``(class, support, tp, fp, fn, precision,
    recall, f1)``, plus ``__macro__`` (unweighted mean of per-class
    scores over classes with support) and ``__micro__`` (global
    counts — for single-label classification micro-P = micro-R =
    accuracy) summary rows with support = total n.

    Nulls in either column map to the "None" class (the reference's
    ConfusionMatrix convention).  Scale shape: ONE groupBy over the
    (target, prediction) cell table; per-class totals reduce FROM
    that bounded table via two small re-aggregations and join back
    by the class key — all bounded by class cardinality.
    """
    t = F.coalesce(F.col(target_col).cast("string"), F.lit("None"))
    p = F.coalesce(F.col(prediction_col).cast("string"),
                   F.lit("None"))
    cells = (df.groupBy(t.alias("__t"), p.alias("__p"))
             .agg(F.count(F.lit(1)).cast("double").alias("__n")))
    by_t = cells.groupBy(F.col("__t").alias("__cls")).agg(
        F.sum("__n").alias("__support"))
    by_p = cells.groupBy(F.col("__p").alias("__cls")).agg(
        F.sum("__n").alias("__predicted"))
    diag = (cells.filter(F.col("__t") == F.col("__p"))
            .select(F.col("__t").alias("__cls"),
                    F.col("__n").alias("__tp")))
    per = (by_t.join(by_p, "__cls", "outer")
           .join(diag, "__cls", "left")
           .select(
               "__cls",
               F.coalesce("__support", F.lit(0.0)).alias("__sup"),
               F.coalesce("__predicted", F.lit(0.0)).alias("__pred"),
               F.coalesce("__tp", F.lit(0.0)).alias("__tp")))
    prec = F.try_divide(F.col("__tp"), F.col("__pred"))
    rec = F.try_divide(F.col("__tp"), F.col("__sup"))
    f1 = F.try_divide(2.0 * prec * rec, prec + rec)
    rep = per.select(
        F.col("__cls").alias("class"),
        F.col("__sup").cast("long").alias("support"),
        F.col("__tp").cast("long").alias("tp"),
        (F.col("__pred") - F.col("__tp")).cast("long").alias("fp"),
        (F.col("__sup") - F.col("__tp")).cast("long").alias("fn"),
        prec.alias("precision"),
        rec.alias("recall"),
        F.coalesce(f1, F.lit(0.0)).alias("f1"))
    # macro: unweighted mean over classes WITH support; micro: global
    macro = (rep.filter(F.col("support") > 0)
             .agg(F.sum("support").alias("support"),
                  F.sum("tp").alias("tp"), F.sum("fp").alias("fp"),
                  F.sum("fn").alias("fn"),
                  F.avg("precision").alias("precision"),
                  F.avg("recall").alias("recall"),
                  F.avg("f1").alias("f1"))
             .select(F.lit("__macro__").alias("class"), "support",
                     "tp", "fp", "fn", "precision", "recall", "f1"))
    micro_p = F.try_divide(F.col("tp").cast("double"),
                           (F.col("tp") + F.col("fp")).cast("double"))
    micro_r = F.try_divide(F.col("tp").cast("double"),
                           (F.col("tp") + F.col("fn")).cast("double"))
    micro = (rep.agg(F.sum("support").alias("support"),
                     F.sum("tp").alias("tp"), F.sum("fp").alias("fp"),
                     F.sum("fn").alias("fn"))
             .select(F.lit("__micro__").alias("class"), "support",
                     "tp", "fp", "fn",
                     micro_p.alias("precision"),
                     micro_r.alias("recall"),
                     F.try_divide(2.0 * micro_p * micro_r,
                                  micro_p + micro_r).alias("f1")))
    return rep.unionByName(macro).unionByName(micro)


def _nll_agg(df: DataFrame, score_cols: List[str], label_idx,
             temp: float):
    """-> (mean NLL, n) of the temperature-scaled softmax, ONE agg."""
    zs = [F.col(c).cast("double") / F.lit(float(temp))
          for c in score_cols]
    mx = F.greatest(*zs) if len(zs) > 1 else zs[0]
    sumexp = None
    for z in zs:
        e = F.exp(z - mx)
        sumexp = e if sumexp is None else sumexp + e
    lse = mx + F.log(sumexp)
    # the true class's scaled score, as a CASE over the label index
    own = None
    for i, z in enumerate(zs):
        cond = (label_idx == i)
        own = F.when(cond, z) if own is None else own.when(cond, z)
    own = own.otherwise(F.lit(None))
    row = df.agg(F.avg(lse - own).alias("__nll"),
                 F.count(own).alias("__n")).collect()[0]
    return float(row["__nll"]), int(row["__n"])


def temperature_scaling(
    df: DataFrame,
    score_cols: Sequence[str],
    label_col: str,
    t_min: float = 0.05,
    t_max: float = 20.0,
    iters: int = 40,
) -> Dict:
    """Temperature scaling (Guo et al. 2017): the one-parameter
    softmax calibration ``softmax(z / T)`` with T chosen to minimize
    validation NLL.  ``score_cols`` are the k per-class logit/score
    columns; ``label_col`` holds the true class INDEX (0-based into
    ``score_cols``).  Returns ``{"temperature", "nll_before",
    "nll_after", "n", "evaluations"}``.

    NLL(T) is convex in 1/T for softmax scores, so a golden-section
    search over log T converges fast; each evaluation is ONE bounded
    aggregate (max-shifted log-sum-exp over the k columns, all JVM
    expressions).  Rows with a null/out-of-range label or any null
    score drop.
    """
    cols = list(score_cols)
    if len(cols) < 2:
        raise ValueError("temperature_scaling needs >= 2 score cols")
    if not 0 < t_min < t_max:
        raise ValueError(f"bad bracket: [{t_min}, {t_max}]")
    y = F.col(label_col).cast("int")
    ok = y.isNotNull() & (y >= 0) & (y < len(cols))
    for c in cols:
        cc = F.col(c).cast("double")
        ok = ok & cc.isNotNull() & ~F.isnan(cc)
    base = df.filter(ok).select(
        y.alias("__y"), *[F.col(c).cast("double").alias(c)
                          for c in cols])
    from whylogs_spark.core.util import materialize, release
    base = materialize(base)
    try:
        lbl = F.col("__y")

        evals = [0]

        def nll(log_t: float):
            evals[0] += 1
            v, n = _nll_agg(base, cols, lbl, math.exp(log_t))
            return v, n

        gr = (math.sqrt(5.0) - 1.0) / 2.0
        a, b = math.log(t_min), math.log(t_max)
        c1 = b - gr * (b - a)
        c2 = a + gr * (b - a)
        f1v, n = nll(c1)
        f2v, _ = nll(c2)
        if n == 0:
            raise ValueError("temperature_scaling: no usable rows")
        nll_before, _ = nll(0.0)  # T = 1
        for _ in range(int(iters)):
            if f1v < f2v:
                b, c2, f2v = c2, c1, f1v
                c1 = b - gr * (b - a)
                f1v, _ = nll(c1)
            else:
                a, c1, f1v = c1, c2, f2v
                c2 = a + gr * (b - a)
                f2v, _ = nll(c2)
            if b - a < 1e-5:
                break
        log_t = (a + b) / 2.0
        nll_after, _ = nll(log_t)
    finally:
        release(base)
    return {"temperature": float(math.exp(log_t)),
            "nll_before": float(nll_before),
            "nll_after": float(nll_after),
            "n": n, "evaluations": evals[0]}


def temperature_score_cols(model: Dict,
                           score_cols: Sequence[str]) -> List:
    """Calibrated softmax probability expressions (one per class)
    for a :func:`temperature_scaling` model — pure map-side."""
    t = float(model["temperature"])
    zs = [F.col(c).cast("double") / F.lit(t) for c in score_cols]
    mx = F.greatest(*zs) if len(zs) > 1 else zs[0]
    exps = [F.exp(z - mx) for z in zs]
    tot = None
    for e in exps:
        tot = e if tot is None else tot + e
    return [e / tot for e in exps]
