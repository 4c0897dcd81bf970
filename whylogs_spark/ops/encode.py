"""Categorical feature encoding: frequency encoding and smoothed
target encoding — the feature-prep steps between profiling and model
training.

The reference profiles categorical columns (frequent-items sketches);
turning them into model features is out of its scope but squarely in a
training-data pipeline's. Both encoders here are declarative two-pass
plans: ONE aggregation builds the (category -> statistic) code table,
which joins back by broadcast — the code table is bounded by category
cardinality, never data-sized.

Leakage warning (and why ``target_encode`` smooths): encoding a
category by the mean of the LABEL leaks the label into the feature —
use it on the TRAINING fold only, or check the result with
``ops.stats.target_leakage_report``. The m-estimate smoothing
(Micci-Barreca 2001) shrinks rare categories toward the global mean so
a 1-row category can't memorize its own label.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["frequency_encode", "target_encode", "target_encode_oof",
           "quantile_normalize", "woe_iv"]


def frequency_encode(
    df: DataFrame,
    column: str,
    out_col: Optional[str] = None,
    relative: bool = True,
) -> DataFrame:
    """Replace-by-frequency: add ``out_col`` (default ``<column>_freq``)
    holding the category's row count (``relative=False``) or its
    fraction of all rows (``relative=True``). NULL categories encode
    like any other value (their own group).

    Plan shape: one partial-agged groupBy builds the code table
    (bounded by category cardinality); the total rides the same
    aggregate via a 1-row branch; the join back is broadcast-hinted —
    a hot category is ONE row in the table, so the join cannot skew.
    """
    name = out_col or f"{column}_freq"
    counts = df.groupBy(column).agg(F.count(F.lit(1)).alias("__cnt"))
    total = counts.agg(F.sum("__cnt").alias("__tot"))
    code = counts.crossJoin(F.broadcast(total))
    val = (F.col("__cnt").cast("double") / F.col("__tot")) if relative \
        else F.col("__cnt").cast("double")
    code = code.select(F.col(column).alias("__cat"), val.alias(name))
    # null-safe join: NULL categories must match their code row; the
    # rename avoids ambiguous self-join lineage
    return (df.join(F.broadcast(code),
                    on=F.col(column).eqNullSafe(F.col("__cat")),
                    how="left")
            .drop("__cat"))


def target_encode(
    df: DataFrame,
    column: str,
    label_col: str,
    smoothing: float = 20.0,
    out_col: Optional[str] = None,
) -> DataFrame:
    """m-estimate target encoding: ``out_col`` (default
    ``<column>_te``) = ``(sum_label + m * global_mean) / (count + m)``
    per category — rare categories shrink toward the global label mean
    (m = ``smoothing``, in pseudo-observations). Rows whose label is
    null/NaN don't contribute to the statistics but still receive
    their category's encoding; NULL categories form their own group.

    LEAKS THE LABEL by construction — fit on the training fold only
    (or accept the bias), and audit with ``target_leakage_report``.

    Plan shape: identical to :func:`frequency_encode` — one bounded
    aggregation, a 1-row global-mean branch, broadcast join back.
    """
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0: {smoothing}")
    name = out_col or f"{column}_te"
    y = F.col(label_col).cast("double")
    y = F.when(~F.isnan(y), y)  # NaN -> null; aggregates then skip it
    per = df.groupBy(column).agg(
        F.sum(y).alias("__sum"),
        F.count(y).alias("__cnt"))
    glob = per.agg(
        (F.sum("__sum") / F.sum("__cnt")).alias("__gm"))
    m = F.lit(float(smoothing))
    enc = (F.coalesce(F.col("__sum"), F.lit(0.0)) + m * F.col("__gm")) \
        / (F.col("__cnt") + m)
    code = (per.crossJoin(F.broadcast(glob))
            .select(F.col(column).alias("__cat"),
                    F.when(F.col("__gm").isNotNull(), enc)
                    .alias(name)))
    return (df.join(F.broadcast(code),
                    on=F.col(column).eqNullSafe(F.col("__cat")),
                    how="left")
            .drop("__cat"))


def target_encode_oof(
    df: DataFrame,
    column: str,
    label_col: str,
    key_cols: Sequence[str],
    n_folds: int = 5,
    smoothing: float = 20.0,
    out_col: Optional[str] = None,
    fold_col: Optional[str] = None,
) -> DataFrame:
    """LEAK-FREE target encoding: each row's encoding is the
    m-estimate target mean of its category computed WITHOUT the
    row's own fold — the standard out-of-fold scheme that makes
    :func:`target_encode` safe to fit on the full training set.

    Folds are the deterministic md5 hash of ``key_cols`` (the
    ``ops.sampling.kfold_assign`` idiom — reproducible run-to-run and
    engine-to-engine).  For a row in fold f of category c:

        enc = (sum_c − sum_{c,f} + m · prior_f)
              / (cnt_c − cnt_{c,f} + m)

    where ``prior_f`` is the GLOBAL label mean also computed without
    fold f (the prior must not leak either).  Adds ``out_col``
    (default ``<column>_te_oof``) and, when ``fold_col`` is given,
    the fold id.  Null/NaN labels don't contribute to any statistic
    but still receive an encoding; NULL categories form their own
    group.

    Scale shape: ONE aggregation over (category × fold) — bounded by
    cardinality × n_folds, never data — with the per-category and
    per-fold rollups derived FROM that table (no second data pass);
    the code table joins back by broadcast.  The fold id is a pure
    map-side expression, so the only data-sized work is the one
    partial-agged exchange and the broadcast probe.
    """
    keys = list(key_cols)
    if not keys:
        raise ValueError("target_encode_oof needs non-empty key_cols")
    if n_folds < 2:
        raise ValueError(f"n_folds must be >= 2: {n_folds}")
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0: {smoothing}")
    name = out_col or f"{column}_te_oof"
    fold = (F.conv(F.substring(
        F.md5(F.concat_ws("|", *[F.col(c).cast("string")
                                 for c in keys])), 1, 8), 16, 10)
        .cast("long") % n_folds).alias("__fold")
    y = F.col(label_col).cast("double")
    y = F.when(~F.isnan(y), y)  # NaN -> null; aggregates skip it
    per = (df.select(F.col(column).alias("__cat"), fold, y.alias("__y"))
           .groupBy("__cat", "__fold")
           .agg(F.sum("__y").alias("__s"),
                F.count("__y").cast("double").alias("__c")))
    # category totals and fold totals both reduce FROM the bounded
    # (cat x fold) table — the data is touched exactly once
    cat_tot = per.groupBy("__cat").agg(
        F.sum("__s").alias("__st"), F.sum("__c").alias("__ct"))
    fold_tot = per.groupBy("__fold").agg(
        F.sum("__s").alias("__sf"), F.sum("__c").alias("__cf"))
    grand = per.agg(F.sum("__s").alias("__sg"),
                    F.sum("__c").alias("__cg"))
    prior = (fold_tot.crossJoin(F.broadcast(grand))
             .select("__fold",
                     F.try_divide(
                         F.col("__sg") - F.col("__sf"),
                         F.col("__cg") - F.col("__cf"))
                     .alias("__prior")))
    m = F.lit(float(smoothing))
    oof_s = (F.coalesce(F.col("__st"), F.lit(0.0))
             - F.coalesce(F.col("__s"), F.lit(0.0)))
    oof_c = F.col("__ct") - F.col("__c")
    code = (per.join(F.broadcast(cat_tot), "__cat")
            .join(F.broadcast(prior), "__fold")
            .select("__cat", "__fold",
                    F.when(F.col("__prior").isNotNull(),
                           (oof_s + m * F.col("__prior"))
                           / (oof_c + m)).alias(name)))
    base = df.select("*", fold)
    joined = base.join(
        F.broadcast(code),
        on=(F.col(column).eqNullSafe(code["__cat"])
            & (base["__fold"] == code["__fold"])),
        how="left").drop("__cat").drop(code["__fold"])
    if fold_col:
        return joined.withColumnRenamed("__fold", fold_col)
    return joined.drop("__fold")


def woe_iv(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Weight-of-evidence / information-value table for a numeric
    feature against a binary label — the scorecard-industry standard
    for "how predictive is this feature" (Siddiqi 2006).

    Equal-frequency bins from the EXACT ``percentile`` cut points at
    i/bins (ties collapse bins; empty bins drop).  One row per
    occupied bin: ``(bin, lo, hi, n, n_pos, pos_rate, p_pos, p_neg,
    woe, iv_contrib)`` where ``p_pos``/``p_neg`` are the bin's share
    of all positives/negatives, ``woe = ln(p_pos/p_neg)`` (null when
    either side is empty — no fake smoothing), and
    ``iv_contrib = (p_pos − p_neg)·woe`` (0 when woe is null; sum it
    for the feature's IV).  Bin rule: value ≤ first cut → bin 0,
    else the count of cut points strictly below the value.

    Scale shape: pass 1 is ONE partial-agged global aggregate
    (exact-percentile cuts + class totals, a 1-row frame broadcast
    back); pass 2 bins rows map-side with a higher-order array filter
    (no UDF) and reduces to ≤``bins`` rows.  No data-sized shuffle
    beyond the percentile's own exchange; no window over the raw
    frame.  The label must be 0/1-coercible; null feature or label
    rows drop.
    """
    if bins < 2:
        raise ValueError(f"woe_iv needs bins >= 2, got {bins}")
    x = F.col(feature_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.filter(
        x.isNotNull() & ~F.isnan(x) & y.isNotNull()
    ).select(x.alias("__x"), y.alias("__y"))
    qs = ", ".join(str(i / bins) for i in range(1, bins))
    head = base.agg(
        F.expr(f"percentile(__x, array({qs}))").alias("__cuts"),
        F.sum("__y").alias("__tot_pos"),
        (F.count(F.lit(1)) - F.sum("__y")).alias("__tot_neg"))
    binned = base.crossJoin(F.broadcast(head)).select(
        F.expr("size(filter(__cuts, c -> __x > c))").alias("bin"),
        "__x", "__y", "__tot_pos", "__tot_neg")
    per = binned.groupBy("bin").agg(
        F.min("__x").alias("lo"),
        F.max("__x").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.sum("__y").cast("double").alias("n_pos"),
        F.first("__tot_pos").alias("__tp"),
        F.first("__tot_neg").alias("__tn"))
    n_neg = F.col("n") - F.col("n_pos")
    p_pos = F.when(F.col("__tp") > 0, F.col("n_pos") / F.col("__tp"))
    p_neg = F.when(F.col("__tn") > 0, n_neg / F.col("__tn"))
    woe = F.when((F.col("n_pos") > 0) & (n_neg > 0),
                 F.log(p_pos / p_neg))
    iv = F.when(woe.isNotNull(),
                (p_pos - p_neg) * woe).otherwise(F.lit(0.0))
    return per.select(
        "bin", "lo", "hi", "n",
        F.col("n_pos").cast("long").alias("n_pos"),
        (F.col("n_pos") / F.col("n")).alias("pos_rate"),
        p_pos.alias("p_pos"), p_neg.alias("p_neg"),
        woe.alias("woe"), iv.alias("iv_contrib"))


def quantile_normalize(
    df: DataFrame,
    cols: Sequence[str],
    suffix: str = "_qn",
) -> DataFrame:
    """Classic quantile normalization (Bolstad et al. 2003): force
    every column in ``cols`` onto the SAME distribution — the
    position-wise mean of the sorted columns — so downstream
    comparisons see identical marginals.  Adds ``<col><suffix>`` for
    each input column.  Ties map to the mean reference value over
    their tied positions (the standard midrank convention).  Rows
    with a null/NaN in ANY of ``cols`` drop (the method is defined on
    a complete matrix).

    Scale shape (no step touches more than O(n · k) rows, k = #cols):

    1. per column, the groupBy(value) distinct collapse + ONE
       two-phase prefix scan gives each value its sorted-position
       RANGE [cum − c + 1, cum];
    2. each range explodes to its positions (total n rows per
       column) and one groupBy(position) builds the n-row reference
       profile (position-wise column mean);
    3. ONE more prefix scan over the profile turns "mean reference
       value over a position range" into a prefix-sum difference, so
       the per-(column, value) code table never re-touches the
       profile;
    4. k broadcast-free value-keyed joins attach the codes (each
       bounded by that column's distinct values).
    """
    columns = list(cols)
    if len(columns) < 2:
        raise ValueError(
            "quantile_normalize needs >= 2 columns (one column's "
            "normalized values are just its own sorted means)")
    from whylogs_spark.core.prefix import running_sums

    ok = None
    for c in columns:
        cc = F.col(c).cast("double")
        cond = cc.isNotNull() & ~F.isnan(cc)
        ok = cond if ok is None else (ok & cond)
    base = df.filter(ok)

    ranges = {}
    pos_frames = []
    for c in columns:
        pv = (base.groupBy(F.col(c).cast("double").alias("__v"))
              .agg(F.count(F.lit(1)).cast("long").alias("__c")))
        r = running_sums(pv, ["__v"], ["__c"])
        rng = r.select(
            "__v",
            (F.col("__cum___c") - F.col("__c") + 1).alias("__lo"),
            F.col("__cum___c").alias("__hi"))
        ranges[c] = rng
        pos_frames.append(rng.select(
            F.explode(F.sequence("__lo", "__hi")).alias("__pos"),
            F.col("__v").alias("__val")))
    allpos = pos_frames[0]
    for f in pos_frames[1:]:
        allpos = allpos.unionByName(f)
    profile = allpos.groupBy("__pos").agg(
        (F.sum("__val") / F.lit(float(len(columns)))).alias("__ref"))
    prof = running_sums(profile, ["__pos"], ["__ref"])
    # S(pos) inclusive prefix of the reference profile
    # lazy cut: the S table is consumed by 2k join branches (hi and
    # lo-1 per column); materialize it once, but only when the plan
    # actually executes — no job at plan-build time
    from whylogs_spark.core.util import materialize
    prof = materialize(prof.select(
        "__pos", F.col("__cum___ref").alias("__S")), lazy=True)

    out = base
    for c in columns:
        # range mean over positions [lo, hi] = (S(hi) - S(lo-1)) /
        # (hi - lo + 1); S(lo-1) comes from joining S at pos+1 == lo
        # (left-join null -> 0 below position 1)
        shi = prof.select(F.col("__pos").alias("__hi"),
                          F.col("__S").alias("__Shi"))
        slo = prof.select((F.col("__pos") + 1).alias("__lo"),
                          F.col("__S").alias("__Slo0"))
        code = (ranges[c]
                .join(shi, "__hi")
                .join(slo, "__lo", "left")
                .select(
                    F.col("__v").alias("__cat"),
                    ((F.col("__Shi")
                      - F.coalesce(F.col("__Slo0"), F.lit(0.0)))
                     / (F.col("__hi") - F.col("__lo") + 1)
                     .cast("double")).alias(f"{c}{suffix}")))
        out = out.join(
            code, F.col(c).cast("double") == F.col("__cat"), "left"
        ).drop("__cat")
    return out
