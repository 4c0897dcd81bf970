"""Classical hypothesis tests for experiment analysis and data QA:
one-way ANOVA, Kruskal-Wallis, Brown-Forsythe/Levene, McNemar,
Cochran's Q, and a deterministic hash-randomization test — the
k-sample / paired-binary complements of the two-sample machinery in
``ops/abtest.py`` (Welch, Mann-Whitney, CUPED) and the one-sample
GOF tests in ``ops/integrity.py`` (chi2_gof, benford_test).

Beyond-reference extension family: the reference profiles data and
scores drift (`/root/reference/python/whylogs/core/metrics/*`) but has
no k-sample inference; these close that gap for experiment readouts
over profiled segments.

Everything reduces map-side: ANOVA / Brown-Forsythe / McNemar /
Cochran's Q are single partial-agged passes to a bounded
(per-group or 1-row) frame; Kruskal-Wallis ranks ride the two-phase
range-partitioned prefix scan (``core/prefix.running_sums``) over the
groupBy(value)-collapsed DISTINCT-value table, so no task ever sorts
more than its slice; the randomization test explodes a replicate
spine that partial-aggs to ``reps`` rows per partition before the
shuffle (the ``poisson_bootstrap_diff`` shape).

P-values come from scalar special functions (chi2 / F survival) on
the bounded report via one Arrow batch — the ``with_trend_pvalues``
pattern — never from per-row Python.  The F survival function is
``core.drift``'s regularized incomplete beta (Lentz continued
fraction, Abramowitz & Stegun 26.5.8 / 26.6.2).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whylogs_spark.core.drift import _betainc_reg, chi2_sf
from whylogs_spark.core.prefix import running_sums

__all__ = [
    "anova_oneway", "kruskal_wallis", "brown_forsythe",
    "mcnemar_test", "cochrans_q", "randomization_test_means",
    "f_sf",
]


def f_sf(f: float, d1: float, d2: float) -> float:
    """F-distribution survival function P(F_{d1,d2} > f)."""
    if f <= 0.0:
        return 1.0
    return _betainc_reg(d2 / 2.0, d1 / 2.0, d2 / (d2 + d1 * f))


def _attach_pvalue(report: DataFrame, fn) -> DataFrame:
    """Append ``p_value`` to a BOUNDED report frame via one Arrow
    batch; ``fn(row) -> float|None`` sees the pandas row."""
    schema = T.StructType(
        list(report.schema.fields)
        + [T.StructField("p_value", T.DoubleType())])

    def gen(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            pdf = pdf.copy()
            pdf["p_value"] = pd.array(
                [fn(row) for _, row in pdf.iterrows()], dtype="float64")
            yield pdf

    return report.mapInPandas(gen, schema)


def _clean_xy(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    v = F.col(value_col).cast("double")
    return (df.filter(F.col(group_col).isNotNull()
                      & v.isNotNull() & ~F.isnan(v))
            .select(F.col(group_col).cast("string").alias("__g"),
                    v.alias("__v")))


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way fixed-effects ANOVA across the levels of ``group_col``.
    ONE row: ``(n, n_groups, df_between, df_within, ss_between,
    ss_within, statistic, p_value)``.

    Scale shape: ONE partial-agged groupBy(group) pass (count / sum /
    sum-of-squares per level — bounded by group cardinality), then a
    1-row reduce; the F p-value is a scalar special function over
    that single row (Arrow batch).  Zero joins, zero data-sized
    shuffles.
    """
    g = _clean_xy(df, group_col, value_col).groupBy("__g").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("__v").alias("__s"),
        F.sum(F.col("__v") * F.col("__v")).alias("__ss"))
    rep = g.agg(
        F.sum("__n").alias("__N"),
        F.count(F.lit(1)).cast("double").alias("__k"),
        F.sum("__s").alias("__S"),
        F.sum("__ss").alias("__SS"),
        F.sum(F.col("__s") * F.col("__s") / F.col("__n"))
        .alias("__sb"))
    n, k = F.col("__N"), F.col("__k")
    ssb = F.col("__sb") - F.col("__S") * F.col("__S") / n
    ssw = F.col("__SS") - F.col("__sb")
    df1, df2 = k - 1, n - k
    stat = F.when((df1 > 0) & (df2 > 0) & (ssw > 0),
                  (ssb / df1) / (ssw / df2))
    out = rep.select(
        n.cast("long").alias("n"),
        k.cast("long").alias("n_groups"),
        df1.cast("long").alias("df_between"),
        df2.cast("long").alias("df_within"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        stat.alias("statistic"))
    return _attach_pvalue(
        out, lambda r: None if pd.isna(r["statistic"]) else f_sf(
            float(r["statistic"]), float(r["df_between"]),
            float(r["df_within"])))


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Tie-corrected Kruskal-Wallis H test (one-way ANOVA on ranks).
    ONE row: ``(n, n_groups, dof, h, tie_correction, statistic,
    p_value)`` where ``statistic = h / tie_correction`` and the
    p-value is the chi2(dof) upper tail.

    Average ranks come from the groupBy(value)-collapsed DISTINCT
    value table: ``rank(v) = (#values < v) + (count(v)+1)/2``, with
    the global cumulative count computed by the two-phase
    range-partitioned prefix scan (``core/prefix.running_sums``) —
    identical to a single-partition ordered window but no task sorts
    more than its slice.  The per-(value, group) counts then join the
    ranked value table ON THE VALUE (a shuffle bounded by distinct
    values, not rows) and collapse to one row per group.
    """
    b = _clean_xy(df, group_col, value_col)
    pv = b.groupBy("__v").agg(
        F.count(F.lit(1)).cast("double").alias("__c"))
    ranked = running_sums(pv, ["__v"], ["__c"])
    ranked = ranked.select(
        "__v",
        (F.col("__cum___c") - F.col("__c")
         + (F.col("__c") + 1.0) / 2.0).alias("__rank"),
        F.col("__c"))
    pvg = b.groupBy("__v", "__g").agg(
        F.count(F.lit(1)).cast("double").alias("__cg"))
    per_group = (pvg.join(ranked, "__v")
                 .groupBy("__g")
                 .agg(F.sum(F.col("__cg") * F.col("__rank"))
                      .alias("__R"),
                      F.sum("__cg").alias("__ng")))
    ties = pv.agg(
        F.sum("__c").alias("__N"),
        F.sum(F.col("__c") * F.col("__c") * F.col("__c")
              - F.col("__c")).alias("__T"))
    rep = per_group.agg(
        F.count(F.lit(1)).cast("double").alias("__k"),
        F.sum(F.col("__R") * F.col("__R") / F.col("__ng"))
        .alias("__RR")).crossJoin(F.broadcast(ties))
    n, k = F.col("__N"), F.col("__k")
    h = 12.0 / (n * (n + 1.0)) * F.col("__RR") - 3.0 * (n + 1.0)
    corr = F.lit(1.0) - F.col("__T") / (n * n * n - n)
    stat = F.when((corr > 0) & (n > 1), h / corr)
    out = rep.select(
        n.cast("long").alias("n"),
        k.cast("long").alias("n_groups"),
        (k - 1).cast("long").alias("dof"),
        h.alias("h"),
        corr.alias("tie_correction"),
        stat.alias("statistic"))
    return _attach_pvalue(
        out, lambda r: None if pd.isna(r["statistic"]) else chi2_sf(
            float(r["statistic"]), int(r["dof"])))


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
    center: str = "median",
) -> DataFrame:
    """Brown-Forsythe test for equality of group variances (Levene's
    test with median centers; ``center='mean'`` gives classic
    Levene).  ONE row: ``(n, n_groups, df_between, df_within,
    statistic, p_value)`` — the one-way ANOVA F computed on the
    absolute deviations from each group's center.

    Scale shape: one groupBy(group) agg for the centers (exact
    ``percentile`` for the median — bounded by group cardinality),
    broadcast back onto the scan, then the same single-pass ANOVA
    reduce as :func:`anova_oneway`.  The only data-sized shuffle is
    the center aggregation's partial-agg exchange.
    """
    if center not in ("median", "mean"):
        raise ValueError(f"center must be 'median'|'mean': {center!r}")
    b = _clean_xy(df, group_col, value_col)
    agg = (F.expr("percentile(__v, 0.5)") if center == "median"
           else F.avg("__v"))
    centers = b.groupBy("__g").agg(agg.alias("__m"))
    z = (b.join(F.broadcast(centers), "__g")
         .select("__g", F.abs(F.col("__v") - F.col("__m"))
                 .alias("__v")))
    g = z.groupBy("__g").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("__v").alias("__s"),
        F.sum(F.col("__v") * F.col("__v")).alias("__ss"))
    rep = g.agg(
        F.sum("__n").alias("__N"),
        F.count(F.lit(1)).cast("double").alias("__k"),
        F.sum("__s").alias("__S"),
        F.sum("__ss").alias("__SS"),
        F.sum(F.col("__s") * F.col("__s") / F.col("__n"))
        .alias("__sb"))
    n, k = F.col("__N"), F.col("__k")
    ssb = F.col("__sb") - F.col("__S") * F.col("__S") / n
    ssw = F.col("__SS") - F.col("__sb")
    df1, df2 = k - 1, n - k
    stat = F.when((df1 > 0) & (df2 > 0) & (ssw > 0),
                  (ssb / df1) / (ssw / df2))
    out = rep.select(
        n.cast("long").alias("n"),
        k.cast("long").alias("n_groups"),
        df1.cast("long").alias("df_between"),
        df2.cast("long").alias("df_within"),
        stat.alias("statistic"))
    return _attach_pvalue(
        out, lambda r: None if pd.isna(r["statistic"]) else f_sf(
            float(r["statistic"]), float(r["df_between"]),
            float(r["df_within"])))


def mcnemar_test(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """McNemar's test for two PAIRED binary columns (e.g. two
    classifiers scored on the same rows): are the off-diagonal
    disagreement counts symmetric?  ONE row: ``(n, n01, n10,
    statistic, p_value)`` with the continuity-corrected chi2(1)
    statistic ``(|n01 - n10| - 1)^2 / (n01 + n10)``.

    Columns are cast to int and must be 0/1 (booleans welcome); rows
    with a null on either side are excluded pairwise.  Scale shape:
    ONE map-side partial agg straight to a single row — no shuffle of
    data, no join.
    """
    a = F.col(col_a).cast("int")
    b = F.col(col_b).cast("int")
    base = df.filter(a.isNotNull() & b.isNotNull()).select(
        a.alias("__a"), b.alias("__b"))
    rep = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((F.col("__a") == 0) & (F.col("__b") == 1)).cast("long"))
        .alias("n01"),
        F.sum(((F.col("__a") == 1) & (F.col("__b") == 0)).cast("long"))
        .alias("n10"))
    disc = F.col("n01") + F.col("n10")
    diff = F.abs(F.col("n01") - F.col("n10")).cast("double")
    stat = F.when(
        disc > 0,
        (F.greatest(diff - 1.0, F.lit(0.0))
         * F.greatest(diff - 1.0, F.lit(0.0))) / disc.cast("double"))
    out = rep.select("n", "n01", "n10", stat.alias("statistic"))
    return _attach_pvalue(
        out, lambda r: None if pd.isna(r["statistic"])
        else chi2_sf(float(r["statistic"]), 1))


def cochrans_q(
    df: DataFrame,
    classifier_cols: Sequence[str],
) -> DataFrame:
    """Cochran's Q test for k >= 2 PAIRED binary columns (k
    classifiers / k checklist conditions on the same rows): do the
    column success rates differ?  ONE row: ``(n, k, dof, statistic,
    p_value)`` with ``Q = (k-1) (k * sum_j C_j^2 - S1^2) /
    (k * S1 - S2)`` where ``C_j`` are column totals, ``S1 = sum_i
    R_i``, ``S2 = sum_i R_i^2`` over row totals ``R_i``.

    Rows with ANY null among the columns are excluded (the test is
    defined on complete blocks).  Scale shape: row totals are a
    map-side expression; ONE partial agg to a single row.
    """
    cols = list(classifier_cols)
    if len(cols) < 2:
        raise ValueError("cochrans_q needs >= 2 classifier columns")
    k = len(cols)
    ok = None
    for c in cols:
        cond = F.col(c).isNotNull()
        ok = cond if ok is None else (ok & cond)
    ints = [F.col(c).cast("int").alias(f"__x{i}")
            for i, c in enumerate(cols)]
    base = df.filter(ok).select(*ints)
    row_tot = None
    for i in range(k):
        x = F.col(f"__x{i}")
        row_tot = x if row_tot is None else row_tot + x
    rep = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(row_tot.cast("double")).alias("__S1"),
        F.sum((row_tot * row_tot).cast("double")).alias("__S2"),
        *[F.sum(F.col(f"__x{i}").cast("double")).alias(f"__C{i}")
          for i in range(k)])
    cc = None
    for i in range(k):
        c2 = F.col(f"__C{i}") * F.col(f"__C{i}")
        cc = c2 if cc is None else cc + c2
    denom = F.lit(float(k)) * F.col("__S1") - F.col("__S2")
    stat = F.when(
        denom > 0,
        F.lit(float(k - 1))
        * (F.lit(float(k)) * cc - F.col("__S1") * F.col("__S1"))
        / denom)
    out = rep.select(
        "n", F.lit(k).alias("k"), F.lit(k - 1).alias("dof"),
        stat.alias("statistic"))
    return _attach_pvalue(
        out, lambda r: None if pd.isna(r["statistic"])
        else chi2_sf(float(r["statistic"]), k - 1))


def randomization_test_means(
    df: DataFrame,
    group_col: str,
    value_col: str,
    treatment,
    id_col: str,
    reps: int = 200,
    seed: int = 0,
) -> DataFrame:
    """Deterministic hash-randomization test for a difference in
    means: replicate ``r`` re-assigns each row to a pseudo-treatment
    with probability ``p1 = n_treat / n`` via ``md5(id | r | seed)``
    (Bernoulli randomization — the large-n equivalent of a label
    permutation, reproducible run-to-run and engine-to-engine), and
    the two-sided p-value is ``(1 + #{|d_r| >= |d_obs|}) /
    (reps + 1)``.  ONE row: ``(n, n_treat, n_ctrl, diff_obs, reps,
    p_value)``.

    Scale shape: the ``poisson_bootstrap_diff`` spine — the replicate
    explode partial-aggs map-side to ``reps`` rows per partition, so
    shuffle volume is bounded by replicates x partitions, never data
    x replicates; the observed-share row broadcasts onto the spine.
    """
    if reps < 1:
        raise ValueError(f"reps must be >= 1: {reps}")
    v = F.col(value_col).cast("double")
    base = (df.filter(F.col(group_col).isNotNull()
                      & v.isNotNull() & ~F.isnan(v))
            .select((F.col(group_col) == F.lit(treatment))
                    .cast("int").alias("__t"),
                    v.alias("__v"),
                    F.col(id_col).cast("string").alias("__id")))
    obs = base.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("__t").cast("double").alias("__n1"),
        F.sum(F.when(F.col("__t") == 1, F.col("__v"))).alias("__s1"),
        F.sum(F.when(F.col("__t") == 0, F.col("__v"))).alias("__s0"))
    obs = obs.select(
        "__n", "__n1",
        (F.col("__n") - F.col("__n1")).alias("__n0"),
        (F.try_divide(F.col("__s1"), F.col("__n1"))
         - F.try_divide(F.col("__s0"),
                        F.col("__n") - F.col("__n1")))
        .alias("__d_obs"))
    rep = base.select(
        "__v", "__id",
        F.explode(F.sequence(F.lit(0), F.lit(int(reps) - 1)))
        .alias("__r")).crossJoin(F.broadcast(obs))
    u = (F.conv(F.substring(
        F.md5(F.concat_ws("|", F.col("__id"),
                          F.col("__r").cast("string"),
                          F.lit(str(seed)))), 1, 8), 16, 10)
        .cast("double") / F.lit(float(1 << 32)))
    assigned = rep.select(
        "__r", "__v", "__d_obs",
        (u < F.col("__n1") / F.col("__n")).cast("int").alias("__pt"))
    per_rep = assigned.groupBy("__r").agg(
        F.max("__d_obs").alias("__d_obs"),
        (F.try_divide(
            F.sum(F.when(F.col("__pt") == 1, F.col("__v"))),
            F.sum(F.col("__pt")))
         - F.try_divide(
             F.sum(F.when(F.col("__pt") == 0, F.col("__v"))),
             F.sum(F.lit(1) - F.col("__pt")))).alias("__d"))
    tail = per_rep.agg(
        F.sum((F.abs(F.col("__d")) >= F.abs(F.col("__d_obs")))
              .cast("long")).alias("__ge"),
        F.count(F.lit(1)).cast("long").alias("__reps"))
    return obs.crossJoin(F.broadcast(tail)).select(
        F.col("__n").cast("long").alias("n"),
        F.col("__n1").cast("long").alias("n_treat"),
        F.col("__n0").cast("long").alias("n_ctrl"),
        F.col("__d_obs").alias("diff_obs"),
        F.col("__reps").alias("reps"),
        ((F.col("__ge") + 1.0) / (F.col("__reps") + 1.0))
        .alias("p_value"))
