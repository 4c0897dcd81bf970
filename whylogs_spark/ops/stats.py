"""Cross-column statistical association: Pearson correlation matrix,
pairwise Cramér's V over categorical columns, and target-leakage
screening.

The reference profiles each column independently (one metric bundle per
column — ``python/whylogs/core/schema.py``); the relationships BETWEEN
columns are out of its scope, yet they are the first thing a feature
audit asks for: which numeric features are redundant (|r| ~ 1), which
categorical pairs are associated (Cramér's V), and which features leak
the label. These are beyond-reference, first-class profiling operators.

Scale notes (100 TB framing):

* ``correlation_matrix`` is ONE aggregation pass: all C(k,2) pair
  correlations are computed as JVM ``corr``/``count`` expressions in a
  single ``agg`` — partial-aggregated map-side, one exchange of ONE
  combined row per task, never a shuffle of the raw rows and never one
  job per pair. The long-form output is an ``explode`` over the 1-row
  result, which is free.
* ``association_report`` turns k categorical columns into pair-cell
  counts in ONE shuffle: each row explodes to C(k,2) (pair, va, vb)
  tuples and a single hash aggregation collapses them to contingency
  cells (map-side combine bounds the exchange by cells-per-task, not
  rows). Chi-square uses the identity
  ``chi2 = sum(o^2 / e) - n`` over OBSERVED cells only, so empty cells
  of a sparse contingency never materialize. Marginals come from
  windows partitioned by (pair, category) — each window partition is
  at most one contingency row-set (bounded by the declared
  ``max_categories``), never raw data.
* ``target_leakage_report`` is the same one-pass agg specialised to
  (feature, label) pairs.

NaN semantics: both operators treat NaN like NULL (pairwise-complete
observations), matching ANSI SQL aggregate null-skipping so the DuckDB
oracles agree bit-for-bit on the counts and to 1e-6 on the moments.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "correlation_matrix",
    "association_report",
    "cramers_v",
    "target_leakage_report",
    "mutual_information",
    "gini_concentration",
    "diversity_report",
    "hill_tail_index",
    "spearman_correlation",
    "kendall_tau",
    "partial_correlation",
]

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


def _nan_to_null(name: str, dtype: T.DataType) -> Column:
    c = F.col(name).cast("double")
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return F.when(F.isnan(F.col(name)), F.lit(None)).otherwise(c)
    return c


def _pearson(x: Column, y: Column) -> Column:
    """Sample Pearson r as covar/(sd*sd). ``F.corr`` raises
    DIVIDE_BY_ZERO under ANSI mode when a side is constant;
    ``try_divide`` returns NULL there instead — the documented
    contract. Pairwise-null inputs are skipped by the aggregates
    themselves, so covar/stddev see the same observation set. The
    guard also masks the pathological all-identical-pairs case where
    covar is null (n < 2). Both sides are masked to the PAIRWISE
    observation set first — a bare ``stddev_samp(x)`` would include
    rows where only y is missing and skew the denominator."""
    both = x.isNotNull() & y.isNotNull()
    xp = F.when(both, x)
    yp = F.when(both, y)
    return F.try_divide(F.covar_samp(xp, yp),
                        F.stddev_samp(xp) * F.stddev_samp(yp))


def _numeric_cols(df: DataFrame, cols: Sequence[str]) -> dict:
    by_name = {f.name: f.dataType for f in df.schema.fields}
    out = {}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"column not found: {c!r}")
        if not isinstance(by_name[c], _NUMERIC):
            raise ValueError(
                f"column {c!r} is {by_name[c].simpleString()}, not numeric")
        out[c] = by_name[c]
    return out


def correlation_matrix(
    df: DataFrame,
    cols: Sequence[str],
    max_pairs: int = 2000,
    segment_cols: Sequence[str] = (),
) -> DataFrame:
    """All-pairs Pearson correlation in ONE aggregation pass.

    Returns long form ``(segment_cols…, col_x, col_y, n, corr)`` with
    one row per unordered pair in the input order (``col_x`` earlier in
    ``cols`` than ``col_y``). ``n`` counts pairwise-complete
    observations (both sides non-null and non-NaN — NaN is treated as
    missing, matching SQL aggregate semantics); ``corr`` is the sample
    Pearson r over those observations (null when fewer than 2 or a side
    is constant). With ``segment_cols`` the same matrix is computed
    PER SEGMENT — still one pass, the aggregation is simply keyed.

    Plan shape: a single ``agg`` holding 2*C(k,2) JVM expressions
    (covar/stddev + pairwise count per pair) — partial aggregation
    map-side, one exchange of one combined row per task (per segment
    key when segmented) — followed by a free ``explode`` of the
    aggregated row(s) into long form. ``max_pairs`` guards plan size:
    C(k,2) expressions for k=60 is 1770 aggregates, which codegen
    handles; far past that the plan itself becomes the bottleneck and
    the caller should split the column set.
    """
    cols = list(cols)
    segment_cols = list(segment_cols)
    if len(cols) < 2:
        raise ValueError("need at least 2 columns")
    if len(set(cols)) != len(cols):
        raise ValueError("duplicate columns in cols")
    overlap = set(cols) & set(segment_cols)
    if overlap:
        raise ValueError(f"segment_cols overlap cols: {sorted(overlap)}")
    dtypes = _numeric_cols(df, cols)
    pairs = [(i, j) for i in range(len(cols)) for j in range(i + 1,
                                                             len(cols))]
    if len(pairs) > max_pairs:
        raise ValueError(
            f"{len(pairs)} pairs exceeds max_pairs={max_pairs}; "
            "split the column set or raise the cap")
    clean = {c: _nan_to_null(c, dtypes[c]) for c in cols}
    aggs = []
    for i, j in pairs:
        x, y = clean[cols[i]], clean[cols[j]]
        both = F.when(x.isNotNull() & y.isNotNull(), F.lit(1))
        aggs.append(F.count(both).alias(f"__n_{i}_{j}"))
        aggs.append(_pearson(x, y).alias(f"__c_{i}_{j}"))
    row = df.groupBy(*segment_cols).agg(*aggs) if segment_cols \
        else df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(cols[i]).alias("col_x"),
            F.lit(cols[j]).alias("col_y"),
            F.col(f"__n_{i}_{j}").alias("n"),
            F.col(f"__c_{i}_{j}").alias("corr"),
        )
        for i, j in pairs
    ]
    return (
        row.select(*segment_cols,
                   F.explode(F.array(*structs)).alias("p"))
        .select(*segment_cols, "p.col_x", "p.col_y", "p.n", "p.corr")
    )


def _pair_cells(
    df: DataFrame, cols: Sequence[str], dropna: bool
) -> DataFrame:
    """Explode each row into (pair_id, col_a, col_b, va, vb) tuples for
    every unordered column pair, then hash-aggregate to contingency
    cells. ONE shuffle for ALL pairs; map-side combine collapses
    repeated cells before the exchange."""
    cols = list(cols)
    pairs = [(i, j) for i in range(len(cols)) for j in range(i + 1,
                                                             len(cols))]
    structs = []
    for i, j in pairs:
        va = F.col(cols[i]).cast("string")
        vb = F.col(cols[j]).cast("string")
        s = F.struct(
            F.lit(cols[i]).alias("col_a"),
            F.lit(cols[j]).alias("col_b"),
            va.alias("va"),
            vb.alias("vb"),
        )
        if dropna:
            s = F.when(va.isNotNull() & vb.isNotNull(), s)
        structs.append(s)
    arr = F.array(*structs)
    if dropna:
        arr = F.filter(arr, lambda s: s.isNotNull())
    # o as DOUBLE: the chi2/MI terms multiply o*o*n — at corpus scale
    # a dominant cell past ~2M rows overflows int64 under ANSI mode
    # (o=2.1e6 -> o*o*n > Long.MAX aborts the job); double keeps the
    # counts exact to 2^53 and the products finite
    return (
        df.select(F.explode(arr).alias("p"))
        .groupBy("p.col_a", "p.col_b", "p.va", "p.vb")
        .agg(F.count("*").cast("double").alias("o"))
    )


def association_report(
    df: DataFrame,
    cols: Sequence[str],
    max_categories: int = 10000,
) -> DataFrame:
    """Pairwise Cramér's V over categorical columns, one row per
    unordered pair: ``(col_a, col_b, n, r_categories, c_categories,
    chi2, cramers_v)``.

    Rows where either side of a pair is NULL are excluded from that
    pair (pairwise-complete, like ``correlation_matrix``); a pair with
    ZERO complete rows still gets its row (n=0, zero category counts,
    null statistics). ``chi2``
    uses the sparse identity ``sum(o^2/e) - n`` so empty contingency
    cells never materialize; ``cramers_v = sqrt((chi2/n) /
    (min(r,c)-1))`` (null when either side is constant). Values are
    compared as strings, so any groupable type works.

    The same observed cells also yield the information-theoretic view
    at no extra pass: ``mi`` (mutual information in nats,
    ``sum (o/n) ln(o n / (rt ct))`` — empty cells contribute 0), the
    marginal entropies ``h_a``/``h_b`` (via ``sum_cells (o/n) ln(rt/n)
    = sum_a (rt/n) ln(rt/n)``), and ``nmi = mi / min(h_a, h_b)``
    (null when a side is constant). MI is clamped at 0 against
    floating-point noise on independent pairs.

    Plan shape: ONE explode->hash-aggregate shuffle produces every
    pair's contingency cells together (map-side combine bounds the
    exchange by distinct cells, not rows); marginals are windows
    partitioned by (pair, category) — each partition is one row/column
    of one contingency table, bounded by ``max_categories`` — and the
    final rollup is a second bounded aggregation over cells. No job
    per pair, no raw-row window.

    ``max_categories`` caps the per-pair contingency size: the report
    raises at evaluation time via a null sentinel rather than silently
    producing a meaningless V on ID-like columns (guarded here by the
    returned ``r_categories``/``c_categories`` which the caller can
    check; the cells themselves are already aggregated so a violation
    cannot blow memory).
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("need at least 2 columns")
    if len(set(cols)) != len(cols):
        raise ValueError("duplicate columns in cols")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not found: {missing}")
    from pyspark.sql import Window

    cells = _pair_cells(df, cols, dropna=True)
    pair = ["col_a", "col_b"]
    w_row = Window.partitionBy(*pair, "va")
    w_col = Window.partitionBy(*pair, "vb")
    w_pair = Window.partitionBy(*pair)
    scored = cells.select(
        *pair, "va", "vb", "o",
        F.sum("o").over(w_row).alias("row_tot"),
        F.sum("o").over(w_col).alias("col_tot"),
        F.sum("o").over(w_pair).alias("n"),
    )
    # sum over observed cells of o^2/e where e = row_tot*col_tot/n;
    # chi2 = that - n (empty cells contribute 0 to the sum).
    term = (F.col("o") * F.col("o") * F.col("n")
            / (F.col("row_tot") * F.col("col_tot")))
    w = F.col("o") / F.col("n")
    mi_term = w * F.log(F.col("o") * F.col("n")
                        / (F.col("row_tot") * F.col("col_tot")))
    ha_term = w * F.log(F.col("row_tot") / F.col("n"))
    hb_term = w * F.log(F.col("col_tot") / F.col("n"))
    agg = scored.groupBy(*pair).agg(
        F.max("n").cast("long").alias("n"),
        F.countDistinct("va").alias("r_categories"),
        F.countDistinct("vb").alias("c_categories"),
        (F.sum(term) - F.max("n")).alias("chi2"),
        F.greatest(F.sum(mi_term), F.lit(0.0)).alias("mi"),
        (-F.sum(ha_term)).alias("h_a"),
        (-F.sum(hb_term)).alias("h_b"),
    )
    # a pair whose every row has a NULL side produces no cells — emit
    # it anyway (n=0, null stats), honoring the one-row-per-pair
    # contract like correlation_matrix
    spine = df.sparkSession.createDataFrame(
        [(cols[i], cols[j]) for i in range(len(cols))
         for j in range(i + 1, len(cols))],
        "col_a string, col_b string")
    agg = (F.broadcast(spine).join(agg, on=pair, how="left")
           .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
           .withColumn("r_categories",
                       F.coalesce(F.col("r_categories"), F.lit(0)))
           .withColumn("c_categories",
                       F.coalesce(F.col("c_categories"), F.lit(0))))
    dof = F.least("r_categories", "c_categories") - F.lit(1)
    guard = ((F.col("n") > 0)
             & (F.col("r_categories") <= max_categories)
             & (F.col("c_categories") <= max_categories))
    v = F.when(
        (dof > 0) & guard,
        F.sqrt(F.greatest(F.col("chi2"), F.lit(0.0))
               / (F.col("n") * dof)),
    )
    nmi = F.when(
        guard & (F.least("h_a", "h_b") > 0),
        F.col("mi") / F.least("h_a", "h_b"))
    return agg.select(
        *pair, "n", "r_categories", "c_categories",
        F.col("chi2").cast("double").alias("chi2"),
        v.cast("double").alias("cramers_v"),
        F.col("mi").cast("double").alias("mi"),
        F.col("h_a").cast("double").alias("h_a"),
        F.col("h_b").cast("double").alias("h_b"),
        nmi.cast("double").alias("nmi"),
    )


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Single-pair convenience wrapper over ``association_report``."""
    return association_report(df, [col_a, col_b])


def target_leakage_report(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Screen numeric features for label leakage by |Pearson r|.

    One row per feature: ``(feature, n, corr, abs_corr, flagged)``
    where ``flagged`` marks |r| >= threshold — the classic symptom of
    a feature computed FROM the label (post-outcome aggregates,
    target-encoded columns that leaked the fold). Same one-pass
    single-agg plan as ``correlation_matrix``; NaN handled as missing.
    """
    feature_cols = list(feature_cols)
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    if label_col in feature_cols:
        raise ValueError("label_col must not be in feature_cols")
    dtypes = _numeric_cols(df, feature_cols + [label_col])
    y = _nan_to_null(label_col, dtypes[label_col])
    aggs = []
    for i, c in enumerate(feature_cols):
        x = _nan_to_null(c, dtypes[c])
        both = F.when(x.isNotNull() & y.isNotNull(), F.lit(1))
        aggs.append(F.count(both).alias(f"__n_{i}"))
        aggs.append(_pearson(x, y).alias(f"__c_{i}"))
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("feature"),
            F.col(f"__n_{i}").alias("n"),
            F.col(f"__c_{i}").alias("corr"),
        )
        for i, c in enumerate(feature_cols)
    ]
    return (
        row.select(F.explode(F.array(*structs)).alias("p"))
        .select(
            "p.feature", "p.n", "p.corr",
            F.abs(F.col("p.corr")).alias("abs_corr"),
            (F.abs(F.col("p.corr")) >= F.lit(float(threshold)))
            .alias("flagged"),
        )
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information between two categorical columns, one row:
    ``(n, a_categories, b_categories, h_a, h_b, h_ab, mi, nmi,
    nmi_min)``.

    Entropies in nats from exact joint counts: ``mi = H(a) + H(b) −
    H(a,b)``; ``nmi`` is the arithmetic-mean normalization
    ``mi / ((H(a)+H(b))/2)`` (Strehl & Ghosh 2002) and ``nmi_min``
    the min-entropy one ``mi / min(H(a), H(b))`` — both null when a
    marginal entropy is 0 (a constant column carries no information).

    Relationship to :func:`association_report` (which also emits
    per-pair ``mi``/``nmi_min`` from its pair-exploded contingency
    machinery): that path amortizes MANY pairs over one shuffle; this
    op is the single-pair deep report — it adds ``H(a,b)`` and the
    Strehl-Ghosh normalization, and its ONE-cube-pass shape never
    explodes rows per pair.

    Rows with a NULL on either side drop (pairwise-complete, matching
    ``association_report``).  ONE partial-agged cube(a, b) pass builds
    joint cells, both marginals AND the grand total off a single scan
    (grouping_id separates the levels); one more reduce over that
    bounded frame yields every entropy.  Exactly one data scan, zero
    joins — DataFrame branches per level would each rescan.
    """
    a, b = F.col(col_a), F.col(col_b)
    # ONE cube pass: joint cells, both marginals and the grand total
    # come out of a single aggregation over a single scan —
    # grouping_id tags the level (0 joint, 1 a-marginal, 2 b-marginal,
    # 3 total).  DataFrame branches would re-run the scan per level
    # (Spark shares no common subplans across branches); cube shares
    # everything.  Real nulls were filtered, so the cube's null
    # markers are unambiguous.
    cells = (df.filter(a.isNotNull() & b.isNotNull())
             .cube(a.alias("__a"), b.alias("__b"))
             .agg(F.count(F.lit(1)).cast("double").alias("__c"),
                  F.grouping_id().alias("__gid")))
    gid = F.col("__gid")
    c = F.col("__c")
    lvl = lambda g, e: F.sum(F.when(gid == g, e))  # noqa: E731
    rep = cells.agg(
        lvl(3, c).alias("__n"),
        F.count(F.when(gid == 1, F.lit(1))).alias("a_categories"),
        F.count(F.when(gid == 2, F.lit(1))).alias("b_categories"),
        lvl(1, c * F.log(c)).alias("__sa"),
        lvl(2, c * F.log(c)).alias("__sb"),
        lvl(0, c * F.log(c)).alias("__sab"))
    n = F.col("__n")
    h_a = F.log(n) - F.col("__sa") / n
    h_b = F.log(n) - F.col("__sb") / n
    h_ab = F.log(n) - F.col("__sab") / n
    mi = h_a + h_b - h_ab
    denom = (h_a + h_b) / 2.0
    dmin = F.least(h_a, h_b)
    return rep.select(
        n.cast("long").alias("n"),
        "a_categories", "b_categories",
        h_a.alias("h_a"), h_b.alias("h_b"), h_ab.alias("h_ab"),
        mi.alias("mi"),
        F.when(denom > 0, mi / denom).alias("nmi"),
        F.when(dmin > 0, mi / dmin).alias("nmi_min"))


def gini_concentration(
    df: DataFrame,
    entity_col: str,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Concentration report of ``value_col`` mass across entities, one
    row per group: ``(group…, n_entities, total, gini, hhi,
    top1_share, top10pct_share)``.

    * ``gini`` — on the per-entity totals sorted ascending,
      ``(2·Σ i·x_i)/(n·Σx) − (n+1)/n`` (the exact rank formula; ties
      are permutation-invariant, so the sort is deterministic).  Null
      when total ≤ 0 or n < 2.
    * ``hhi`` — Herfindahl Σ (x_i/Σx)², the antitrust-style index
      (needs no ordering).
    * ``top1_share`` / ``top10pct_share`` — mass share of the single
      largest entity and of the ⌈n/10⌉ largest.

    The "is my training mix dominated by a few sources / customers /
    domains" answer; negative per-entity totals are kept (documented
    Gini caveat: the index can exceed [0,1] if totals go negative).

    Scale shape: pass 1 partial-aggs rows to ONE row per (group,
    entity); the rank window partitions BY GROUP, so each partition
    holds one group's entity list — use group_cols at scale (the
    ungrouped call funnels entities through one partition, fine at
    report grain, wrong for billions of entities).
    """
    from pyspark.sql import Window

    groups = list(group_cols)
    per = (df.groupBy(*groups, F.col(entity_col).alias("__e"))
           .agg(F.sum(F.col(value_col).cast("double")).alias("__x"))
           .filter(F.col("__x").isNotNull()))
    w = Window.partitionBy(*groups).orderBy(F.col("__x"), F.col("__e"))
    wfull = (Window.partitionBy(*groups)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    # the group size rides the SAME window exchange as the rank
    ranked = per.select(
        *groups, "__x",
        F.row_number().over(w).alias("__i"),
        F.count(F.lit(1)).over(wfull).cast("double").alias("__ng"))
    rep = ranked.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("__x").alias("total"),
        F.sum(F.col("__i") * F.col("__x")).alias("__ix"),
        F.sum(F.col("__x") * F.col("__x")).alias("__xx"),
        F.max_by("__x", "__i").alias("__top1"),
        # top 10%: entities with rank > n - ceil(n/10)
        F.sum(F.when(
            F.col("__i") > F.col("__ng")
            - F.ceil(F.col("__ng") / 10.0), F.col("__x"))
            .otherwise(F.lit(0.0))).alias("__top10"))
    g = F.when(
        (F.col("total") > 0) & (F.col("__n") >= 2),
        2.0 * F.col("__ix") / (F.col("__n") * F.col("total"))
        - (F.col("__n") + 1) / F.col("__n"))
    share = lambda c: F.when(F.col("total") > 0, c / F.col("total"))  # noqa: E731
    return rep.select(
        *groups,
        F.col("__n").cast("long").alias("n_entities"),
        "total", g.alias("gini"),
        share(F.col("__xx") / F.col("total")).alias("hhi"),
        share(F.col("__top1")).alias("top1_share"),
        share(F.col("__top10")).alias("top10pct_share"))


def diversity_report(
    df: DataFrame,
    cols: Sequence[str],
) -> DataFrame:
    """Per-column diversity of a categorical mix, one row per column:
    ``(column, n, n_null, categories, entropy, norm_entropy, simpson,
    effective_categories, top_share)``.

    * ``entropy`` — Shannon H in nats over non-null value shares;
      ``norm_entropy = H / ln(categories)`` (null for ≤1 category).
    * ``simpson`` — Σ p² (match probability; 1/simpson is the Simpson
      effective number), ``effective_categories = exp(H)`` (the Hill
      number of order 1), ``top_share`` — the modal value's share.

    The "is my training mix actually mixed" check — a corpus that is
    99% one source has high n but effective_categories ≈ 1.  Scale
    shape: ONE stack() unpivot scanned once, ONE partial-agged
    groupBy(column, value) (bounded by per-column cardinality), then
    a per-column reduce over the bounded counts frame; null counts
    ride the same pass as their own rows.
    """
    names = list(cols)
    pairs = ", ".join(
        f"'{c}', cast(`{c}` as string)" for c in names)
    long_df = df.select(
        F.expr(f"stack({len(names)}, {pairs})")
        .alias("__col", "__v"))
    counts = long_df.groupBy("__col", "__v").agg(
        F.count(F.lit(1)).cast("double").alias("__c"))
    nn = F.when(F.col("__v").isNotNull(), F.col("__c"))
    rep = counts.groupBy("__col").agg(
        F.sum("__c").cast("long").alias("n"),
        F.coalesce(F.sum(F.when(F.col("__v").isNull(), F.col("__c"))),
                   F.lit(0.0)).cast("long").alias("n_null"),
        F.count(nn).alias("categories"),
        F.sum(nn).alias("__nv"),
        F.sum(nn * F.log(nn)).alias("__slc"),
        F.sum(nn * nn).alias("__sq"),
        F.max(nn).alias("__top"))
    h = F.when(F.col("__nv") > 0,
               F.log("__nv") - F.col("__slc") / F.col("__nv"))
    return rep.select(
        F.col("__col").alias("column"), "n", "n_null", "categories",
        h.alias("entropy"),
        F.when(F.col("categories") > 1,
               h / F.log(F.col("categories").cast("double")))
        .alias("norm_entropy"),
        F.when(F.col("__nv") > 0,
               F.col("__sq") / (F.col("__nv") * F.col("__nv")))
        .alias("simpson"),
        F.exp(h).alias("effective_categories"),
        F.when(F.col("__nv") > 0, F.col("__top") / F.col("__nv"))
        .alias("top_share"))


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    k: int = 100,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Hill (1975) estimator of the power-law tail index over the
    top-``k`` order statistics of a positive value, one row per
    group: ``(group…, n, k_used, x_k, xi, alpha)``.

    ``xi = (1/k)·Σ_{i=1..k} ln(x_(i) / x_k)`` over the k largest
    values with ``x_k`` the (k+1)-th largest (the threshold);
    ``alpha = 1/xi`` is the Pareto exponent — web-scale degree /
    revenue / frequency distributions are heavy-tailed exactly when
    alpha is small (≈1-2), which is what decides whether a hot-key
    mitigation is needed.  Non-positive and null values drop; groups
    with fewer than k+2 positive values report with the largest
    feasible ``k_used`` (needs ≥ 2); ``xi`` null when degenerate
    (all top values equal).

    Scale shape: the top-(k+1) per group is TWO-PHASE — a
    per-partition rank keeps k+1 survivors, then the global per-group
    rank runs over ≤ (k+1)×partitions rows; the estimator is one
    bounded reduce.  Totals ride the counts pass.
    """
    from pyspark.sql import Window

    groups = list(group_cols)
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull() & ~F.isnan(v) & (v > 0)) \
        .select(*groups, v.alias("__x"))
    kk = int(k)
    if kk < 2:
        raise ValueError(f"hill_tail_index needs k >= 2, got {k}")

    w_local = Window.partitionBy(*groups, "__pid").orderBy(
        F.col("__x").desc())
    pre = (base.withColumn("__pid", F.spark_partition_id())
           .withColumn("__rk", F.row_number().over(w_local))
           .filter(F.col("__rk") <= kk + 1).drop("__rk", "__pid"))
    w = Window.partitionBy(*groups).orderBy(F.col("__x").desc())
    head = (pre.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= kk + 1))

    tot = base.groupBy(*groups).agg(F.count(F.lit(1)).alias("n"))
    per = (head.groupBy(*groups)
           .agg(F.max("__rk").alias("__m"),
                F.min("__x").alias("x_k"),
                F.sum(F.log("__x")).alias("__slx")))
    m = F.col("__m").cast("double")
    k_used = m - 1
    # Σ ln(x_i) over the k head values = total − ln(x_k); xi = that
    # mean minus ln(x_k)
    xi = F.when(
        k_used >= 2,
        (F.col("__slx") - F.log("x_k")) / k_used - F.log("x_k"))
    xi = F.when(xi > 0, xi)
    if groups:
        out = tot.join(per, groups)
    else:
        out = tot.crossJoin(F.broadcast(per))
    return out.select(
        *groups, "n",
        k_used.cast("long").alias("k_used"),
        "x_k", xi.alias("xi"),
        F.when(xi.isNotNull(), 1.0 / xi).alias("alpha"))


def spearman_correlation(
    df: DataFrame,
    col_x: str,
    col_y: str,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns; ONE
    row: ``(n, rho)``.  Exact midranks (ties get the average rank)
    computed the scale-safe way: each column's groupBy(value)-
    collapsed DISTINCT-value table rides the two-phase
    range-partitioned prefix scan (``core/prefix.running_sums``) to
    its cumulative counts — no task ever sorts more than its slice —
    and the ranks join back ON THE VALUE (shuffles bounded by
    distinct values).  The final Pearson over the two rank columns is
    one partial-agged aggregate.

    Rows with null/NaN on either side drop (pairwise-complete, the
    same contract as :func:`correlation_matrix`).
    """
    from whylogs_spark.core.prefix import running_sums

    x = F.col(col_x).cast("double")
    y = F.col(col_y).cast("double")
    base = (df.filter(x.isNotNull() & ~F.isnan(x)
                      & y.isNotNull() & ~F.isnan(y))
            .select(x.alias("__x"), y.alias("__y")))

    def midranks(b: DataFrame, col: str, out: str) -> DataFrame:
        pv = b.groupBy(col).agg(
            F.count(F.lit(1)).cast("double").alias("__c"))
        r = running_sums(pv, [col], ["__c"])
        return r.select(
            col,
            (F.col("__cum___c") - F.col("__c")
             + (F.col("__c") + 1.0) / 2.0).alias(out))

    rx = midranks(base, "__x", "__rx")
    ry = midranks(base, "__y", "__ry")
    ranked = base.join(rx, "__x").join(ry, "__y")
    rep = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.corr("__rx", "__ry").alias("rho"))
    return rep


def partial_correlation(
    df: DataFrame,
    col_x: str,
    col_y: str,
    control_cols: Sequence[str],
) -> DataFrame:
    """Partial correlation of ``col_x`` and ``col_y`` controlling for
    ``control_cols``; ONE row: ``(n, r_xy, partial_r)``.

    Computed from the full (2+k)-variable Pearson correlation matrix
    via the precision-matrix identity ``r_xy.Z = -P_xy /
    sqrt(P_xx P_yy)`` — all C(m,2) pair correlations come from ONE
    partial-agged aggregate (the ``correlation_matrix`` trick), the
    tiny m x m inversion happens on the driver with numpy.  Listwise-
    complete rows only (any null/NaN drops the row — a correlation
    matrix mixing pairwise-complete samples need not be positive
    definite).

    For ONE control the identity reduces to the textbook
    ``(r_xy - r_xz r_yz) / sqrt((1 - r_xz^2)(1 - r_yz^2))`` — the
    form the DuckDB gate oracle replays.
    """
    import numpy as np

    controls = list(control_cols)
    if not controls:
        raise ValueError(
            "partial_correlation needs >= 1 control column; use "
            "correlation_matrix for the raw pairwise r")
    cols = [col_x, col_y] + controls
    casts = []
    ok = None
    for c in cols:
        cc = F.col(c).cast("double")
        cond = cc.isNotNull() & ~F.isnan(cc)
        ok = cond if ok is None else (ok & cond)
        casts.append(cc)
    base = df.filter(ok).select(
        *[cc.alias(f"__v{i}") for i, cc in enumerate(casts)])
    m = len(cols)
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i in range(m):
        for j in range(i + 1, m):
            aggs.append(F.corr(f"__v{i}", f"__v{j}")
                        .alias(f"__r{i}_{j}"))
    row = base.agg(*aggs).collect()[0]
    n = int(row["__n"])
    corr = np.eye(m)
    for i in range(m):
        for j in range(i + 1, m):
            v = row[f"__r{i}_{j}"]
            corr[i, j] = corr[j, i] = 0.0 if v is None else float(v)
    try:
        prec = np.linalg.inv(corr)
        den = prec[0, 0] * prec[1, 1]
        pr = (float(-prec[0, 1] / np.sqrt(den)) if den > 0
              else float("nan"))
    except np.linalg.LinAlgError:
        pr = float("nan")
    spark = df.sparkSession
    out = spark.createDataFrame(
        [(n, float(corr[0, 1]), pr)],
        "n long, r_xy double, partial_r double")
    return out


def kendall_tau(
    df: DataFrame,
    col_x: str,
    col_y: str,
    max_cells: int = 5_000,
) -> DataFrame:
    """Kendall tau-b rank correlation (tie-corrected) between two
    numeric/ordinal columns; ONE row: ``(n, n_cells, concordant,
    discordant, tau_b)``.

    Exact, not sampled: the data collapses to the DISTINCT
    ``(x, y)`` CELL table with counts (one partial-agged groupBy),
    and concordant/discordant pair MASSES come from one
    broadcast-nested-loop pass over cell pairs with ``x_a < x_b``::

        C = sum c_a*c_b over x_a<x_b and y_a<y_b
        D = sum c_a*c_b over x_a<x_b and y_a>y_b
        tau_b = (C - D) / sqrt((n0 - n1) * (n0 - n2))

    with ``n0 = n(n-1)/2`` and ``n1``/``n2`` the x-/y-marginal tie
    masses ``sum t(t-1)/2`` (Kendall 1945).

    Scale shape: the O(cells^2) pair pass is over the COLLAPSED cell
    table, never rows — ``max_cells`` guards it at plan build (raise:
    bucket a continuous column first, e.g. ``quantile_bins``); one
    side broadcasts so the pass is map-side (no shuffle beyond the
    cell collapse).  Pair masses are exact integers carried in
    doubles — exact while n^2 < 2^53, i.e. any input under ~94M rows
    per judged pair; beyond that the tau denominator dominates the
    error anyway.  Null/NaN rows drop pairwise-complete.  The one-row
    result is collected, the cut of the cell table released, and the
    row returned as a local frame.
    """
    from pyspark.sql.functions import broadcast

    x = F.col(col_x).cast("double")
    y = F.col(col_y).cast("double")
    base = (df.filter(x.isNotNull() & ~F.isnan(x)
                      & y.isNotNull() & ~F.isnan(y))
            .select(x.alias("__x"), y.alias("__y")))
    cells = base.groupBy("__x", "__y").agg(
        F.count(F.lit(1)).cast("double").alias("__c"))
    from whylogs_spark.core.util import materialize, release
    cells = materialize(cells)
    n_cells = cells.count()
    if n_cells > max_cells:
        release(cells)
        raise ValueError(
            f"kendall_tau: {n_cells} distinct (x, y) cells > max_cells="
            f"{max_cells}; bucket a continuous column first "
            "(core/summaries.quantile_bins)")

    a = cells.select(F.col("__x").alias("__xa"),
                     F.col("__y").alias("__ya"),
                     F.col("__c").alias("__ca"))
    b = cells.select(F.col("__x").alias("__xb"),
                     F.col("__y").alias("__yb"),
                     F.col("__c").alias("__cb"))
    pairs = a.join(broadcast(b), F.col("__xa") < F.col("__xb"))
    cd = pairs.agg(
        F.coalesce(F.sum(F.when(F.col("__ya") < F.col("__yb"),
                                F.col("__ca") * F.col("__cb"))),
                   F.lit(0.0)).alias("C"),
        F.coalesce(F.sum(F.when(F.col("__ya") > F.col("__yb"),
                                F.col("__ca") * F.col("__cb"))),
                   F.lit(0.0)).alias("D"))

    xm = cells.groupBy("__x").agg(F.sum("__c").alias("__t"))
    ym = cells.groupBy("__y").agg(F.sum("__c").alias("__t"))
    tie = F.sum(F.col("__t") * (F.col("__t") - 1.0) / 2.0)
    tot = cells.agg(F.sum("__c").alias("n_d"),
                    F.count(F.lit(1)).cast("long").alias("n_cells"))
    n1 = xm.agg(F.coalesce(tie, F.lit(0.0)).alias("n1"))
    n2 = ym.agg(F.coalesce(tie, F.lit(0.0)).alias("n2"))

    rep = (tot.crossJoin(broadcast(cd))
           .crossJoin(broadcast(n1)).crossJoin(broadcast(n2)))
    n0 = F.col("n_d") * (F.col("n_d") - 1.0) / 2.0
    denom = F.sqrt((n0 - F.col("n1")) * (n0 - F.col("n2")))
    row = rep.select(
        F.col("n_d").cast("long").alias("n"), "n_cells",
        F.col("C").cast("long").alias("concordant"),
        F.col("D").cast("long").alias("discordant"),
        F.when(denom > 0, (F.col("C") - F.col("D")) / denom)
        .alias("tau_b")).collect()[0]
    release(cells)
    return df.sparkSession.createDataFrame(
        [tuple(row)], "n long, n_cells long, concordant long, "
        "discordant long, tau_b double")
