"""Semantic-type inference for string columns.

The profiler's ``types`` metric reports PHYSICAL types (what Spark
says a column is); real lakes are full of string columns that are
secretly integers, dates, emails, UUIDs, or low-cardinality enums.
``infer_semantic_types`` probes every string column with a battery of
anchored regexes in ONE aggregation pass — all JVM ``rlike``
expressions inside whole-stage codegen, zero Python, one bounded
(#columns-row) result — and names the winner by specificity
precedence, mirroring how the reference's profile summary surfaces
``inferred_type`` for pandas frames
(``whylogs/core/stubs.py`` / summary ``types`` counts; the content
probes themselves are an extension).

Scale shape: one scan, one partial-agg-per-column reduction, a final
explode of the per-column struct array over a single row. Exact
distinct counting is opt-in (``distinct='exact'``); the default uses
``approx_count_distinct`` so the pass stays one-shuffle at any width.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["SEMANTIC_PROBES", "infer_semantic_types", "pattern_profile"]

# (name, anchored regex) in SPECIFICITY order — the first probe whose
# match ratio clears the threshold names the column. Java regex
# syntax (Spark rlike); every pattern is fully anchored.
SEMANTIC_PROBES = [
    ("uuid", r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
             r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"),
    ("email", r"^[^@\s]+@[^@\s]+\.[^@\s]+$"),
    ("url", r"^(https?|ftp)://\S+$"),
    ("ipv4", r"^(\d{1,3}\.){3}\d{1,3}$"),
    ("datetime", r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}"
                 r"(:\d{2}(\.\d+)?)?([Zz]|[+-]\d{2}:?\d{2})?$"),
    ("date", r"^\d{4}-\d{2}-\d{2}$"),
    ("boolean", r"^(?i)(true|false|yes|no|t|f)$"),
    ("integer", r"^[+-]?\d+$"),
    ("decimal", r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$"),
    ("json", r"^\s*[\[{][\s\S]*[\]}]\s*$"),
]


def infer_semantic_types(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    match_threshold: float = 0.95,
    categorical_max_distinct: int = 1000,
    categorical_max_ratio: float = 0.5,
    distinct: str = "approx",
) -> DataFrame:
    """One row per probed string column: ``(column, n, n_nonnull,
    n_empty, n_distinct, distinct_ratio, ratio_<probe>...,
    inferred_type)``.

    ``inferred_type`` is the FIRST probe (specificity order:
    uuid, email, url, ipv4, datetime, date, boolean, integer,
    decimal, json) whose ratio of non-empty non-null values >=
    ``match_threshold``; if none clears it, ``categorical`` when the
    column has at most ``categorical_max_distinct`` distinct values
    AND a distinct/non-null ratio <= ``categorical_max_ratio``, else
    ``text``. An all-null-or-empty column infers ``empty``.

    ``distinct='approx'`` (default, HLL — the 100 TB path) or
    ``'exact'`` (count_distinct; use when the result feeds an
    exactness gate). ``columns`` defaults to every StringType column.
    """
    if distinct not in ("approx", "exact"):
        raise ValueError("distinct must be 'approx' or 'exact'")
    if columns is None:
        columns = [f.name for f in df.schema.fields
                   if isinstance(f.dataType, T.StringType)]
    cols = list(columns)
    if not cols:
        raise ValueError("no string columns to probe")
    for c in cols:
        if not isinstance(df.schema[c].dataType, T.StringType):
            raise ValueError(f"column is not a string: {c}")

    aggs = []
    for c in cols:
        v = F.col(c)
        nonempty = v.isNotNull() & (F.length(F.trim(v)) > 0)
        aggs.append(F.count(F.lit(1)).alias(f"__{c}__n"))
        aggs.append(F.count(v).alias(f"__{c}__nn"))
        aggs.append(F.sum((v.isNotNull()
                           & (F.length(F.trim(v)) == 0)).cast("long"))
                    .alias(f"__{c}__empty"))
        dexp = (F.count_distinct(v) if distinct == "exact"
                else F.approx_count_distinct(v))
        aggs.append(dexp.alias(f"__{c}__dist"))
        for name, pat in SEMANTIC_PROBES:
            aggs.append(
                F.sum((nonempty & F.trim(v).rlike(pat)).cast("long"))
                .alias(f"__{c}__{name}"))
    row = df.agg(*aggs)

    def col_struct(c):
        fields = [F.lit(c).alias("column"),
                  F.col(f"__{c}__n").alias("n"),
                  F.col(f"__{c}__nn").alias("n_nonnull"),
                  F.col(f"__{c}__empty").alias("n_empty"),
                  F.col(f"__{c}__dist").alias("n_distinct")]
        for name, _ in SEMANTIC_PROBES:
            fields.append(F.col(f"__{c}__{name}").alias(f"c_{name}"))
        return F.struct(*fields)

    long = row.select(
        F.explode(F.array(*[col_struct(c) for c in cols])).alias("s")
    ).select("s.*")

    denom = (F.col("n_nonnull") - F.col("n_empty")).cast("double")
    ratio_cols = []
    for name, _ in SEMANTIC_PROBES:
        ratio_cols.append(
            F.when(denom > 0,
                   F.col(f"c_{name}").cast("double") / denom)
            .alias(f"ratio_{name}"))
    distinct_ratio = F.when(
        F.col("n_nonnull") > 0,
        F.col("n_distinct").cast("double")
        / F.col("n_nonnull").cast("double"))
    inferred = F.lit("text")
    is_cat = ((F.col("n_distinct")
               <= F.lit(int(categorical_max_distinct)))
              & (distinct_ratio <= F.lit(float(categorical_max_ratio))))
    inferred = F.when(is_cat, F.lit("categorical")).otherwise(inferred)
    for name, _ in reversed(SEMANTIC_PROBES):
        inferred = F.when(
            F.col(f"ratio_{name}") >= F.lit(float(match_threshold)),
            F.lit(name)).otherwise(inferred)
    inferred = F.when(denom > 0, inferred).otherwise(F.lit("empty"))
    return long.select(
        "column", "n", "n_nonnull", "n_empty", "n_distinct",
        distinct_ratio.alias("distinct_ratio"),
        *ratio_cols,
        inferred.alias("inferred_type"),
    )


def pattern_profile(
    df: DataFrame,
    cols: Sequence[str],
    top_k: int = 20,
    max_chars: int = 40,
) -> DataFrame:
    """Value-mask pattern profile of string columns — the classic
    data-profiling "what formats live in this column" table.  Each
    value maps to a mask (``A`` = ASCII uppercase, ``a`` = lowercase,
    ``9`` = digit, other characters kept verbatim; truncated to
    ``max_chars``), and the report keeps the ``top_k`` masks per
    column: ``(column, mask, n, share, n_values, example)`` with
    ``example`` the lexicographically smallest matching value
    (deterministic) and ``n_values`` the mask's distinct-value count.
    NULLs report under the mask ``<null>``.

    Complements :func:`infer_semantic_types`: the probe battery names
    WHAT a column is, the mask table shows the format mix (and the
    stragglers — a 0.1% mask in a phone column IS the data-quality
    finding).

    Scale shape: masks are three chained in-scan ``regexp_replace``
    projections (codegen, no UDF); ONE partial-agged
    groupBy(column, mask) bounds the exchange by mask cardinality;
    the per-column top-k rank is TWO-PHASE (per-partition pre-cap,
    then the global rank over the bounded survivors) so no reducer
    ever ranks an unbounded mask set.  ``max_chars`` bounds mask
    length so free-text columns can't mint per-row masks.
    """
    from pyspark.sql import Window

    names = list(cols)
    # ONE stack() unpivot so N columns ride a single scan (a
    # union-per-column shape would rescan the table N times)
    triples = []
    for c in names:
        v = f"cast(`{c}` as string)"
        mask = (f"regexp_replace(regexp_replace(regexp_replace("
                f"substring({v}, 1, {int(max_chars)}), "
                f"'[A-Z]', 'A'), '[a-z]', 'a'), '[0-9]', '9')")
        triples.append(f"'{c}', coalesce({mask}, '<null>'), {v}")
    long_df = df.select(
        F.expr(f"stack({len(names)}, {', '.join(triples)})")
        .alias("column", "mask", "__v"))
    # TWO consumers read the mask-count frame (the capped top-k and
    # the per-column totals); Spark re-runs the whole scan per branch,
    # so materialize the bounded frame once (mask cardinality, not
    # row count — the dedup `rep` checkpoint precedent)
    from whylogs_spark.core.util import materialize
    counts = materialize(long_df.groupBy("column", "mask").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("__v").alias("n_values"),
        F.min("__v").alias("example")))
    tot = counts.groupBy("column").agg(F.sum("n").alias("__tot"))

    w_local = Window.partitionBy("column", "__pid").orderBy(
        F.col("n").desc(), F.col("mask").asc())
    pre = (counts.withColumn("__pid", F.spark_partition_id())
           .withColumn("__rk", F.row_number().over(w_local))
           .filter(F.col("__rk") <= top_k).drop("__rk", "__pid"))
    w = Window.partitionBy("column").orderBy(
        F.col("n").desc(), F.col("mask").asc())
    head = (pre.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= top_k).drop("__rk"))
    return (head.join(F.broadcast(tot), "column")
            .select("column", "mask", "n",
                    (F.col("n") / F.col("__tot")).alias("share"),
                    "n_values", "example"))
