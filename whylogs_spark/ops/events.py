"""Event-stream operators for training-data pipelines.

Beyond the reference (which has no event-stream processing): gap-based
sessionization and session statistics, the standard preprocessing step
for behavioral / clickstream training data.

Scale shape: ONE shuffle keyed by the actor column (window partitioning),
then everything is within-partition window functions and one grouped
aggregation that reuses the same partitioning (no second exchange).
Skewed actors (bots) are the known hazard — cap or pre-filter heavy
users upstream if one user's events exceed a partition's memory.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    session_col: str = "session_id",
    hot_user_buckets: Optional[str] = None,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the time
    since the user's previous event exceeds ``gap``.

    session_id is ``<user>#<k>`` with k the per-user session ordinal —
    deterministic and reproducible in plain SQL (lag + conditional
    cumulative sum), so an exact oracle exists in any engine.

    Timezone semantics: the gap test runs on the event-time values
    as-is — for TIMESTAMP_NTZ inputs (parquet without the UTC flag)
    that is pure wall-clock arithmetic, never interpreted in the
    session timezone, so session boundaries cannot shift by an hour
    across a DST transition under a non-UTC session tz (string inputs
    are cast to NTZ for the same reason).

    Hot-user hazard: the default plan sorts each user's full history in
    one task. ``hot_user_buckets`` (an interval, e.g. ``"1 day"``)
    switches to the two-phase plan — sessionize within (user,
    time-bucket), then bridge sessions across bucket boundaries with a
    per-(user, bucket) summary rollup (one row each, tiny): a bucket's
    first session merges with the previous bucket's last when their
    boundary events are within ``gap``, and global ordinals are prefix
    sums of (local sessions − bridges). Exactly the single-phase ids;
    the big windows and the summary re-join key on (user, bucket), so
    a bot user's rows spread across buckets.

    Default policy (measured, bench ``sessionize_hot10x_*`` rows):
    single-phase stays the default — with one bot owning 500k of 1M
    events (sf0.1 10x rehearsal, 32 cores) it ran 1.2 s vs two-phase
    1.6 s; the bucketed plan's extra windows + rollup join cost ~1.4x
    task-seconds, and a sub-10^6-row per-user sort is cheap. Switch on
    ``hot_user_buckets`` when a single user's events reach ~10^7+ rows
    (or a task's memory), choosing a bucket that splits that user into
    >= O(cores) slices.
    """
    dt = dict(df.dtypes).get(ts_col, "")
    tcol = (F.col(ts_col) if dt.startswith("timestamp")
            else F.col(ts_col).cast("timestamp_ntz"))
    gap_expr = F.expr(f"INTERVAL {gap}")

    if hot_user_buckets is None:
        w = Window.partitionBy(user_col).orderBy(tcol.asc())
        prev = F.lag(tcol).over(w)
        new_session = (
            prev.isNull() | (tcol > prev + gap_expr)
        ).cast("long")
        k = F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, 0))
        return df.withColumn(
            session_col,
            F.concat(F.col(user_col).cast("string"), F.lit("#"),
                     k.cast("string")))

    from whylogs_spark.ops._time import epoch_secs, interval_seconds

    bucket_sec = interval_seconds(hot_user_buckets, "hot_user_buckets")

    # materialize the (possibly cast) event-time expression so the
    # NTZ-safe bucket derivation can reference it by name; NTZ values
    # are differenced against an NTZ epoch, never interpreted in the
    # session timezone (a cast to TIMESTAMP is non-monotonic across a
    # DST spring-forward gap under a non-UTC session tz).
    bdf = df.withColumn("__tsn", tcol)
    secs = epoch_secs("__tsn", dict(bdf.dtypes)["__tsn"])
    bdf = bdf.withColumn("__sb", F.floor(secs / F.lit(bucket_sec))
                         .cast("long"))
    # phase 1: local sessionization within (user, bucket)
    w1 = Window.partitionBy(user_col, "__sb").orderBy(tcol.asc())
    prev1 = F.lag(tcol).over(w1)
    new1 = (prev1.isNull() | (tcol > prev1 + gap_expr)).cast("long")
    local = bdf.withColumn(
        "__kl",
        F.sum(new1).over(w1.rowsBetween(Window.unboundedPreceding, 0)))
    # phase 2: one summary row per (user, bucket) — bridge + prefix
    summ = local.groupBy(user_col, "__sb").agg(
        F.min(tcol).alias("__first"),
        F.max(tcol).alias("__last"),
        F.max("__kl").alias("__nloc"))
    wu = Window.partitionBy(user_col).orderBy(F.col("__sb").asc())
    prev_last = F.lag(F.col("__last")).over(wu)
    bridge = (prev_last.isNotNull()
              & (F.col("__first") <= prev_last + gap_expr)).cast("long")
    contrib = F.col("__nloc") - F.col("__bridge")
    summ2 = (
        summ.withColumn("__bridge", bridge)
        .withColumn(
            "__prefix",
            F.coalesce(
                F.sum(contrib).over(
                    wu.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0)))
    ).select(user_col, "__sb", "__bridge", "__prefix")
    # phase 3: re-join on (user, bucket) — hot user spread over buckets
    k = F.col("__prefix") + F.col("__kl") - F.col("__bridge")
    return (
        local.join(summ2, on=[user_col, "__sb"], how="left")
        .withColumn(
            session_col,
            F.concat(F.col(user_col).cast("string"), F.lit("#"),
                     k.cast("string")))
        .drop("__tsn", "__sb", "__kl", "__bridge", "__prefix")
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    hot_user_buckets: Optional[str] = None,
) -> DataFrame:
    """(user, session_id, n_events, session_start, session_end,
    duration_sec) — one row per session; the groupBy reuses the window's
    hash partitioning on user, so sessionize+stats is one shuffle total
    (``hot_user_buckets`` switches to the skew-bounded two-phase plan,
    see ``sessionize``)."""
    s = sessionize(df, user_col, ts_col, gap,
                   hot_user_buckets=hot_user_buckets)
    return (
        s.groupBy(user_col, "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .withColumn(
            # timestampdiff on the raw (NTZ) values: wall-clock
            # semantics, matching the oracle's epoch differences. A
            # cast to TIMESTAMP would interpret each endpoint in the
            # session timezone — a session spanning a DST transition
            # under a non-UTC session tz would be off by +/-3600s.
            "duration_sec",
            F.expr("timestampdiff(MICROSECOND, session_start, "
                   "session_end)") / F.lit(1e6))
    )


# ------------------------------------------------ multi-grain rollup

_GRAIN_ORDER = ("minute", "hour", "day", "week", "month",
                "quarter", "year")


def rollup_timeseries(
    df: DataFrame,
    ts_col: str = "ts",
    value_cols=("value",),
    key_cols=(),
    grains=("hour", "day", "week"),
) -> DataFrame:
    """Hypertable-style multi-resolution rollup: per (key, grain,
    bucket) count/sum/min/max/avg for every requested grain in ONE
    pass over the fact table (GROUPING SETS — Spark plans a single
    scan + one expand + one aggregate, instead of one scan per grain).

    Output columns: ``key_cols…``, ``grain`` (the grain name),
    ``bucket_start`` (truncated timestamp), then per value column
    ``<v>_count / <v>_sum / <v>_min / <v>_max / <v>_avg``.

    Scale shape: the expand multiplies rows by ``len(grains)`` BEFORE
    the partial aggregate, so the exchange carries only group keys ×
    grains — per-bucket partials, never raw rows. Partial aggregation
    collapses each input split to its local buckets first (asserted in
    the plan audit), which is exactly the continuous-aggregate
    maintenance shape at 100 TB.
    """
    bad = [g for g in grains if g not in _GRAIN_ORDER]
    if bad or not grains:
        raise ValueError(
            f"grains must be non-empty, drawn from {_GRAIN_ORDER}; "
            f"got {list(grains)}")
    if len(set(grains)) != len(grains):
        raise ValueError("grains must be distinct")
    key_cols = list(key_cols)
    value_cols = list(value_cols)
    # null timestamps can't be bucketed — and a null bucket would be
    # indistinguishable from another grain's ungrouped column
    src = df.filter(F.col(ts_col).isNotNull()).select(
        *key_cols, F.col(ts_col).alias("__ts"), *value_cols)
    # one bucket column per grain; GROUPING SETS nulls out the others
    buckets = [F.date_trunc(g, F.col("__ts")).alias(f"__b_{g}")
               for g in grains]
    aggs = []
    for v in value_cols:
        c = F.col(v)
        aggs += [F.count(c).alias(f"{v}_count"),
                 F.sum(c).alias(f"{v}_sum"),
                 F.min(c).alias(f"{v}_min"),
                 F.max(c).alias(f"{v}_max"),
                 F.avg(c).alias(f"{v}_avg")]
    grouped = src.select(*key_cols, *buckets, *value_cols) \
        .groupingSets(
            [[F.col(c) for c in [*key_cols, f"__b_{g}"]]
             for g in grains],
            *[F.col(c) for c in key_cols],
            *[F.col(f"__b_{g}") for g in grains]) \
        .agg(*aggs)
    # recover the grain label from WHICH bucket column is non-null;
    # grouping_id would also work but the coalesce keeps it readable
    grain_lbl = None
    bucket = F.coalesce(*[F.col(f"__b_{g}") for g in grains]) \
        if len(grains) > 1 else F.col(f"__b_{grains[0]}")
    for g in grains:
        cond = F.col(f"__b_{g}").isNotNull()
        grain_lbl = F.when(cond, F.lit(g)) if grain_lbl is None \
            else grain_lbl.when(cond, F.lit(g))
    out_cols = [*key_cols, grain_lbl.alias("grain"),
                bucket.alias("bucket_start")] + \
        [F.col(a) for v in value_cols
         for a in (f"{v}_count", f"{v}_sum", f"{v}_min",
                   f"{v}_max", f"{v}_avg")]
    return grouped.select(*out_cols)


_GRAIN_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _grain_seconds(grain: str) -> int:
    """Validated epoch-anchored bucket width — the ONE definition of
    the bucketing convention shared by seasonal_decompose /
    ohlc_resample / percentile_rollup (pure epoch arithmetic, no
    date_trunc / session-timezone dependence)."""
    if grain not in _GRAIN_SECONDS:
        raise ValueError(
            f"grain must be one of {sorted(_GRAIN_SECONDS)}: {grain}")
    return _GRAIN_SECONDS[grain]


def _bucket_idx(ts_col: str, gsec: int):
    return F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(gsec)) \
        .cast("long")


def _bucket_ts(idx_col: str, gsec: int):
    return F.timestamp_seconds(F.col(idx_col) * F.lit(gsec))


def rollup_transition_pairs(pairs: DataFrame) -> DataFrame:
    """(src, dst) rows -> ``(src, dst, n_transitions, probability)``
    with probabilities row-normalized per ``src`` — the shared rollup
    behind :func:`transition_matrix` and the streaming sink reader
    (``streaming.transitions.transition_counts_from_pairs``). Bounded
    aggregation + a window over the bounded matrix."""
    counts = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n_transitions"))
    row_tot = F.sum("n_transitions").over(Window.partitionBy("src"))
    return counts.select(
        "src", "dst", "n_transitions",
        (F.col("n_transitions").cast("double") / row_tot)
        .alias("probability"),
    )


def seasonal_decompose(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols=(),
    grain: str = "hour",
    period: int = 24,
) -> DataFrame:
    """Classical additive seasonal decomposition of a metric stream:
    bucket the raw events to a ``grain`` series, then split each
    bucket's mean into ``trend + seasonal + residual`` (the
    trend-cycle is a centered (period+1)-point moving average; the
    seasonal index is the per-slot mean of the detrended series,
    normalized to sum to zero across slots — the textbook
    moving-average decomposition, with the even-period 2xMA
    approximated by one equal-weight window).

    Output per (key, bucket): ``key_cols…, bucket, slot, n_obs, y,
    trend, seasonal, residual`` where ``slot = (epoch // grain) %
    period`` (UTC-anchored — deterministic across sessions and
    engines, immune to session-timezone DST rules). ``trend`` (and
    hence ``residual``) is null at the series edges and around gaps —
    the window is RANGE-based on the bucket index, so a missing bucket
    yields an incomplete window which is nulled rather than silently
    averaged over fewer points (fill gaps first — see
    ``core.monitor.missing_periods`` — if edge coverage matters).

    Scale shape: the ONLY pass over raw events is the bucket
    aggregation (partial-agged map-side); every window and join after
    it operates on the bucketed series — bounded by (time span /
    grain) rows per key, e.g. 8,760 rows per key-year at hour grain —
    so the ordered windows are windows over a bounded frame, never
    over raw data (the declared-bounded convention from the plan
    audit). The seasonal-index frames are bounded by ``period`` rows
    per key and broadcast back.
    """
    gsec = _grain_seconds(grain)
    if period < 2:
        raise ValueError(f"period must be >= 2: {period}")
    key_cols = list(key_cols)
    half = period // 2
    width = 2 * half + 1

    # pure epoch arithmetic (no date_trunc / session-timezone string
    # round-trip): floor division IS the truncation, DST-proof
    idx = _bucket_idx(ts_col, gsec)
    # NaN must be dropped with NULL: one NaN bucket mean would poison
    # its trend windows AND (through the zero-sum normalization) every
    # slot's seasonal index — NaN-as-missing, like the sibling ops
    vv = F.col(value_col).cast("double")
    series = (
        df.filter(F.col(ts_col).isNotNull()
                  & F.col(value_col).isNotNull() & ~F.isnan(vv))
        .groupBy(*key_cols, idx.alias("__idx"))
        .agg(F.count(F.lit(1)).alias("n_obs"),
             F.avg(vv).alias("y"))
    )
    # ordered window over the BUCKETED series (bounded input): RANGE
    # on the integer bucket index so calendar gaps shrink the window
    # (and null the trend) instead of stretching it
    w = (Window.partitionBy(*key_cols).orderBy("__idx")
         .rangeBetween(-half, half))
    with_trend = series.select(
        *key_cols, "__idx", "n_obs", "y",
        F.when(F.count(F.lit(1)).over(w) == F.lit(width),
               F.avg("y").over(w)).alias("trend"),
        # pmod, not %: Spark's % follows the dividend sign, so pre-1970
        # timestamps (negative __idx) would get negative slots and split
        # each seasonal index across two slot keys
        F.pmod(F.col("__idx"), F.lit(period)).alias("slot"),
    ).withColumn("__detr", F.col("y") - F.col("trend"))
    # per-slot seasonal index (bounded: period rows per key),
    # normalized so indexes sum to zero across slots
    si = (
        with_trend.filter(F.col("__detr").isNotNull())
        .groupBy(*key_cols, "slot")
        .agg(F.avg("__detr").alias("__s_raw"))
    )
    norm = si.groupBy(*key_cols).agg(F.avg("__s_raw").alias("__s_mean"))
    if key_cols:
        si = si.join(F.broadcast(norm), on=key_cols)
    else:
        si = si.crossJoin(F.broadcast(norm))
    si = si.select(*key_cols, "slot",
                   (F.col("__s_raw") - F.col("__s_mean"))
                   .alias("seasonal"))
    out = with_trend.join(F.broadcast(si), on=[*key_cols, "slot"],
                          how="left")
    bucket = _bucket_ts("__idx", gsec).alias("bucket")
    return out.select(
        *key_cols, bucket, F.col("slot"), "n_obs", "y", "trend",
        "seasonal",
        (F.col("y") - F.col("trend") - F.col("seasonal"))
        .alias("residual"),
    )


def autocorrelation(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols=(),
    grain: str = "hour",
    max_lag: int = 24,
) -> DataFrame:
    """Sample autocorrelation function of a metric stream, plus the
    cumulative Ljung-Box Q statistic — the monitoring companion to
    :func:`seasonal_decompose` (is there structure left at lag k?).

    The raw events are bucketed to an epoch-anchored ``grain`` series
    of bucket MEANS (same convention as the sibling ops), then for
    each lag 1..max_lag the standard biased estimator is computed:

        r_k = sum_t (y_t - mu)(y_{t+k} - mu) / sum_t (y_t - mu)^2

    with mu and the denominator over the WHOLE per-key series
    (statsmodels' default acf). Missing buckets simply contribute no
    pair at the lags they would anchor (n_pairs reports the actual
    count); the Ljung-Box recursion uses the bucket count n in its
    n-k terms, the complete-series convention.

    Scale shape: NO per-key full-series window — the lagged pairs
    come from one equi-join of the bucketed series against itself
    exploded over the lag spine (shuffle volume = buckets x max_lag,
    keyed by (key, bucket) — skew bound is one bucket, not one
    series), and the per-key mean/denominator is a broadcast-joined
    1-row-per-key aggregate. The only window orders the bounded
    (key x max_lag) result for the Q cumulative.

    Returns one row per (key, lag): ``key_cols…, lag, n_pairs, acf,
    qstat`` — acf null for a constant (zero-variance) series, qstat
    the Ljung-Box statistic over lags 1..lag (chi2 dof = lag; feed to
    ``core.drift.chi2_sf`` for p-values).
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1: {max_lag}")
    gsec = _grain_seconds(grain)
    keys = list(key_cols)
    vv = F.col(value_col).cast("double")
    series = (
        df.filter(F.col(ts_col).isNotNull()
                  & F.col(value_col).isNotNull() & ~F.isnan(vv))
        .groupBy(*keys, _bucket_idx(ts_col, gsec).alias("__idx"))
        .agg(F.avg(vv).alias("__y"))
    )
    stats = series.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__y").alias("__mu"),
        (F.sum(F.col("__y") * F.col("__y"))
         - F.count(F.lit(1)) * F.avg("__y") * F.avg("__y"))
        .alias("__denom"))
    if keys:
        centered = series.join(F.broadcast(stats), on=keys)
    else:
        centered = series.crossJoin(F.broadcast(stats))
    centered = centered.withColumn("__d", F.col("__y") - F.col("__mu"))

    # lag spine exploded onto the series: the copy at (key, idx + k)
    # carries d_t tagged with lag k; joining back on the bucket index
    # pairs it with d_{t+k}
    shifted = centered.select(
        *keys, F.col("__d").alias("__d0"),
        F.explode(F.sequence(F.lit(1), F.lit(int(max_lag))))
        .alias("lag"),
        F.col("__idx").alias("__base"),
    ).withColumn("__idx", F.col("__base") + F.col("lag"))
    pairs = centered.select(*keys, "__idx", "__d").join(
        shifted.drop("__base"), on=[*keys, "__idx"])
    per_lag = pairs.groupBy(*keys, "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("__d") * F.col("__d0")).alias("__num"))
    # full per-key lag spine: a gappy series may produce NO pair at an
    # intermediate lag — without its row the cumulative Q would
    # silently skip that lag's term while the documented chi2 dof is
    # still `lag`. Every lag 1..max_lag emits a row (n_pairs 0, acf
    # null, term 0), keeping qstat's dof convention honest.
    spine = stats.select(
        *keys, "__n", "__denom",
        F.explode(F.sequence(F.lit(1), F.lit(int(max_lag))))
        .alias("lag"))
    per_lag = spine.join(per_lag, on=[*keys, "lag"], how="left")
    acf = F.when(F.col("__denom") > 0,
                 F.col("__num") / F.col("__denom"))
    scored = per_lag.select(
        *keys, "lag",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        acf.alias("acf"), F.col("__n"))
    # Ljung-Box cumulative over the bounded (key x max_lag) frame;
    # the partition key keeps the window off the repo-wide
    # partition-less ban (keyless inputs partition on a constant —
    # max_lag rows in that partition, never the data)
    part = [F.col(c) for c in keys] if keys else [F.lit(0)]
    wq = Window.partitionBy(*part).orderBy("lag") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n_d = F.col("__n").cast("double")
    # a gappy series can surface a pair at lag >= bucket count n: the
    # Ljung-Box n-k term is then <= 0 (ANSI DIVIDE_BY_ZERO at n == k,
    # a negative contribution past it) — such lags are outside the
    # statistic's n > h domain and contribute nothing
    term = F.coalesce(
        F.when(n_d > F.col("lag").cast("double"),
               F.col("acf") * F.col("acf")
               / (n_d - F.col("lag").cast("double"))), F.lit(0.0))
    return scored.select(
        *keys, "lag", "n_pairs", "acf",
        (n_d * (n_d + 2) * F.sum(term).over(wq)).alias("qstat"))


def seasonal_naive_backtest(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols=(),
    grain: str = "hour",
    period: int = 24,
) -> DataFrame:
    """Backtest of the seasonal-naive forecast ``y_hat(t) =
    y(t - period)`` over a bucketed metric series — the baseline every
    forecasting effort must beat, and a monitoring primitive in its
    own right (a spike in the seasonal-naive error IS an anomaly
    relative to last week/day).

    Returns one row per key (one row total when keyless):
    ``key_cols…, n_evaluated, mae, rmse, mape, bias`` where the
    errors are over every bucket whose t - period bucket exists
    (gaps simply drop out; ``mape`` averages |err|/|actual| over
    buckets with a non-zero actual, null when there are none;
    ``bias`` is the signed mean error — forecast running hot or
    cold).

    Scale shape: the bucket collapse partial-aggs, the lagged join is
    ONE equi-join on (key, bucket - period) — the same shape as
    :func:`autocorrelation`, no window anywhere.
    """
    if period < 1:
        raise ValueError(f"period must be >= 1: {period}")
    gsec = _grain_seconds(grain)
    keys = list(key_cols)
    vv = F.col(value_col).cast("double")
    series = (
        df.filter(F.col(ts_col).isNotNull()
                  & F.col(value_col).isNotNull() & ~F.isnan(vv))
        .groupBy(*keys, _bucket_idx(ts_col, gsec).alias("__idx"))
        .agg(F.avg(vv).alias("__y"))
    )
    prev = series.select(
        *keys, (F.col("__idx") + F.lit(int(period))).alias("__idx"),
        F.col("__y").alias("__yhat"))
    joined = series.join(prev, on=[*keys, "__idx"])
    err = F.col("__y") - F.col("__yhat")
    n = F.count(F.lit(1))
    mape_terms = F.when(F.col("__y") != 0,
                        F.abs(err) / F.abs(F.col("__y")))
    return joined.groupBy(*keys).agg(
        n.alias("n_evaluated"),
        F.avg(F.abs(err)).alias("mae"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.avg(mape_terms).alias("mape"),
        F.avg(err).alias("bias"),
    )


def cross_correlation(
    df: DataFrame,
    ts_col: str = "ts",
    x_col: str = "value",
    y_col: str = "value2",
    key_cols=(),
    grain: str = "hour",
    max_lag: int = 24,
) -> DataFrame:
    """Lagged cross-correlation between two metric streams: for each
    lag k in ``-max_lag..max_lag``, the Pearson correlation between
    x_t and y_{t+k} over the buckets where both exist (pairwise-
    complete, per-lag moments — the lead/lag detector: a positive
    peak at k > 0 means x LEADS y by k buckets).

    Same scale machinery as :func:`autocorrelation`: epoch-anchored
    bucket means, the y series exploded over the lag spine, ONE
    equi-join on (key, bucket) — shuffle bounded by buckets x
    (2*max_lag+1), skew bound one bucket. Per-lag moments make the
    estimator exact under gaps (each lag's correlation uses exactly
    its surviving pairs), unlike the ACF convention of whole-series
    moments.

    Returns one row per (key, lag): ``key_cols…, lag, n_pairs,
    xcorr`` — null when a lag has < 2 pairs or either side is
    constant across them.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1: {max_lag}")
    gsec = _grain_seconds(grain)
    keys = list(key_cols)
    xv = F.col(x_col).cast("double")
    yv = F.col(y_col).cast("double")
    series = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(*keys, _bucket_idx(ts_col, gsec).alias("__idx"))
        .agg(F.avg(F.when(~F.isnan(xv), xv)).alias("__x"),
             F.avg(F.when(~F.isnan(yv), yv)).alias("__y"))
    )
    xs = series.filter(F.col("__x").isNotNull()) \
        .select(*keys, "__idx", "__x")
    ys = series.filter(F.col("__y").isNotNull()) \
        .select(*keys, "__idx", "__y")
    shifted = ys.select(
        *keys, F.col("__y").alias("__ys"),
        F.explode(F.sequence(F.lit(-int(max_lag)),
                             F.lit(int(max_lag)))).alias("lag"),
        (F.col("__idx") - F.col("lag")).alias("__idx2"),
    ).withColumnRenamed("__idx2", "__join_idx")
    pairs = xs.withColumnRenamed("__idx", "__join_idx").join(
        shifted.drop("__idx"), on=[*keys, "__join_idx"])
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("__x")
    sy = F.sum("__ys")
    sxx = F.sum(F.col("__x") * F.col("__x"))
    syy = F.sum(F.col("__ys") * F.col("__ys"))
    sxy = F.sum(F.col("__x") * F.col("__ys"))
    cov = sxy - sx * sy / n
    vx = sxx - sx * sx / n
    vy = syy - sy * sy / n
    return pairs.groupBy(*keys, "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.when((n > 1) & (vx > 0) & (vy > 0),
               cov / F.sqrt(vx * vy)).alias("xcorr"),
    )


def funnel(
    df: DataFrame,
    steps,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    within: Optional[float] = None,
    step_within: Optional[float] = None,
) -> DataFrame:
    """Ordered funnel conversion: how many users performed step 1,
    then step 2 at-or-after their step-1 time, and so on (the product
    -analytics staple: view -> click -> signup -> purchase).

    Semantics: a user reaches step i+1 iff some step-(i+1) event has
    ``ts >= t_i`` where ``t_i`` is the EARLIEST qualifying time of
    step i (greedy matching; simultaneous timestamps count in step
    order, so a same-instant view+click advances both steps).
    Deterministic — an exact SQL recurrence (``t_{i+1} = min ts of
    step i+1 with ts >= t_i``) reproduces it in any engine.

    Conversion windows (both in SECONDS, both optional, combinable):

    * ``within`` — the whole funnel must complete within this long of
      the user's FIRST step-1 event (the anchor; a later step-1 event
      never re-anchors — deterministic and SQL-replayable, matching
      the min-recurrence with the extra ``ts <= t_1 + within`` term).
    * ``step_within`` — each step must occur within this long of the
      previously matched step (``ts <= t_i + step_within``).

    With windows, matching is exists-a-chain (max-reach), not greedy:
    a user reaches step i+1 iff SOME window-satisfying chain of
    events does.  The fold tracks the LATEST feasible time per level
    (exact: a later candidate only widens the next step's
    ``step_within`` window, and the ``within`` anchor is fixed at the
    first step-1 event so its check is chain-independent) — greedy
    earliest-match would undercount under ``step_within``, e.g.
    A@0, B@1, B@9, C@15 at step_within=10 converts via B@9.  Without
    ``step_within`` the two semantics provably coincide.

    Returns one row per step: ``(step_index, step, n_users,
    conversion_from_first, conversion_from_previous)``.

    Scale shape: non-funnel events are filtered AT THE SCAN (predicate
    pushdown on ``event_col``); each user's surviving events fold in
    ONE hash aggregation — ``array_sort(collect_list(...))`` holds
    only that user's FUNNEL events (bounded by per-user activity, the
    same bound sessionization carries) and the greedy matcher is a
    codegen'd ``aggregate`` HOF, not Python; the per-step counts
    collapse in a second 1-row aggregation. No window over raw events,
    no per-step job.
    """
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("need at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError("duplicate steps")
    if within is not None and within < 0:
        raise ValueError(f"within must be >= 0: {within}")
    if step_within is not None and step_within < 0:
        raise ValueError(f"step_within must be >= 0: {step_within}")
    idx = F.lit(None).cast("int")
    for i, s in enumerate(reversed(steps)):
        i = len(steps) - 1 - i
        idx = F.when(F.col(event_col) == F.lit(s), F.lit(i)).otherwise(idx)
    ev = (
        df.filter(F.col(event_col).isin(steps)
                  & F.col(ts_col).isNotNull()
                  & F.col(user_col).isNotNull())
        .select(F.col(user_col).alias("__u"),
                F.struct(
                    F.col(ts_col).alias("t"),
                    idx.alias("i"),
                    # microsecond-exact epoch seconds for the window
                    # checks (TIMESTAMP_NTZ cannot cast to double
                    # directly; via LTZ under the session timezone —
                    # only differences are consumed)
                    F.col(ts_col).cast("timestamp").cast("double")
                    .alias("td")).alias("__e"))
    )
    sorted_ev = F.array_sort(F.collect_list("__e"))
    if within is None and step_within is None:
        # greedy in-order matcher: fold the (ts, step)-sorted events,
        # advancing when the next event IS the awaited step
        reached = F.aggregate(
            sorted_ev,
            F.lit(0),
            lambda acc, e: F.when(e["i"] == acc, acc + F.lit(1))
            .otherwise(acc),
        )
    else:
        # windowed exists-a-chain fold: state = (anchor epoch-secs,
        # T[j] = latest event time of step j reachable via a
        # window-satisfying chain).  Events arrive time-sorted, so a
        # feasible event is always the new latest for its level, and
        # T never has gaps (setting T[j] requires T[j-1]).  Reach =
        # count of set levels.  Microsecond-exact double seconds.
        n_steps = len(steps)

        def fold(acc, e):
            td = e["td"]
            t0n = F.when(acc["t0"].isNull() & (e["i"] == 0), td) \
                .otherwise(acc["t0"])
            # element_at is 1-based: index e.i reads level e.i - 1.
            # The greatest() guard keeps the (unused) i == 0 branch
            # from reading forbidden index 0.
            prev_t = F.element_at(
                acc["T"], F.greatest(e["i"], F.lit(1)))
            feas = prev_t.isNotNull()
            if step_within is not None:
                feas = feas & (td - prev_t
                               <= F.lit(float(step_within)))
            if within is not None:
                feas = feas & (td - t0n <= F.lit(float(within)))
            feas = F.when(e["i"] == 0, F.lit(True)).otherwise(feas)
            newT = F.transform(
                acc["T"],
                lambda x, j: F.when((j == e["i"]) & feas, td)
                .otherwise(x))
            return F.struct(t0n.alias("t0"), newT.alias("T"))

        init = F.struct(
            F.lit(None).cast("double").alias("t0"),
            F.array(*[F.lit(None).cast("double")
                      for _ in range(n_steps)]).alias("T"))
        reached = F.aggregate(
            sorted_ev,
            init,
            fold,
            lambda acc: F.size(
                F.filter(acc["T"], lambda x: x.isNotNull())),
        )
    per_user = ev.groupBy("__u").agg(reached.alias("__r"))
    aggs = [F.sum((F.col("__r") >= i + 1).cast("long"))
            .alias(f"__n_{i}") for i in range(len(steps))]
    row = per_user.agg(*aggs)
    structs = [
        F.struct(
            F.lit(i + 1).alias("step_index"),
            F.lit(s).alias("step"),
            F.coalesce(F.col(f"__n_{i}"), F.lit(0)).alias("n_users"),
        )
        for i, s in enumerate(steps)
    ]
    out = (row.select(F.explode(F.array(*structs)).alias("p"))
           .select("p.step_index", "p.step", "p.n_users"))
    first = F.first("n_users")
    prev = F.lag("n_users")
    from pyspark.sql import Window as _W

    # the funnel frame is len(steps) rows — a bounded window
    w = _W.partitionBy(F.lit(0)).orderBy("step_index")
    return out.select(
        "step_index", "step", "n_users",
        F.when(first.over(w.rowsBetween(_W.unboundedPreceding, 0)) > 0,
               F.col("n_users").cast("double")
               / first.over(w.rowsBetween(_W.unboundedPreceding, 0)))
        .alias("conversion_from_first"),
        F.when(prev.over(w) > 0,
               F.col("n_users").cast("double") / prev.over(w))
        .alias("conversion_from_previous"),
    )


_PERIOD_SECONDS = {"day": 86400, "week": 7 * 86400, "hour": 3600}


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    grain: str = "week",
    max_offset: Optional[int] = None,
) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity
    period; for each later period offset, the fraction still active.

    Periods are epoch-anchored fixed-width buckets (``floor(epoch /
    period)`` — UTC-anchored and engine-reproducible, not calendar
    weeks). Returns ``(cohort, offset, n_active, cohort_size,
    retention)`` with ``offset`` in periods (0 = the cohort period
    itself, retention 1.0 by construction) — one row per (cohort,
    offset) that had any activity; ``max_offset`` truncates the tail.

    Scale shape: distinct (user, period) partial-aggregates map-side
    (a user's million events in one period collapse per task); the
    per-user first period is one more keyed aggregation; both sides
    shuffle on the user key ONCE for the join; the matrix itself is a
    bounded (cohorts x offsets) aggregation and cohort sizes ride a
    broadcast join back. Nothing user-count-sized is collected.
    """
    if grain not in _PERIOD_SECONDS:
        raise ValueError(
            f"grain must be one of {sorted(_PERIOD_SECONDS)}: {grain}")
    psec = _PERIOD_SECONDS[grain]
    period = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(psec)) \
        .cast("long")
    act = (
        df.filter(F.col(ts_col).isNotNull()
                  & F.col(user_col).isNotNull())
        .select(F.col(user_col).alias("__u"), period.alias("__p"))
        .distinct()
    )
    first = act.groupBy("__u").agg(F.min("__p").alias("__c"))
    j = act.join(first, on="__u")
    j = j.withColumn("__off", (F.col("__p") - F.col("__c")).cast("int"))
    if max_offset is not None:
        j = j.filter(F.col("__off") <= int(max_offset))
    matrix = j.groupBy("__c", "__off").agg(
        F.count(F.lit(1)).alias("n_active"))
    sizes = matrix.filter(F.col("__off") == 0).select(
        F.col("__c"), F.col("n_active").alias("cohort_size"))
    return (
        matrix.join(F.broadcast(sizes), on="__c")
        .select(
            F.timestamp_seconds(F.col("__c") * F.lit(psec))
            .alias("cohort"),
            F.col("__off").alias("offset"),
            "n_active", "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size"))
            .alias("retention"),
        )
    )


def transition_matrix(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    hot_user_buckets: Optional[str] = None,
) -> DataFrame:
    """First-order Markov transition counts/probabilities between
    consecutive events of the same user: ``(src, dst, n_transitions,
    probability)`` with probabilities row-normalized per ``src``.

    Consecutive = adjacent in the user's (ts, event) ordering; exact
    timestamp ties order by event name, so the count matrix is
    deterministic even under ties (two identical rows swap without
    changing the event sequence). Null users/timestamps are excluded.

    Scale shape: ONE window pass partitioned by user (per-user
    ordering, the sessionization bound), then a hash aggregation to
    the (src, dst) matrix — partial-agged, bounded by distinct-event
    -types squared — and row normalization as a window over that
    bounded matrix.

    Hot-user hazard (the ``sessionize`` pattern): the default plan
    sorts each user's full history in one task. ``hot_user_buckets``
    (an interval, e.g. ``"1 day"``) switches to the two-phase plan —
    pair WITHIN (user, time-bucket) windows, then bridge each bucket
    boundary with ONE extra pair (previous bucket's last event ->
    this bucket's first event) from a per-(user, bucket) summary
    whose first/last ride min/max (ts, event) struct aggregates.
    Exactly the single-phase counts; a bot's rows spread across
    buckets. Default policy (measured, bench ``transitions_hot10x_*``
    rows): with one bot owning 500k of 1M events (sf0.1, 32 cores)
    single-phase ran 2.2 s vs bucketed 2.8 s (task-seconds 28 vs 48 —
    the extra windows + summary rollup cost ~1.7x), so single-phase
    stays the default; switch on ``hot_user_buckets`` when one user's
    events approach ~10^7 rows or a task's memory.
    """
    clean = df.filter(F.col(ts_col).isNotNull()
                      & F.col(user_col).isNotNull()
                      & F.col(event_col).isNotNull())
    if hot_user_buckets is None:
        w = Window.partitionBy(user_col).orderBy(
            F.col(ts_col).asc(), F.col(event_col).asc())
        src = (
            clean.select(F.col(event_col).alias("src"),
                         F.lead(event_col).over(w).alias("dst"))
            .filter(F.col("dst").isNotNull())
        )
        return rollup_transition_pairs(src)

    from whylogs_spark.ops._time import epoch_secs, interval_seconds

    bsec = interval_seconds(hot_user_buckets, "hot_user_buckets")
    # monotonic bucket ids via the shared epoch helper — the same
    # NTZ/DST and numeric-ts hazards sessionize/asof close with it
    # (unix_timestamp is session-tz-dependent for NTZ and NULL for
    # numeric ts, which would silently disable the skew mitigation)
    secs = epoch_secs(ts_col, dict(clean.dtypes)[ts_col])
    b = clean.withColumn(
        "__tb", F.floor(secs / F.lit(bsec)).cast("long"))
    wb = Window.partitionBy(user_col, "__tb").orderBy(
        F.col(ts_col).asc(), F.col(event_col).asc())
    inside = (
        b.select(F.col(event_col).alias("src"),
                 F.lead(event_col).over(wb).alias("dst"))
        .filter(F.col("dst").isNotNull())
    )
    # one summary row per (user, bucket): first/last event by the
    # SAME (ts, event) order, via commutative struct extremes — the
    # bot's raw rows never funnel into one task
    pick = F.struct(F.col(ts_col).alias("t"),
                    F.col(event_col).alias("e"))
    summ = b.groupBy(user_col, "__tb").agg(
        F.min(pick).alias("__first"), F.max(pick).alias("__last"))
    wu = Window.partitionBy(user_col).orderBy(F.col("__tb").asc())
    bridges = (
        summ.select(
            F.lag(F.col("__last.e")).over(wu).alias("src"),
            F.col("__first.e").alias("dst"))
        .filter(F.col("src").isNotNull())
    )
    return rollup_transition_pairs(inside.unionByName(bridges))


def ohlc_resample(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols=(),
    grain: str = "hour",
    tiebreak_cols=(),
) -> DataFrame:
    """OHLC resampling: per (key, bucket) the Opening value (at the
    earliest event), High, Low, Close (at the latest event), count and
    mean — the candlestick view of any metric stream, and the compact
    input for change detection over noisy series.

    Buckets are epoch-anchored (``floor(epoch / grain)`` — the
    :func:`seasonal_decompose` convention). Open/Close are selected by
    (ts, tiebreak_cols…, value) struct ordering, so exact-timestamp
    ties resolve deterministically (pass an event-id column in
    ``tiebreak_cols`` to make the tiebreak explicit). Null timestamps
    and null/NaN values are excluded.

    Scale shape: ONE partial-aggregated pass — min/max of (ts, …,
    value) structs are commutative aggregates, so each map task
    collapses its slice of a bucket first. Struct extremes make Spark
    pick SORT-based aggregation (structs aren't hash-aggregable); the
    sorts are partition-local by group key, never global — asserted in
    the plan audit. No window, no second pass.
    """
    gsec = _grain_seconds(grain)
    key_cols = list(key_cols)
    tiebreak_cols = list(tiebreak_cols)
    v = F.col(value_col).cast("double")
    src = df.filter(F.col(ts_col).isNotNull() & v.isNotNull()
                    & ~F.isnan(v))
    idx = _bucket_idx(ts_col, gsec)
    pick = F.struct(F.col(ts_col).alias("t"),
                    *[F.col(c).alias(f"k{i}")
                      for i, c in enumerate(tiebreak_cols)],
                    v.alias("v"))
    agg = src.groupBy(*key_cols, idx.alias("__idx")).agg(
        F.min(pick).alias("__first"),
        F.max(pick).alias("__last"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.count(F.lit(1)).alias("n"),
        F.avg(v).alias("mean"),
    )
    return agg.select(
        *key_cols,
        _bucket_ts("__idx", gsec).alias("bucket"),
        F.col("__first.v").alias("open"),
        "high", "low",
        F.col("__last.v").alias("close"),
        "n", "mean",
    )


def percentile_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    grain: str = "hour",
    qs=(0.5, 0.95, 0.99),
    key_cols=(),
) -> DataFrame:
    """Exact latency-style percentile bands per time bucket: one row
    per (key, bucket) with a ``q_<p>`` column per requested quantile —
    the P50/P95/P99 dashboard series, computed EXACTLY (order
    statistics, lower interpolation), not from a sketch.

    Buckets are epoch-anchored (the ``seasonal_decompose`` /
    ``ohlc_resample`` convention). Null timestamps and null/NaN values
    are excluded.

    Scale shape: rides ``core.summaries.exact_quantiles``'s GROUPED
    two-phase walk keyed by (key, bucket) — values collapse map-side
    per group, every window carries a partition key, and the rollup
    frame stays bounded at groups x slices rows. One pass, no global
    sort, no sketch error.
    """
    from whylogs_spark.core.summaries import exact_quantiles

    gsec = _grain_seconds(grain)
    key_cols = list(key_cols)
    v = F.col(value_col).cast("double")
    idx = _bucket_idx(ts_col, gsec)
    src = (df.filter(F.col(ts_col).isNotNull() & v.isNotNull()
                     & ~F.isnan(v))
           .select(*key_cols, idx.alias("__idx"), v.alias("__v")))
    out = exact_quantiles(src, "__v", list(qs),
                          group_cols=[*key_cols, "__idx"])
    return out.select(
        *key_cols,
        _bucket_ts("__idx", gsec).alias("bucket"),
        *[F.col(f"q_{str(q).replace('.', '_')}") for q in qs],
    )


def frequent_sequences(
    df: DataFrame,
    n: int = 3,
    k: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
) -> DataFrame:
    """Top-k most frequent length-``n`` event paths (contiguous
    subsequences of a user's (ts, event)-ordered stream): ``(sequence
    array, n_occurrences, n_users)`` — the path-mining view behind
    "what do users do right before purchasing".

    Occurrences may overlap (a sliding window, the standard n-gram
    count); ``n_users`` counts DISTINCT users exhibiting the path.
    Exact-timestamp ties order by event name — the
    ``transition_matrix`` convention, so length-2 sequences agree
    with its counts.

    Scale shape: ONE window pass per user emits the n-grams ((n-1)
    ``lead`` calls over the SAME window spec — Spark plans one Window
    operator, not n); the rollup's FINAL output is bounded by distinct
    observed paths (<= event_types^n), but the distinct-users count
    makes Spark's two-stage distinct rewrite key its partial state by
    (sequence, user) — bounded by distinct (path, user) PAIRS, which
    for a high-cardinality user space approaches row count (the honest
    cost of an exact n_users; drop the column or pre-aggregate if that
    matters); top-k rides TakeOrderedAndProject. The per-user sort
    carries the sessionization hot-user bound.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2: {n}")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(event_col).asc())
    steps = [F.col(event_col)] + [
        F.lead(event_col, i).over(w) for i in range(1, n)]
    grams = (
        df.filter(F.col(ts_col).isNotNull()
                  & F.col(user_col).isNotNull()
                  & F.col(event_col).isNotNull())
        .select(F.col(user_col).alias("__u"),
                F.array(*steps).alias("sequence"))
        .filter(~F.exists("sequence", lambda x: x.isNull()))
    )
    return (
        grams.groupBy("sequence")
        .agg(F.count(F.lit(1)).alias("n_occurrences"),
             F.countDistinct("__u").alias("n_users"))
        .orderBy(F.desc("n_occurrences"), F.desc("n_users"),
                 F.col("sequence").cast("string"))
        .limit(k)
    )


def time_weighted_average(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Time-weighted average of a sampled signal per group, one row
    per group: ``(group…, n, t_start, t_end, duration_s, twa,
    simple_mean)``.

    ``twa = Σ v_i·(t_{i+1} − t_i) / (t_n − t_1)`` — each observation
    holds until the next one (step interpolation, the TWAP/metering
    convention), so irregular sampling can't bias the average the way
    ``simple_mean`` is biased toward burst periods.  The last
    observation carries no duration; groups with < 2 distinct
    timestamps get a null ``twa``.  Duplicate timestamps average
    first (one value per instant), null values/times drop.

    Scale shape: collapse to (group, t) grain, ONE lead() window per
    group (each partition holds one group's series — use group_cols
    at scale), one partial-agged reduce.
    """
    from whylogs_spark.ops.features import _epoch_seconds

    groups = list(group_cols)
    t = _epoch_seconds(df, time_col)
    v = F.col(value_col).cast("double")
    base = df.filter(
        t.isNotNull() & v.isNotNull() & ~F.isnan(v)
    ).select(*groups, t.alias("__t"), v.alias("__v"))
    g = base.groupBy(*groups, "__t").agg(F.avg("__v").alias("__v"))
    w = Window.partitionBy(*groups).orderBy("__t")
    stepped = g.withColumn("__dt", F.lead("__t").over(w) - F.col("__t"))
    rep = stepped.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__t").alias("t_start"),
        F.max("__t").alias("t_end"),
        F.sum(F.col("__v") * F.col("__dt")).alias("__area"),
        F.avg("__v").alias("simple_mean"))
    dur = F.col("t_end") - F.col("t_start")
    return rep.select(
        *groups, "n", "t_start", "t_end",
        dur.alias("duration_s"),
        F.when(dur > 0, F.col("__area") / dur).alias("twa"),
        "simple_mean")


def attribution_report(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    channel_col: str,
    conversion_col: str,
    model: str = "last_touch",
    lookback_sec: Optional[float] = None,
) -> DataFrame:
    """Multi-touch marketing attribution: distribute conversion
    credit over the preceding touchpoint channels.  One row per
    channel (plus an ``(unattributed)`` row for conversions with no
    prior touch): ``(channel, credited_conversions, n_touches,
    share)``.

    ``conversion_col`` is a boolean column marking conversion rows;
    every non-conversion row with a non-null ``channel_col`` is a
    touchpoint.  Models:

    * ``last_touch`` / ``first_touch`` — full credit to the last /
      first touch before the conversion;
    * ``linear`` — 1/k to each of the k touches;
    * ``position`` — the U-shape: 40% first, 40% last, the middle
      20% split evenly (k=1 → 1.0; k=2 → 0.5/0.5).

    ``lookback_sec`` bounds how far back a touch can claim credit.
    Deterministic: same-timestamp touches order by (ts, channel), so
    first/last are total-order well-defined and the whole report is
    replayable in ANSI SQL (the DuckDB gate oracle does).

    Scale shape: ONE per-user equi-join of touches to conversions
    (the only data-sized shuffle — both sides key by user), then
    windows PARTITIONED BY the conversion (user, conversion-ts) for
    rank/count, then a channel-bounded aggregation.  Per-user cost
    is touches x conversions for that user — clickstream grain, the
    :func:`sessionize` skew caveat applies (cap bot users upstream);
    ``lookback_sec`` is also the scale lever, turning the per-user
    quadratic into touches-per-window.
    """
    models = ("last_touch", "first_touch", "linear", "position")
    if model not in models:
        raise ValueError(f"model must be one of {models}: {model!r}")
    u = F.col(user_col)
    ts = F.col(ts_col).cast("timestamp").cast("double")
    isc = F.col(conversion_col).cast("boolean")
    ch = F.col(channel_col).cast("string")
    conv = (df.filter(u.isNotNull() & ts.isNotNull()
                      & isc.eqNullSafe(F.lit(True)))
            .groupBy(u.alias("__u"), ts.alias("__cts"))
            .agg(F.count(F.lit(1)).cast("double").alias("__m")))
    touch = (df.filter(u.isNotNull() & ts.isNotNull()
                       & ~isc.eqNullSafe(F.lit(True))
                       & ch.isNotNull())
             .select(u.alias("__u"), ts.alias("__tts"),
                     ch.alias("__ch")))
    cond = F.col("__tts") < F.col("__cts")
    if lookback_sec is not None:
        cond = cond & (F.col("__cts") - F.col("__tts")
                       <= F.lit(float(lookback_sec)))
    joined = touch.join(conv, on=["__u"]).filter(cond)
    w = Window.partitionBy("__u", "__cts")
    w_ord = w.orderBy(F.col("__tts").asc(), F.col("__ch").asc())
    ranked = joined.select(
        "__u", "__cts", "__m", "__ch",
        F.row_number().over(w_ord).alias("__r"),
        F.count(F.lit(1)).over(w).alias("__k"))
    k = F.col("__k").cast("double")
    r = F.col("__r")
    if model == "last_touch":
        credit = F.when(r == F.col("__k"), F.lit(1.0)).otherwise(0.0)
    elif model == "first_touch":
        credit = F.when(r == 1, F.lit(1.0)).otherwise(0.0)
    elif model == "linear":
        credit = F.lit(1.0) / k
    else:  # position (U-shape)
        credit = (
            F.when(k == 1, F.lit(1.0))
            .when(k == 2, F.lit(0.5))
            .otherwise(
                F.when((r == 1) | (r == F.col("__k")), F.lit(0.4))
                .otherwise(F.lit(0.2) / (k - 2.0))))
    per_channel = ranked.groupBy("__ch").agg(
        F.sum(credit * F.col("__m")).alias("credited_conversions"),
        F.count(F.lit(1)).cast("long").alias("n_touches"))
    # conversions with no touch in window -> "(unattributed)"
    attributed = ranked.filter(F.col("__r") == 1).groupBy().agg(
        F.coalesce(F.sum("__m"), F.lit(0.0)).alias("__attr"))
    total = conv.agg(
        F.coalesce(F.sum("__m"), F.lit(0.0)).alias("__tot"))
    un = (total.crossJoin(F.broadcast(attributed))
          .select(F.lit("(unattributed)").alias("__ch"),
                  (F.col("__tot") - F.col("__attr"))
                  .alias("credited_conversions"),
                  F.lit(0).cast("long").alias("n_touches")))
    out = per_channel.unionByName(un)
    share = F.try_divide(
        F.col("credited_conversions"),
        F.sum("credited_conversions").over(Window.partitionBy()))
    return out.select(
        F.col("__ch").alias("channel"),
        "credited_conversions", "n_touches",
        share.alias("share"))


def markov_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    channel_col: str,
    conversion_col: str,
    max_channels: int = 200,
) -> DataFrame:
    """Data-driven (Markov removal-effect) attribution — the
    model-based alternative to the heuristic credit rules of
    :func:`attribution_report` (Anderl et al. 2014): build the
    first-order channel transition graph with absorbing CONV / NULL
    states, and credit each channel by its REMOVAL EFFECT — how much
    the total conversion probability drops when the channel is
    deleted from the graph (its transitions redirected to NULL).
    One row per channel: ``(channel, removal_effect,
    attribution_share, credited_conversions)``.

    Path construction: each user's events order by (ts, channel);
    the path starts at START, walks the touch channels, and ends at
    CONV (the user's first conversion event) or NULL (no conversion).
    Touches after the first conversion are ignored (one journey per
    user — the standard simplification).

    Scale shape: ONE per-user window pass builds consecutive
    transition pairs (the :func:`sessionize` partitioning), ONE
    partial-agged groupBy collapses them to the (from, to) count
    table — bounded by (channels + 3)², guarded by ``max_channels``
    — and every absorbing-chain solve runs driver-side with numpy on
    that bounded matrix (one (I - Q) solve per channel + 1 baseline).
    The data is touched exactly once.
    """
    import numpy as np
    from pyspark.sql import types as T

    u = F.col(user_col)
    ts = F.col(ts_col).cast("timestamp").cast("double")
    isc = F.col(conversion_col).cast("boolean")
    ch = F.col(channel_col).cast("string")
    base = (df.filter(u.isNotNull() & ts.isNotNull()
                      & (isc.eqNullSafe(F.lit(True))
                         | ch.isNotNull()))
            .select(u.alias("__u"), ts.alias("__ts"),
                    F.when(isc.eqNullSafe(F.lit(True)),
                           F.lit("__CONV__")).otherwise(ch)
                    .alias("__s")))
    w = Window.partitionBy("__u").orderBy(
        F.col("__ts").asc(), F.col("__s").asc())
    # keep everything up to and including the FIRST conversion
    marked = base.select(
        "__u", "__ts", "__s",
        F.sum((F.col("__s") == "__CONV__").cast("int"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("__prior_conv"))
    path = marked.filter(F.coalesce(F.col("__prior_conv"),
                                    F.lit(0)) == 0)
    w2 = Window.partitionBy("__u").orderBy(
        F.col("__ts").asc(), F.col("__s").asc())
    steps = path.select(
        "__u", "__s",
        F.lag("__s").over(w2).alias("__prev"),
        F.lead("__s").over(w2).alias("__next"))
    frm = F.coalesce(F.col("__prev"), F.lit("__START__"))
    # terminal touch (no successor, not a conversion) -> NULL edge
    edges = steps.select(
        frm.alias("__from"), F.col("__s").alias("__to")
    ).unionByName(
        steps.filter(F.col("__next").isNull()
                     & (F.col("__s") != "__CONV__"))
        .select(F.col("__s").alias("__from"),
                F.lit("__NULL__").alias("__to")))
    counts = edges.groupBy("__from", "__to").agg(
        F.count(F.lit(1)).cast("double").alias("__n")).collect()

    states = sorted({r["__from"] for r in counts}
                    | {r["__to"] for r in counts})
    channels = [s for s in states
                if s not in ("__START__", "__CONV__", "__NULL__")]
    if len(channels) > max_channels:
        raise ValueError(
            f"{len(channels)} channels > max_channels="
            f"{max_channels}: the transition matrix must stay "
            "bounded — collapse channels first")
    if "__START__" not in states:
        raise ValueError("markov_attribution: no paths found")
    trans = {}
    outsum = {}
    for r in counts:
        trans[(r["__from"], r["__to"])] = r["__n"]
        outsum[r["__from"]] = outsum.get(r["__from"], 0.0) + r["__n"]

    def conv_prob(removed=None):
        live = ["__START__"] + [c for c in channels if c != removed]
        idx = {s: i for i, s in enumerate(live)}
        k = len(live)
        q = np.zeros((k, k))
        r_vec = np.zeros(k)
        for s in live:
            tot = outsum.get(s, 0.0)
            if tot <= 0:
                continue
            for (a, b), n in trans.items():
                if a != s:
                    continue
                p = n / tot
                if b == "__CONV__":
                    r_vec[idx[s]] += p
                elif b in idx:   # removed channel edges fall to NULL
                    q[idx[s], idx[b]] += p
        x = np.linalg.solve(np.eye(k) - q, r_vec)
        return float(x[idx["__START__"]])

    base_p = conv_prob(None)
    removal = {c: max(base_p - conv_prob(c), 0.0) for c in channels}
    tot_re = sum(removal.values())
    n_conv = sum(n for (a, b), n in trans.items() if b == "__CONV__")
    rows = []
    for c in sorted(channels):
        share = removal[c] / tot_re if tot_re > 0 else None
        rows.append((c, float(removal[c]),
                     float(share) if share is not None else None,
                     float(share * n_conv) if share is not None
                     else None))
    schema = T.StructType([
        T.StructField("channel", T.StringType()),
        T.StructField("removal_effect", T.DoubleType()),
        T.StructField("attribution_share", T.DoubleType()),
        T.StructField("credited_conversions", T.DoubleType()),
    ])
    return df.sparkSession.createDataFrame(rows, schema)


def interarrival_stats(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str = "ts",
    group_cols: Optional[Sequence[str]] = None,
    qs: Sequence[float] = (0.5, 0.9),
) -> DataFrame:
    """Inter-arrival-time report: the distribution of gaps (seconds)
    between CONSECUTIVE events of each entity, rolled up per group —
    the standard burstiness / cadence diagnostic for behavioral
    streams (bot detection, retention heartbeat, queue health).  One
    row per group: ``(<group_cols...>, n_gaps, mean_gap_s,
    q_<quantile>..., max_gap_s, cv_gap, burstiness)``.

    * a gap is the seconds between consecutive ``ts_col`` values
      within one entity; equal timestamps contribute zero-gaps (the
      gap MULTISET is order-independent under ties, so the result is
      deterministic without a tie-break column)
    * quantiles are EXACT lower-interpolation order statistics
      (rides ``core.summaries.exact_quantiles``)
    * ``cv_gap`` = sample-sd / mean (null when ``n_gaps < 2`` or
      mean = 0); ``burstiness`` = (sd - mean)/(sd + mean)
      (Goh & Barabasi 2008): -1 periodic, 0 Poisson, toward +1 bursty

    ``group_cols`` must be a subset of ``entity_cols`` (a gap belongs
    to exactly one entity, so its group key must be constant within
    the entity); empty = one global row.  Null timestamps / entity
    keys drop.

    Scale shape: ONE window pass keyed by the entity columns
    (partitioned lag — never a global sort), materialized once
    (``core.util.materialize``) and consumed by two bounded reductions —
    the moment rollup (one exchange down to <= groups rows, variance
    from explicit sum/sumsq so the DuckDB oracle replays the exact
    same IEEE ops) and the exact-quantile walk (the house grouped
    two-phase prefix sum) — joined back by broadcast on the group
    key.  Without the checkpoint the two consumers would each re-run
    the window lineage (the known branch-reruns-lineage hazard).
    """
    from whylogs_spark.core.summaries import exact_quantiles

    entity = list(entity_cols)
    groups = list(group_cols or [])
    if not entity:
        raise ValueError("entity_cols must be non-empty")
    bad = [c for c in groups if c not in entity]
    if bad:
        raise ValueError(
            f"group_cols must be a subset of entity_cols; not: {bad}")
    t = F.col(ts_col)
    cond = t.isNotNull()
    for c in entity:
        cond = cond & F.col(c).isNotNull()
    base = df.filter(cond)
    w = (Window.partitionBy(*[F.col(c) for c in entity])
         .orderBy(t.asc()))
    # NTZ-tolerant: unix_micros wants TIMESTAMP; the cast is harmless
    # for gaps (any session-timezone shift cancels in the difference)
    us = F.unix_micros(t.cast("timestamp"))
    gap = (us - F.lag(us).over(w)).cast("double") / F.lit(1000000.0)
    from whylogs_spark.core.util import materialize
    gaps = materialize(base.select(*groups, gap.alias("__gap"))
                       .filter(F.col("__gap").isNotNull()))

    gb = gaps.groupBy(*groups) if groups else gaps.groupBy()
    m = gb.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("__gap").alias("__s"),
        F.sum(F.col("__gap") * F.col("__gap")).alias("__ss"),
        F.max("__gap").alias("max_gap_s"))
    q = exact_quantiles(gaps, "__gap", list(qs),
                        group_cols=groups or None)
    if groups:
        joined = m.join(F.broadcast(q), groups)
    else:
        joined = m.crossJoin(F.broadcast(q))

    nn = F.col("n_gaps").cast("double")
    two = F.col("n_gaps") >= 2
    mean = F.col("__s") / nn
    sd = F.when(two, F.sqrt(F.greatest(
        (F.col("__ss") - F.col("__s") * F.col("__s") / nn)
        / (nn - F.lit(1.0)), F.lit(0.0))))
    cv = F.when(two & (mean > 0), sd / mean)
    burst = F.when(two & (sd + mean > 0), (sd - mean) / (sd + mean))
    qcols = [f"q_{str(qv).replace('.', '_')}" for qv in qs]
    return joined.select(
        *groups, "n_gaps", mean.alias("mean_gap_s"),
        *[F.col(c) for c in qcols],
        "max_gap_s", cv.alias("cv_gap"), burst.alias("burstiness"))
