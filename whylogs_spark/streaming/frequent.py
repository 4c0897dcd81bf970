"""Streaming frequent items: live top-k value monitoring.

The batch ``frequent_items`` metric (Spark's ``approx_top_k_accumulate``,
reference analog ``core/metrics/metrics.py`` FrequentItemsMetric)
answers "what are the most common values" over a finished table; a
streaming ingest pipeline wants the same answer per event-time window
while rows arrive. Split the work the way the calibration monitor does
(streaming/model_monitor.py): the STREAM carries one watermarked
stateful aggregation producing per-(window, value) sufficient counts —
the only shape Structured Streaming aggregates natively — and the
top-k rank runs as a tiny batch rollup on the sink side.

State bound: distinct values per open window (the same class of bound
as ``streaming_exact_dedup``'s fingerprint store — watermark eviction
keeps it to the horizon, and ``truncate`` caps per-entry size). For
genuinely unbounded-cardinality columns (user ids, URLs) exact
counting is the wrong tool at 100 TB — use
``streaming_heavy_hitters`` below: the batch metric's frequent-items
sketch as the per-window state of the same kind of native windowed
aggregate, ``slots`` items regardless of cardinality, with the
sketch's error bound carried in the output. Neither operator runs
Python in the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.planner import fi_offset, fi_top
from ._util import duration_ms, watermarked


def streaming_value_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
    truncate: int = 128,
) -> DataFrame:
    """Per (event-time window, value) counts of a column on a stream.

    Nulls are excluded (the counts metric tracks them separately);
    values cast to string and truncate to ``truncate`` chars so a
    pathological document-sized value cannot bloat the state store.

    Plan shape (audited with the other streaming sections): watermark
    -> partial agg -> ONE exchange on the state key -> stateful final
    agg; no Python anywhere.
    """
    if truncate < 1:
        raise ValueError("truncate must be >= 1")
    v = F.substring(F.col(value_col).cast("string"), 1, truncate)
    src = watermarked(stream_df, ts_col, watermark).filter(
        F.col(value_col).isNotNull())
    out = (
        src.groupBy(F.window(F.col(ts_col), window_duration),
                    v.alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "value", "n")


def frequent_from_counts(counts_df: DataFrame, k: int = 32) -> DataFrame:
    """Top-``k`` values per window from the per-(window, value) counts
    — run on the SINK (a plain batch frame), not the stream. Ties
    break by value ascending, so ranks are deterministic. Adds
    ``rank`` and ``frac`` (share of the window's counted rows).

    Robust to update-mode append sinks: a (window, value) key
    re-emitted across microbatches appears once per emission with its
    CUMULATIVE count, so the rollup first keeps ``max(n)`` per key —
    the latest emission — instead of ranking (and denominating) the
    stale partials. A complete-mode or last-wins sink passes through
    unchanged."""
    if k < 1:
        raise ValueError("k must be >= 1")
    latest = counts_df.groupBy(
        "window_start", "window_end", "value").agg(F.max("n").alias("n"))
    w = Window.partitionBy("window_start", "window_end")
    ranked = latest.withColumn(
        "rank",
        F.row_number().over(
            w.orderBy(F.col("n").desc(), F.col("value").asc()))
    ).withColumn("frac", F.col("n") / F.sum("n").over(w))
    return ranked.filter(F.col("rank") <= k)


def streaming_heavy_hitters(
    stream_df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
    slots: int = 128,
    truncate: int = 128,
):
    """Heavy hitters per event-time window with BOUNDED state on
    unbounded-cardinality columns — the scale path
    ``streaming_value_counts`` documents itself as not being.

    Per window the state is the SAME frequent-items sketch a batch
    profile's ``frequent_items`` metric builds: Spark's
    ``approx_top_k_accumulate`` tracking ``slots`` items (Apache
    DataSketches frequent items). Its offset is the undercount any
    stored count may carry, so with ``est_count`` the sketch's lower
    bound (estimate minus offset) and ``max_undercount`` the offset
    (estimate = upper bound = ``est_count + max_undercount``), every
    emitted row obeys ``true_count ∈ [est_count, est_count +
    max_undercount]``. Only the items the sketch can certify are
    listed (no false positives), as for a profile's ``items``.
    ``n_rows`` counts the NON-NULL values the sketch saw (nulls are
    excluded, same as ``streaming_value_counts``).

    When the watermark passes the window end, the window's items emit
    once (append mode) as ``(window_start, window_end, value,
    est_count, max_undercount, n_rows, rank)``, ranked by estimate,
    then value, and the state is removed. State per open window is one
    sketch of ``slots`` items, independent of the column's cardinality.
    """
    if slots < 1 or truncate < 1:
        raise ValueError("slots and truncate must be >= 1")
    if duration_ms(window_duration) <= 0:
        raise ValueError("window_duration must be positive")
    v = F.substring(F.col(value_col).cast("string"), 1, truncate)
    agg = (watermarked(stream_df, ts_col, watermark)
           .filter(F.col(value_col).isNotNull())
           .groupBy(F.window(F.col(ts_col), window_duration).alias("__w"))
           .agg(F.call_function("approx_top_k_accumulate", v,
                                F.lit(int(slots))).alias("__acc"),
                F.count(v).alias("n_rows")))
    offset = F.expr(fi_offset("__acc.sketch"))
    top = agg.select(
        "__w", "n_rows", offset.alias("max_undercount"),
        F.posexplode(F.expr(fi_top("__acc", slots, slots)))
        .alias("__r", "__e"))
    return top.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        F.col("__e.item").alias("value"),
        (F.col("__e.count") - F.col("max_undercount")).alias("est_count"),
        "max_undercount", "n_rows",
        (F.col("__r") + 1).cast("int").alias("rank"))
