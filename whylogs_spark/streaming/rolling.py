"""Rolling / streaming profiles.

Replaces the reference's TimedRollingLogger + Scheduler thread
(python/whylogs/api/logger/rolling.py:63,23) and its SegmentCache
(python/whylogs/api/logger/segment_cache.py) with Structured Streaming:

* ``streaming_profile`` — a *native* streaming aggregation:
  ``groupBy(window(ts, interval), *segments).agg(native exprs)`` with an
  event-time watermark. This is a strict superset of the reference, which
  only supports processing-time rolling (SURVEY §2.9): we get event-time
  windows, late-data handling, and exactly-once state from Spark.
* ``RollingProfileSink`` — the general path (all metrics incl. KLL/FI
  sketches): ``foreachBatch`` profiles each micro-batch per window via the
  batch profiler and APPENDS the long-form profile rows tagged with
  (window_start, batch_id). Because profiles are a monoid, the sink never
  updates in place — merging at read time with ``merge_profiles`` gives
  the same result as one big profile (the reference's merge-on-write
  SQLiteStore becomes merge-on-read over an append-only Parquet log).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import dataclasses

from ..core.configs import DEFAULT_CONFIG, MetricConfig
from ..core.planner import plan_dataframe
from ..core.profiler import (
    PROFILE_SCHEMA, ProfileView, _long_structs, _merge_profile_df,
    _native_frame, _segment_json_col, profile,
)


def streaming_profile(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
    segment_by: Optional[List[str]] = None,
    columns: Optional[List[str]] = None,
    config: MetricConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Streaming DataFrame of per-window native profile components.

    Output: (window_start, window_end, segment, column, metric,
    component, n, d, s, b) in update/append mode depending on sink.
    """
    segs = list(segment_by or [])
    # sketch paths need foreachBatch (RollingProfileSink); the pure
    # streaming aggregation keeps only native + HLL components
    cfg = dataclasses.replace(
        config, quantile_impl="none", frequent_items_impl="none")
    exclude = set(segs) | {ts_col}
    cols = columns or [c for c in stream_df.columns if c not in exclude]
    aggs, _ = plan_dataframe(stream_df.schema, cols, segs, cfg)
    # streaming keeps a single mixed-tier aggregate: one state store
    # beats codegen purity here
    win = F.window(F.col(ts_col), window_duration)
    # parquet event times arrive as TIMESTAMP_NTZ; watermarks require
    # TIMESTAMP, so normalize first (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)
    wdf = stream_df.withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    ).withWatermark(ts_col, watermark)
    # group on the real window column so the state store can evict closed
    # windows by watermark; window bounds surface as plain columns
    keys = ["window_start", "window_end", "segment"]
    wide = _native_frame(wdf.groupBy(win.alias("__w"), *segs), aggs, [
        F.col("__w.start").cast("string").alias("window_start"),
        F.col("__w.end").cast("string").alias("window_end"),
        _segment_json_col(segs).alias("segment")])
    return wide.select(
        *keys, F.explode(F.array(*_long_structs(aggs))).alias("r")
    ).select(*keys, "r.*")


class RollingProfileSink:
    """foreachBatch sink: full-fidelity rolling profiles on a stream.

    Usage::

        sink = RollingProfileSink("/path/profiles", ts_col="ts",
                                  window="1 hour")
        q = (stream_df.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt).start())
        ...
        sink.read_profiles(spark)   # merged per-window ProfileViews
    """

    def __init__(
        self,
        path: str,
        ts_col: str = "ts",
        window: str = "1 hour",
        segment_by: Optional[List[str]] = None,
        columns: Optional[List[str]] = None,
        config: MetricConfig = DEFAULT_CONFIG,
    ) -> None:
        self.path = path
        self.ts_col = ts_col
        self.window = window
        self.segment_by = list(segment_by or [])
        self.columns = columns
        self.config = config

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        win = F.window(F.col(self.ts_col), self.window)
        with_w = batch_df.withColumn(
            "__wstart", win.getField("start").cast("string"))
        cols = self.columns or [
            c for c in batch_df.columns
            if c not in set(self.segment_by) | {self.ts_col}
        ]
        view = profile(
            with_w,
            segment_by=["__wstart"] + self.segment_by,
            columns=cols,
            config=self.config,
        )
        out = (
            view.df.withColumn(
                "window_start",
                F.get_json_object("segment", "$.__wstart"))
            .withColumn("src", F.lit(int(batch_id)))
        )
        out.write.mode("append").parquet(self.path)

    def read_profiles(self, spark: SparkSession) -> ProfileView:
        """Merge-on-read: one profile row-set per (window, segment)."""
        raw = spark.read.parquet(self.path)
        # fold window_start back into the segment key for the merge, then
        # merge rows across micro-batches (src column pairs moments)
        merged = _merge_profile_df(
            raw.select(*[f.name for f in PROFILE_SCHEMA.fields], "src"),
            self.config,
        ).withColumn(
            "window_start", F.get_json_object("segment", "$.__wstart"))
        return ProfileView(merged, self.config)
