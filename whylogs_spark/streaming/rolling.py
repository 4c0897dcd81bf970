"""Rolling / streaming profiles.

Replaces the reference's TimedRollingLogger + Scheduler thread
(python/whylogs/api/logger/rolling.py:63,23) and its SegmentCache
(python/whylogs/api/logger/segment_cache.py) with Structured Streaming:

* ``streaming_profile`` — a *native* streaming aggregation:
  ``groupBy(window(ts, interval), *segments).agg(native exprs)`` with an
  event-time watermark. This is a strict superset of the reference, which
  only supports processing-time rolling (SURVEY §2.9): we get event-time
  windows, late-data handling, and exactly-once state from Spark.
  A streamed window carries the full metric set of a batch profile,
  KLL and frequent-items sketches included: they are the same Spark
  DataSketches aggregates, held in the state store.
* ``RollingProfileSink`` — merge-on-read with unbounded lateness:
  ``foreachBatch`` profiles each micro-batch per window via the batch
  profiler and APPENDS the long-form profile rows tagged with
  (window_start, batch_id), with no watermark, so a row arriving
  arbitrarily late still lands in its window. Because profiles are a
  monoid, the sink never updates in place — merging at read time with
  ``merge_profiles`` gives the same result as one big profile (the
  reference's merge-on-write SQLiteStore becomes merge-on-read over an
  append-only Parquet log). ``foreachBatch`` is at-least-once: each
  write carries its time (``write_ns``), and the read keeps one
  micro-batch's last write only, so a replayed batch counts once. The
  sink marks a new directory as a store marks a new root
  (``io.store.MARKER``), and reads of it skip the legacy-blob probe.
"""

from __future__ import annotations

import time
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.configs import DEFAULT_CONFIG, MetricConfig
from ..core.planner import plan_dataframe
from ..core.profiler import (
    PROFILE_SCHEMA, ProfileView, _long_structs, _merge_profile_df,
    _native_frame, _segment_json_col, profile,
)
from ..io.store import _blob_probe, _mark, _root_state

#: a sink directory's schema: the profile rows, their window, the
#: micro-batch id and the write's time (null in directories written
#: before writes carried it). Reading with it launches no
#: schema-inference job.
_SINK_SCHEMA = T.StructType(PROFILE_SCHEMA.fields + [
    T.StructField("window_start", T.StringType()),
    T.StructField("src", T.LongType()),
    T.StructField("write_ns", T.LongType())])


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
    exclude = set(segs) | {ts_col}
    cols = columns or [c for c in stream_df.columns if c not in exclude]
    aggs = plan_dataframe(stream_df.schema, cols, segs, config)
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
    """foreachBatch sink: rolling profiles merged on read, with no
    watermark, so a late row still lands in its window
    (``streaming_profile`` drops rows behind its watermark).

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
            .withColumn("src", F.lit(int(batch_id)).cast("long"))
            .withColumn("write_ns", F.lit(time.time_ns()))
        )
        spark = batch_df.sparkSession
        new = _root_state(spark, self.path) is None
        out.write.mode("append").parquet(self.path)
        if new:
            _mark(spark, self.path)

    def read_profiles(self, spark: SparkSession) -> ProfileView:
        """Merge-on-read: one profile row-set per (window, segment).
        Of a micro-batch written more than once (a replay), only the
        last write's rows count."""
        raw = spark.read.schema(_SINK_SCHEMA).parquet(self.path).withColumn(
            "__last", F.max("write_ns").over(Window.partitionBy("src")))
        # window_start is already folded into the segment key; the
        # merge pairs each micro-batch's moments by src
        merged = _merge_profile_df(
            raw.where(F.col("write_ns").eqNullSafe(F.col("__last"))).select(
                *PROFILE_SCHEMA.names, "src"),
            self.config, legacy=_blob_probe(spark, self.path),
        ).withColumn(
            "window_start", F.get_json_object("segment", "$.__wstart"))
        return ProfileView(merged, self.config)
