"""Streaming drift monitor: score every microbatch against a reference
profile.

The reference engine computes drift between two STATIC profiles
(python/whylogs/viz/drift/column_drift_algorithms.py:308-424); a
production pipeline wants that continuously — profile what just
arrived, compare to the blessed reference, alert. This sink composes
the existing pieces Spark-first: the batch profiler (one native
aggregate pass per microbatch, sketches included) and the sketch-based KS/chi2
scorers, so each microbatch costs one profile pass regardless of
stream history, and state never grows (the reference sketches are a
driver-held constant).
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.configs import DEFAULT_CONFIG, MetricConfig
from ..core.drift import DriftScore, calculate_drift_scores
from ..core.profiler import ProfileView, profile

_SCORE_SCHEMA = ("batch_id long, col_name string, algorithm string, "
                 "statistic double, p_value double, category string")


class DriftMonitorSink:
    """foreachBatch sink: per-microbatch drift scores vs a reference.

    Usage::

        ref = wsp.profile(blessed_df)            # or why.read(...)
        sink = DriftMonitorSink(ref, "/path/scores",
                                on_drift=lambda b, cols: alert(cols))
        q = (stream_df.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt).start())
        ...
        sink.read_scores(spark)                  # score history

    ``on_drift`` fires on the driver with (batch_id, [DriftScore]) for
    columns whose category is "DRIFT" — the hook point for paging, in
    the spirit of the reference's validator actions.
    """

    def __init__(
        self,
        reference: ProfileView,
        path: str,
        columns: Optional[List[str]] = None,
        config: MetricConfig = DEFAULT_CONFIG,
        on_drift: Optional[Callable[[int, List[DriftScore]], None]] = None,
    ) -> None:
        self.reference = reference
        self.path = path
        self.columns = columns
        self.config = config
        self.on_drift = on_drift

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        view = profile(batch_df, columns=self.columns, config=self.config)
        scores = calculate_drift_scores(view, self.reference)
        if not scores:
            return
        spark = batch_df.sparkSession
        rows = [(int(batch_id), s.column, s.algorithm,
                 float(s.statistic),
                 float("nan") if s.p_value is None else float(s.p_value),
                 s.category)
                for s in scores]
        spark.createDataFrame(rows, _SCORE_SCHEMA) \
            .write.mode("append").parquet(self.path)
        if self.on_drift:
            drifted = [s for s in scores if s.category == "DRIFT"]
            if drifted:
                self.on_drift(int(batch_id), drifted)

    def read_scores(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path).orderBy(
            "batch_id", "col_name")
