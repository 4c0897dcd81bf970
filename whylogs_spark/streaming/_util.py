"""Shared helpers for the streaming operators."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duration_ms(duration: str) -> int:
    """Milliseconds of a pandas-parseable duration string ("30
    minutes", "1 hour"). One definition for every streaming module —
    gap logic and window logic must agree on parsing."""
    import pandas as pd

    return int(pd.Timedelta(duration).total_seconds() * 1000)


def watermarked(stream_df: DataFrame, ts_col: str,
                watermark: str) -> DataFrame:
    """``stream_df`` under an event-time watermark on ``ts_col``, cast
    to TIMESTAMP first (parquet event times arrive as TIMESTAMP_NTZ,
    which watermarks reject). Rows with a null event time are dropped:
    they would key a null window."""
    return (stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .filter(F.col(ts_col).isNotNull())
            .withWatermark(ts_col, watermark))
