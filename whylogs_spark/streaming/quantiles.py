"""Streaming windowed quantiles with BOUNDED state: one KLL sketch per
open event-time window, emitted once when the watermark closes the
window.

The window's state is the profile's own sketch: Spark's
``kll_sketch_agg_double`` (Apache DataSketches KLL doubles) runs as a
watermarked ``groupBy(window(ts), ...)`` aggregate, the same
aggregate a batch profile's ``distribution/kll`` component comes from.
The emitted ``kll`` blob therefore merges with batch profiles and the
profile store (``merge_profiles``, ``quantile_series``) under the same
rank-error bound, and each ``q_<pct>`` is read from it through the
planner's ``kll_quantile``.

Scale shape: partial aggregation, then one exchange on the state key
per microbatch; state per open window is one KLL sketch (~KB at
k=256) regardless of row count; each emitted row is final (append
mode). With ``by_cols`` the key extends to (window, groups) and state
stays one sketch per group-window. No Python runs in the stream.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.planner import kll_quantile
from ._util import duration_ms, watermarked

__all__ = ["streaming_quantiles"]


def streaming_quantiles(
    stream_df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
    quantiles: Sequence[float] = (0.25, 0.5, 0.95),
    k: int = 256,
    by_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """-> append-mode stream: one row per closed (window [, groups]):
    ``(window_start, window_end [, by_cols...], n, q_min, q_<pct>...,
    q_max, kll)``. ``n`` counts the window's non-null, non-NaN values;
    ``q_min``/``q_max`` are their exact extremes; the ``kll`` column
    carries the window's DataSketches KLL bytes so downstream consumers
    (the profile store, drift scorers) can merge it instead of
    re-reading data. A window without a value has ``n`` 0 and null
    quantiles."""
    qs = [float(q) for q in quantiles]
    if not qs or any(not 0.0 < q < 1.0 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1): {quantiles}")
    if duration_ms(window_duration) <= 0:
        raise ValueError("window_duration must be positive")
    groups = list(by_cols or [])
    qcols = [f"q_{str(q).replace('0.', '').ljust(2, '0')[:4]}"
             for q in qs]
    if len(set(qcols)) != len(qcols):
        raise ValueError(f"quantiles collide after naming: {qcols}")

    v = F.col(value_col).cast("double")
    v = F.when(~F.isnan(v), v)
    agg = (watermarked(stream_df, ts_col, watermark)
           .groupBy(F.window(F.col(ts_col), window_duration).alias("__w"),
                    *groups)
           .agg(F.kll_sketch_agg_double(v, F.lit(int(k))).alias("kll"),
                F.min(v).alias("q_min"), F.max(v).alias("q_max")))
    return agg.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"), *groups,
        F.kll_sketch_get_n_double("kll").alias("n"), "q_min",
        *[F.expr(kll_quantile("kll", q)).alias(c)
          for q, c in zip(qs, qcols)],
        "q_max", "kll")
