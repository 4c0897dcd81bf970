"""Metric configuration.

Mirrors the knobs of the reference engine's ``MetricConfig``
(reference: python/whylogs/core/configs.py:9-41) so benchmark comparisons
are apples-to-apples: KLL k=256 (1024 when ``large_kll_k``), HLL lg_k=12,
frequent-items 128 slots, 128-char string truncation.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List


@dataclass(frozen=True)
class MetricConfig:
    # Sketch sizing (parity with reference defaults).
    kll_k: int = 256
    large_kll_k: bool = False
    hll_lg_k: int = 12
    fi_capacity: int = 128          # frequent-items slots (lg_max_k=10 -> 128)
    max_frequent_item_size: int = 128  # string truncation length

    # Quantiles surfaced in summaries (reference: q_01..q_99 + median).
    quantiles: List[float] = field(
        default_factory=lambda: [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]
    )

    # Engine strategy knobs (ours, not the reference's):
    #   "native"  -> Spark JVM approx_percentile (fast, not mergeable)
    #   "kll"     -> Spark's kll_sketch_agg_double (DataSketches KLL,
    #                mergeable, bytes stored; compaction is randomized,
    #                as in the reference, so bytes vary run to run)
    quantile_impl: str = "kll"
    # approx_percentile accuracy (~1/rank-error). The reference's KLL k=256
    # carries ~1.65% normalized rank error; 250 (0.4%) still beats it 4x
    # while halving the GK-summary build cost, which otherwise dominates
    # the whole native-tier profile pass (measured ~2x on lineitem).
    native_quantile_accuracy: int = 250
    # frequent items: "sketch" (Spark's approx_top_k_accumulate, a
    # DataSketches frequent-items sketch, bytes stored) | "none"
    frequent_items_impl: str = "sketch"
    # cardinality: "hll" (Spark DataSketches hll_sketch_agg, mergeable bytes)
    #            | "approx" (approx_count_distinct, estimate only)
    cardinality_impl: str = "hll"
    # At/above this many profiled columns, switch to the wide path
    # (unpivot per type class + groupBy(segments, int column id): O(1)
    # plan size — see core/wide.py). Below it, the narrow
    # per-column-expression path (vectorized per-column aggregates; plan
    # cost amortizes over rows).
    wide_column_threshold: int = 96

    @property
    def effective_kll_k(self) -> int:
        return 1024 if self.large_kll_k else self.kll_k


DEFAULT_CONFIG = MetricConfig()
