"""Custom metric plug-in registry.

The reference lets users define their own metrics and register them so
the resolver instantiates them per matching column
(``@custom_metric`` / ``register_metric`` at
python/whylogs/core/metrics/metrics.py:60,156; ``CustomMetricBase`` at
metrics.py:641; pluggable component aggregator/serializer registries at
python/whylogs/core/metrics/metric_components.py:174 and
aggregators.py:33-47).

Here a custom metric is declarative, which keeps it on Spark's fast
path: the user supplies *aggregate Column expressions* (JVM-side,
codegen'd — no UDAF needed for the common cases) plus a per-component
**merge op** so stored profiles of the metric stay mergeable
(the profile monoid, dataset_profile_view.py:172):

    from pyspark.sql import functions as F
    from whylogs_spark import register_metric, CustomComponent

    register_metric(
        "value_range",
        [
            CustomComponent("min", "d", lambda c: F.min(c), merge="min"),
            CustomComponent("max", "d", lambda c: F.max(c), merge="max"),
            CustomComponent("span", "d",
                            lambda c: F.max(c) - F.min(c), merge="none"),
        ],
        value_types={ValueType.INTEGRAL, ValueType.FRACTIONAL},
    )

``merge`` ops: "sum" | "min" | "max" | "none" ("none" = recomputable
from other components only, dropped on merge; e.g. a ratio). Each is a
native Spark aggregate in the one grouped merge of ``merge_profiles``,
so a merge of custom metrics starts no Python worker either.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Set

from pyspark.sql import Column

from .datatypes import ValueType

_VALID_MERGE = {"sum", "min", "max", "none"}


@dataclass(frozen=True)
class CustomComponent:
    """One mergeable component of a custom metric.

    slot: "n" (integer) or "d" (double) — which typed slot of the
    long-form profile row the value fills.
    expr: Column -> aggregate Column (the update operator).
    merge: how two profiles' values combine (the merge operator).
    """

    component: str
    slot: str
    expr: Callable[[Column], Column]
    merge: str = "sum"

    def __post_init__(self) -> None:
        if self.slot not in ("n", "d"):
            raise ValueError("custom component slot must be 'n' or 'd'")
        if self.merge not in _VALID_MERGE:
            raise ValueError(
                f"merge must be one of {sorted(_VALID_MERGE)}")


@dataclass(frozen=True)
class CustomMetric:
    namespace: str
    components: List[CustomComponent]
    value_types: Optional[Set[ValueType]] = None  # None = every column
    columns: Optional[Set[str]] = None            # explicit name filter

    def matches(self, column: str, vt: ValueType) -> bool:
        if self.columns is not None and column not in self.columns:
            return False
        if self.value_types is not None and vt not in self.value_types:
            return False
        return True


_REGISTRY: Dict[str, CustomMetric] = {}
_GENERATION = 0  # bumped on any registry change; part of the plan-cache key


def registry_generation() -> int:
    return _GENERATION

_RESERVED = {
    "counts", "types", "ints", "distribution", "cardinality",
    "frequent_items", "condition_count",
}


def register_metric(
    namespace: str,
    components: List[CustomComponent],
    value_types: Optional[Set[ValueType]] = None,
    columns: Optional[List[str]] = None,
) -> CustomMetric:
    """Register a custom metric; subsequent ``profile()`` calls emit it
    for every matching column (reference: metrics.py:156)."""
    if namespace in _RESERVED:
        raise ValueError(f"'{namespace}' is a built-in metric namespace")
    if not components:
        raise ValueError("a custom metric needs at least one component")
    m = CustomMetric(
        namespace, list(components), value_types,
        set(columns) if columns is not None else None)
    global _GENERATION
    _GENERATION += 1
    _REGISTRY[namespace] = m
    return m


def unregister_metric(namespace: str) -> None:
    global _GENERATION
    _GENERATION += 1
    _REGISTRY.pop(namespace, None)


def registered_metrics() -> Dict[str, CustomMetric]:
    return dict(_REGISTRY)
