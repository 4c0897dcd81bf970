"""Plan invariants the engine's scale depends on, read from the plan
tree (``core.plan``): no partition-less ``Window.orderBy`` outside a
declared-bounded allowlist, partial aggregation before the exchange on
every profile path, whole-stage codegen for a profile's exact metrics,
no Python node in a default profile or in a merge of DataSketches-only
profiles, and no exchange of the edge table inside a PageRank
iteration.  ``scripts/explain_audit.py`` checks the full set
of headline plans at a TPC-H scale."""

import datetime as dt
import pathlib
import re

from pyspark.sql import functions as F

import whylogs_spark as wsp
from whylogs_spark.core.plan import Plan
from whylogs_spark.core.profiler import merge_profiles, merge_segments
from whylogs_spark.io.store import ProfileStore
from whylogs_spark.ops.graph import pagerank
from tests.conftest import profile_wide

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "whylogs_spark"

#: Sites allowed a partition-less ``Window.orderBy``: each orders an
#: input that is bounded by construction, so the single-task sort is
#: cheap.  A module path allows every site in the module.
GLOBAL_WINDOW_ALLOW = {
    # two-phase prefix sum: the partition-less window rolls up the
    # slice-totals frame (exactly one row per shuffle partition)
    "core/prefix.py",
    # phase-2 rank over the phase-1-capped head (<= top_v x
    # partitions rows)
    "ops/text.py::zipf_fit",
    # cumulative over the <= n_buckets per-bucket frame
    "core/model_perf.py::gains_table",
    # per-cause offset over the one-row-per-cause totals frame
    "ops/survival.py::cumulative_incidence",
    # phase-rank over the max_points-guarded collapsed series
    "ops/esd.py::seasonal_esd",
}

AGG = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


def global_window_violations():
    """``path:line`` of every ``Window.orderBy`` in the package that is
    not chained onto a ``partitionBy`` and not allowlisted."""
    out = []
    for p in sorted(PACKAGE.rglob("*.py")):
        rel = str(p.relative_to(PACKAGE))
        src = p.read_text()
        for mo in re.finditer(r"Window\s*\.\s*orderBy", src):
            defs = re.findall(r"^def (\w+)", src[:mo.start()], re.M)
            site = f"{rel}::{defs[-1] if defs else ''}"
            if rel not in GLOBAL_WINDOW_ALLOW and \
                    site not in GLOBAL_WINDOW_ALLOW:
                out.append(f"{rel}:{src[:mo.start()].count(chr(10)) + 1}")
    return out


def test_no_partition_less_window_outside_allowlist():
    assert not global_window_violations()


def _frame(spark):
    return spark.range(0, 4000, 1, 2).select(
        (F.sin("id") * 100).alias("x"), (F.col("id") % 7).alias("i"),
        (F.col("id") % 13).cast("string").alias("s"),
        (F.col("id") % 4).cast("string").alias("seg"))


def test_profile_paths_partial_aggregate_before_exchange(spark):
    """Narrow, segmented, wide and ``profile_partitions``: every
    aggregate over the data combines map-side before it shuffles, and
    no plan holds a Python node."""
    df = _frame(spark)
    calls = {
        "narrow": lambda: wsp.profile(df),
        "segmented": lambda: wsp.profile(df, segment_by=["seg"]),
        "wide": lambda: profile_wide(df, segment_by=["seg"]),
        "partitions": lambda: wsp.profile_partitions(
            df, {"all": [], "by_seg": ["seg"]}),
    }
    for name, call in calls.items():
        _, plans = Plan.executed(spark, call)
        aggs = [p for p in plans if p.has(AGG)]
        assert aggs, name
        for p in aggs:
            assert p.path(AGG, "Exchange", AGG), (name, p.names())
        for p in plans:
            assert not p.python_nodes(), (name, p.names())


def test_profile_codegen_tier_runs_in_whole_stage_codegen(spark):
    """The exact metrics of a narrow profile, default config and the
    sketch-free config of the correctness gate alike, aggregate inside
    whole-stage codegen: no interpreted aggregate in their job."""
    df = _frame(spark)
    for cfg in (wsp.MetricConfig(),
                wsp.MetricConfig(quantile_impl="none",
                                 frequent_items_impl="none")):
        _, plans = Plan.executed(spark, lambda: wsp.profile(df, config=cfg))
        aggs = [n for p in plans for n in p.find("HashAggregate")]
        assert aggs, [p.names() for p in plans]
        assert all(n.codegen for n in aggs), [str(p) for p in plans]


def test_merges_run_no_python_node(spark, tmp_path):
    """Every merge over DataSketches-only profiles is one native
    program: store reads, ⊕, segment collapse, drift, quantile series
    and compaction plan no Python node."""
    small = _frame(spark)
    flat = wsp.profile(small)
    seg = wsp.profile(small, segment_by=["seg"])
    store = ProfileStore(str(tmp_path / "store"))
    for day, hour in ((1, 0), (2, 0), (2, 12), (3, 0)):
        store.write(flat, "ds", dt.datetime(2024, 3, day, hour,
                                            tzinfo=dt.timezone.utc))
    calls = {
        "get": lambda: store.get(spark, "ds").to_pandas(),
        "merge_profiles": lambda: merge_profiles([flat, flat]).to_pandas(),
        "merge_segments": lambda: merge_segments(seg).to_pandas(),
        "drift_between": lambda: store.drift_between(
            spark, "ds", "2024-03-01", "2024-03-01", "2024-03-02",
            "2024-03-03"),
        "quantile_series": lambda: store.quantile_series(
            spark, "ds", "x", window=2).collect(),
        "compact": lambda: store.compact(spark, "ds"),
    }
    for name, call in calls.items():
        result, plans = Plan.executed(spark, call)
        assert plans, name
        for p in plans:
            assert not p.python_nodes(), (name, p.names())
        if name == "compact":
            assert result == 1


def _edge_side(node):
    """True when an edge-table scan feeds ``node`` without a join or an
    aggregate in between."""
    if node.name == "Scan ExistingRDD":
        return "__d#" in node.desc
    if "Join" in node.name or node.name in AGG:
        return False
    return any(_edge_side(c) for c in node.children)


def test_pagerank_iterations_exchange_no_edges(spark):
    """A PageRank step joins the node-sized rank vector onto the
    checkpointed edges and shuffles only aggregated contributions: no
    exchange in an iteration's plan reads the edge table raw."""
    edges = spark.range(0, 3000).select(
        (F.col("id") % 300).alias("src"),
        ((F.col("id") * 7) % 300).alias("dst"))
    _, plans = Plan.executed(
        spark, lambda: pagerank(edges, iterations=3).collect())
    steps = [p for p in plans
             if p.has("Scan ExistingRDD", "probability")
             and p.has("Scan ExistingRDD", "__d#")]
    assert len(steps) >= 3, [p.names() for p in plans]
    for p in steps:
        assert not any(_edge_side(c) for x in p.find("Exchange")
                       for c in x.children), p.names()


def test_executed_plans_read_as_the_frame_plan(spark):
    """A status-store plan graph reads as the frame's own plan: the
    adaptive plan wrapped inside a subquery is spliced out, so the
    subquery's aggregate stays under its filter, and a reused exchange
    is one node under both of its consumers."""
    df = spark.range(0, 2000, 1, 2).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    q = df.filter(F.col("v") > df.groupBy("k").agg(F.avg("v").alias("a"))
                  .filter("k = 3").select("a").scalar())
    a = df.groupBy("k").agg(F.sum("v").alias("s"))
    j = a.join(a.select("k", F.col("s").alias("s2")).hint("merge"), "k")
    for frame, path in ((q, ("Filter", "Subquery", "Exchange", AGG)),
                        (j, ("SortMergeJoin", "Exchange", AGG))):
        _, plans = Plan.executed(spark, frame.collect)
        assert len(plans) == 1, [p.names() for p in plans]
        p, own = plans[0], Plan.of(frame)
        assert p.path(*path) and own.path(*path), str(p)
        assert p.count("Exchange") == own.count("Exchange") == 1, str(p)
