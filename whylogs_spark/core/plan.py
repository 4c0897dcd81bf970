"""The library's one reader of a Spark plan tree.

A plan is walked node by node through ``children()`` and
``subqueries()``; the physical side also walks through
``AdaptiveSparkPlanExec``, whole-stage-codegen wrappers and query
stages, none of which are themselves listed.  A cached input is a leaf:
``InMemoryRelation`` (logical) and ``InMemoryTableScan`` (physical)
have no children, so the plan that built the cache is not walked.

Two readers share the node-kind questions asked of :class:`Plan`:
``Plan.of`` walks a frame's (or a streaming query's) plan, and
``Plan.executed`` reads the plans of the SQL executions a call ran from
the session's status store.  Per-operator features read this way are
what the profile gate (:func:`is_expensive`), the plan audit
(``scripts/explain_audit.py``) and the plan tests assert on.
"""

from __future__ import annotations

import json
import re
from collections import Counter
from typing import Callable, Iterator, List, Optional, Sequence, Tuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

#: Node names of plan steps that run Python workers, logical and
#: physical alike.
PYTHON_NODES = frozenset((
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow", "AggregateInPandas", "WindowInPandas",
    "ArrowWindowPython", "PythonUDTF", "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF",
))

#: Logical-plan node names whose re-execution is expensive (shuffles,
#: global funnels, python stages): a profile input holding one is worth
#: a local checkpoint before the aggregate jobs each re-execute it.
_EXPENSIVE_NODES = frozenset((
    "Join", "Aggregate", "Window", "Generate", "Expand", "Offset",
    "GlobalLimit", "LocalLimit", "Sort", "Distinct", "Deduplicate",
    "Repartition", "RepartitionByExpression", "RebalancePartitions",
    "Sample", "Intersect", "Except", "MapInArrow", "MapInPandas",
    "PythonMapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "CoGroup", "MapGroups", "MapElements",
))

#: Physical wrappers walked through, not listed, and the accessor of
#: the node they wrap.
_WRAPPERS = {
    "AdaptiveSparkPlan": "executedPlan", "ShuffleQueryStage": "plan",
    "BroadcastQueryStage": "plan", "ResultQueryStage": "plan",
    "TableCacheQueryStage": "plan", "InputAdapter": "child",
}


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _unwrap(jnode, codegen: bool = False) -> Tuple[str, object, bool]:
    """The first node at or under ``jnode`` that is not a wrapper, its
    name, and whether it runs inside a whole-stage-codegen stage (given
    whether ``jnode`` does)."""
    while True:
        name = jnode.nodeName().strip()
        if name.startswith("WholeStageCodegen"):
            step, codegen = "child", True
        else:
            step = _WRAPPERS.get(name)
        if step is None:
            return name, jnode, codegen
        if name == "InputAdapter":
            codegen = False
        jnode = getattr(jnode, step)()


def is_expensive(df: DataFrame) -> bool:
    """True when ``df``'s optimized logical plan, subqueries included,
    holds a shuffle, a global funnel or a Python step outside any
    cached input; False for a streaming frame.  ``profile()`` asks this
    on every call, so the walk asks each node only its name and its
    children, and gathers the subquery plans once at the root."""
    try:
        root = df._jdf.queryExecution().optimizedPlan()
    except AnalysisException:
        return False
    stack = [root] + _seq(root.subqueriesAll())
    while stack:
        node = stack.pop()
        if node.nodeName() in _EXPENSIVE_NODES:
            return True
        stack += _seq(node.children())
    return False


class Node:
    """One plan step: its name, its one-line description (Spark's
    ``simpleString``), its children, whether it runs inside a
    whole-stage-codegen stage and, for a file scan, the columns it reads
    (nested fields as dotted leaf paths) and the filters pushed into
    it."""

    __slots__ = ("name", "desc", "children", "codegen", "read_schema",
                 "pushed")

    def __init__(self, name: str, desc: str, children: List["Node"],
                 codegen: bool = False):
        self.name, self.desc, self.children = name, desc, children
        self.codegen = codegen
        self.read_schema: Optional[List[str]] = None
        self.pushed = ""

    def __iter__(self) -> Iterator["Node"]:
        yield self
        for c in self.children:
            yield from c


NodeTest = Callable[[Node], bool]


def matcher(spec) -> NodeTest:
    """A node test from a name, a collection of names, a callable, or
    None (any node)."""
    if spec is None:
        return lambda n: True
    if callable(spec):
        return spec
    names = {spec} if isinstance(spec, str) else set(spec)
    return lambda n: n.name in names


def named(*parts: str) -> NodeTest:
    """A node test: the node's name contains one of ``parts``."""
    return lambda n: any(p in n.name for p in parts)


def _leaves(fields: list, prefix: str = "") -> List[str]:
    """Dotted paths of the leaf fields of a StructType's JSON fields."""
    out: List[str] = []
    for f in fields:
        t = f["type"]
        if isinstance(t, dict) and t.get("type") == "struct":
            out += _leaves(t["fields"], f"{prefix}{f['name']}.")
        else:
            out.append(prefix + f["name"])
    return out


def _tree(jplan, seen: set, codegen: bool = False) -> Node:
    """The Python tree of a JVM plan, wrappers skipped (see `_unwrap`);
    a subquery hosted by two nodes (a filter and the scan it is pushed
    into) is listed once."""
    name, jnode, codegen = _unwrap(jplan, codegen)
    subs = [s for s in _seq(jnode.subqueries()) if s not in seen]
    seen.update(subs)
    node = Node(name, jnode.simpleString(1000),
                [_tree(c, seen, codegen) for c in _seq(jnode.children())]
                + [_tree(s, seen) for s in subs], codegen)
    if name == "Scan ExistingRDD":
        # the RDD names its origin, e.g. "... at localCheckpoint at ..."
        node.desc += " " + jnode.rdd().toString()
    elif (name.startswith("Scan ")
            and jnode.getClass().getSimpleName() == "FileSourceScanExec"):
        node.read_schema = _leaves(
            json.loads(jnode.requiredSchema().json())["fields"])
        pushed = jnode.metadata().get("PushedFilters")
        node.pushed = pushed.get() if pushed.isDefined() else ""
    return node


class Plan:
    """Node-kind questions over one or more plan trees."""

    def __init__(self, roots: Sequence[Node]):
        self.roots = list(roots)
        # a node under two parents (a reused exchange) is listed once
        self.nodes = list({id(n): n for r in self.roots for n in r}
                          .values())

    @classmethod
    def of(cls, obj, *, logical: bool = False) -> "Plan":
        """The physical plan of a frame as ``explain()`` shows it (or its
        optimized logical plan), or the last micro-batch plan of a
        streaming query."""
        if hasattr(obj, "_jsq"):
            jplan = obj._jsq.streamingQuery().lastExecution().executedPlan()
        else:
            qe = obj._jdf.queryExecution()
            jplan = qe.optimizedPlan() if logical else qe.executedPlan()
        return cls([_tree(jplan, set())])

    @classmethod
    def executed(cls, spark: SparkSession, fn: Callable[[], object]
                 ) -> Tuple[object, List["Plan"]]:
        """``(fn(), one Plan per SQL execution fn ran)``, read from the
        status store's plan graphs (works with the UI off)."""
        store = spark._jsparkSession.sharedState().statusStore()
        bus = spark.sparkContext._jsc.sc().listenerBus()

        def ids():
            bus.waitUntilEmpty()
            ex = store.executionsList()
            return [ex.apply(i).executionId() for i in range(ex.size())]

        last = max(ids(), default=-1)
        result = fn()
        return result, [cls([_graph_tree(store.planGraph(i))])
                        for i in ids() if i > last]

    def __str__(self) -> str:
        """Each tree, one node description per line, indented by depth."""
        lines: List[str] = []

        def emit(node: Node, depth: int) -> None:
            lines.append("  " * depth + node.desc)
            for c in node.children:
                emit(c, depth + 1)

        for r in self.roots:
            emit(r, 0)
        return "\n".join(lines)

    def names(self) -> List[str]:
        return [n.name for n in self.nodes]

    def find(self, spec, contains: str = "") -> List[Node]:
        """Nodes passing ``spec`` whose description holds ``contains``."""
        test = matcher(spec)
        return [n for n in self.nodes if test(n) and contains in n.desc]

    def count(self, spec, contains: str = "") -> int:
        return len(self.find(spec, contains))

    def has(self, spec, contains: str = "") -> bool:
        return bool(self.find(spec, contains))

    def exchanges(self) -> Counter:
        """Shuffle exchanges by partitioning kind (``hash``, ``range``,
        ``single``, ``roundrobin``), and broadcasts as ``broadcast``."""
        kinds: Counter = Counter()
        for n in self.nodes:
            if n.name == "Exchange":
                kind = re.match(r"Exchange (\w+)", n.desc).group(1).lower()
                kinds[kind.replace("partitioning", "").replace(
                    "partition", "")] += 1
            elif n.name == "BroadcastExchange":
                kinds["broadcast"] += 1
        return kinds

    def scans(self) -> List[Node]:
        """File scans, each with ``read_schema`` and ``pushed``."""
        return [n for n in self.nodes if n.read_schema is not None]

    def python_nodes(self) -> List[str]:
        return [n.name for n in self.nodes if n.name in PYTHON_NODES]

    def checkpoint_scans(self) -> int:
        """Scans of a checkpointed (``ExistingRDD``) frame."""
        return self.count("Scan ExistingRDD")

    def path(self, *specs) -> bool:
        """True when some root-to-leaf path passes nodes matching
        ``specs`` in order, each below the one before it."""
        tests = [matcher(s) for s in specs]

        def down(node: Node, i: int) -> bool:
            if tests[i](node):
                if i + 1 == len(tests):
                    return True
                return any(down(c, i + 1) for c in node.children)
            return any(down(c, i) for c in node.children)

        return any(down(r, 0) for r in self.roots)


def _graph_tree(graph) -> Node:
    """A status-store ``SparkPlanGraph`` as a tree.  Edges point from
    child to parent; a wrapper (codegen cluster, adaptive plan, query
    stage) is spliced out, its children hung on its parent; the members
    of a whole-stage-codegen cluster are marked ``codegen``.  A reused
    exchange is one node under both of its parents (`Plan` lists it
    once)."""
    info, kids, children, codegen = {}, {}, set(), set()
    for g in _seq(graph.allNodes()):
        info[g.id()] = (g.name().strip(), g)
        if info[g.id()][0].startswith("WholeStageCodegen"):
            codegen.update(m.id() for m in _seq(g.nodes()))
    for e in _seq(graph.edges()):
        kids.setdefault(e.toId(), []).append(e.fromId())
        children.add(e.fromId())
    built = {}

    def build(i) -> List[Node]:
        if i not in built:
            name, g = info[i]
            below = [n for k in kids.get(i, ()) for n in build(k)]
            wrapper = name in _WRAPPERS or name.startswith(
                "WholeStageCodegen")
            built[i] = below if wrapper else [
                Node(name, g.desc(), below, i in codegen)]
        return built[i]

    roots = [n for i in info if i not in children for n in build(i)]
    return roots[0] if len(roots) == 1 else Node("Plans", "", roots)
