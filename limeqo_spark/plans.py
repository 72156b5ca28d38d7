"""Plan capture, canonical fingerprinting, and featurization (SURVEY §4.3).

The reference featurizes PostgreSQL EXPLAIN trees (Node Type / Total Cost /
Plan Rows / Plan Width — dataset.py:108-111 in /root/reference) and dedups
hint sets that yield the identical plan (get_same_hints, dataset.py:201-203).
Here the steered optimizer is Catalyst: we capture ``EXPLAIN FORMATTED``
output of a DataFrame, canonicalize it (strip expression ids, codegen ids,
paths, statistics), hash it for plan-equivalence grouping, and parse the
operator tree into feature vectors over a *pinned* node-type vocabulary
(SURVEY §1.3 — reproducible feature width, unlike the reference's
data-discovered vocabulary).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame

#: pinned Spark physical node vocabulary (SURVEY §4.3). Order matters —
#: feature vectors are versioned by this registry.
NODE_VOCABULARY: tuple[str, ...] = (
    "Scan",
    "Filter",
    "Project",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Sort",
    "Exchange",
    "BroadcastExchange",
    "Window",
    "Expand",
    "Union",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
    "Generate",
    "WholeStageCodegen",
    "AdaptiveSparkPlan",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "Dummy",  # pad node for tree binarization (A23)
)


def explain_formatted(df: DataFrame) -> str:
    """EXPLAIN FORMATTED text of a DataFrame's physical plan."""
    # by its dotted name: one py4j lookup that hits. py4j resolves a short
    # name by probing it and then each of the gateway's star imports, and
    # each miss scans the whole driver classpath
    utils = getattr(df.sparkSession._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
    return utils.explainString(df._jdf.queryExecution(), "formatted")


def replanned(df: DataFrame) -> DataFrame:
    """``df``'s analyzed plan in a fresh QueryExecution: Catalyst optimizes
    and plans it again under the session's *current* confs, without
    re-running the Python code that built it. Relation hints already in the
    analyzed plan carry over unchanged."""
    spark = df.sparkSession
    # by its dotted name, as in explain_formatted
    dataset = getattr(spark._jvm, "org.apache.spark.sql.classic.Dataset")
    jdf = dataset.ofRows(spark._jsparkSession, df._jdf.queryExecution().analyzed())
    return DataFrame(jdf, spark)


_STRIP_PATTERNS = [
    (re.compile(r"#\d+L?"), "#x"),  # expression ids
    (re.compile(r"\[id=#?\d+\]"), "[id=x]"),  # codegen / exchange ids
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=x]"),  # exchange plan ids
    (re.compile(r"\(\d+\)"), "(x)"),  # operator ids in formatted mode
    (re.compile(r"file:[^\s,\]]+"), "file:x"),  # input paths
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(x)"),
    (re.compile(r"size=\S+"), "size=x"),
    (re.compile(r"rowCount=\S+"), "rowCount=x"),
]


def canonicalize(plan_text: str) -> str:
    """Normalize a plan string so logically-identical plans hash equal across
    runs (expression ids, paths and runtime statistics vary per session)."""
    out = plan_text
    for pat, repl in _STRIP_PATTERNS:
        out = pat.sub(repl, out)
    return out.strip()


def plan_hash(df_or_text: DataFrame | str) -> str:
    """SHA-256 fingerprint of the canonicalized physical plan — the
    plan-equivalence group key (A18): two HintSets whose plans hash equal
    will run identically, so only one needs to be measured."""
    text = df_or_text if isinstance(df_or_text, str) else explain_formatted(df_or_text)
    return hashlib.sha256(canonicalize(text).encode()).hexdigest()


# --- plan tree parsing & featurization (A22/A23) ---------------------------


@dataclass
class PlanNode:
    node_type: str
    children: list["PlanNode"]


_TREE_LINE = re.compile(r"^([\s:+*-]*)[*+-]?\s*([A-Za-z][A-Za-z0-9]*)")


def parse_formatted_tree(plan_text: str) -> PlanNode | None:
    """Parse the operator-tree section of EXPLAIN FORMATTED into a PlanNode
    tree using indentation depth. Spark trees can be n-ary (Union)."""
    lines = []
    for raw in plan_text.splitlines():
        if not raw.strip():
            break  # formatted mode: blank line ends the tree section
        m = _TREE_LINE.match(raw)
        if m:
            indent = len(m.group(1))
            name = m.group(2)
            lines.append((indent, name))
    if not lines:
        return None
    root = PlanNode(_norm_name(lines[0][1]), [])
    stack: list[tuple[int, PlanNode]] = [(lines[0][0], root)]
    for indent, name in lines[1:]:
        node = PlanNode(_norm_name(name), [])
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if stack:
            stack[-1][1].children.append(node)
        stack.append((indent, node))
    return root


def _norm_name(name: str) -> str:
    for v in NODE_VOCABULARY:
        if name.startswith(v):
            return v
    if "Scan" in name:
        return "Scan"
    return name


def binarize(node: PlanNode) -> PlanNode:
    """A23 with the Spark twist: physical plans can be n-ary (Union); the
    reference errors on >2 children (dataset.py:165) — we left-deep binarize
    instead, padding 1-child nodes with a Dummy leaf."""
    kids = [binarize(c) for c in node.children]
    if len(kids) == 0:
        return PlanNode(node.node_type, [])
    if len(kids) == 1:
        return PlanNode(node.node_type, [kids[0], PlanNode("Dummy", [])])
    while len(kids) > 2:  # left-deep fold of n-ary nodes
        merged = PlanNode(node.node_type, [kids[0], kids[1]])
        kids = [merged] + kids[2:]
    return PlanNode(node.node_type, kids)


def featurize(node: PlanNode) -> np.ndarray:
    """One-hot node-type histogram over the pinned vocabulary + structure
    stats [n_nodes, depth] — the plan-level feature vector for cost models.
    (Per-node feature matrices for the TCNN come from tcnn.flatten_tree.)"""
    vocab_index = {v: i for i, v in enumerate(NODE_VOCABULARY)}
    hist = np.zeros(len(NODE_VOCABULARY) + 2, dtype=np.float64)

    def walk(n: PlanNode, depth: int) -> int:
        idx = vocab_index.get(n.node_type)
        if idx is not None:
            hist[idx] += 1
        d = depth
        for c in n.children:
            d = max(d, walk(c, depth + 1))
        return d

    max_depth = walk(node, 0)
    hist[-2] = _count(node)
    hist[-1] = max_depth
    return hist


def _count(n: PlanNode) -> int:
    return 1 + sum(_count(c) for c in n.children)
