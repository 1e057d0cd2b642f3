"""Per-node SQL metrics from Spark's status store, folded into layers.

Reads ``spark._jsparkSession.sharedState().statusStore()`` (populated
with ``spark.ui.enabled=false``): ``executionsList`` for the executions a
query started, ``planGraph`` for their nodes and edges, and
``executionMetrics`` for the aggregated metric strings. Every
executor-side time is task time summed across cores, not wall time.
"""

from __future__ import annotations

import re
from collections import defaultdict
from dataclasses import dataclass, field

# Python UDF groups: each UDF node is credited to the layer whose module
# defines the UDF's function; anything else lands in "plans".
UDF_LAYERS = ("geo", "llm", "sources", "operators", "functions", "plans")

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_CALL = re.compile(r"([A-Za-z_]\w*)\(")
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def parse_metric(text: str, metric_type: str) -> float:
    """Value of one ``SQLMetrics.stringValue``: a count, a size in bytes
    or a time in seconds. Multi-task metrics read as
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    if metric_type == "sum":
        return float(line.strip().replace(",", ""))
    number, unit = line.split()[:2]
    if metric_type == "size":
        return float(number) * _SIZE[unit]
    if metric_type in ("timing", "nsTiming"):
        return float(number) * _TIME[unit]
    raise ValueError(f"unsupported metric type {metric_type!r}")


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, float] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def read_execution(store, execution_id: int) -> list[Node]:
    """The plan nodes of one SQL execution with their parsed metrics."""
    values = store.executionMetrics(execution_id)
    graph = store.planGraph(execution_id)
    nodes: dict[int, Node] = {}
    for jn in _seq(graph.allNodes()):
        node = Node(jn.id(), jn.name(), jn.desc())
        for jm in _seq(jn.metrics()):
            value = values.get(jm.accumulatorId())
            kind = jm.metricType()
            if value.isDefined() and kind in ("sum", "size", "timing", "nsTiming"):
                node.metrics[jm.name()] = parse_metric(value.get(), kind)
        nodes[node.id] = node
    for edge in _seq(graph.edges()):
        if edge.toId() in nodes:
            nodes[edge.toId()].children.append(edge.fromId())
    return list(nodes.values())


def read_new_executions(store, first: int, count: int) -> list[list[Node]]:
    """Node lists of the executions at positions ``first`` ..
    ``first + count`` of the store (ordered by execution id)."""
    if count <= 0:
        return []
    return [
        read_execution(store, e.executionId())
        for e in _seq(store.executionsList(first, count))
    ]


def udf_calls(desc: str) -> list[str]:
    """Names of the Python UDF calls in a node description. A UDF call
    prints as ``name(args)#exprId``; built-in expressions nested in its
    arguments carry no ``#`` after their closing parenthesis."""
    names = []
    for match in _CALL.finditer(desc):
        depth, i = 1, match.end()
        while i < len(desc) and depth:
            depth += {"(": 1, ")": -1}.get(desc[i], 0)
            i += 1
        if desc[i : i + 1] == "#":
            names.append(match.group(1))
    return names


def attribute_udf(desc: str, index: dict[str, set[str]]) -> str:
    """Layer credited with a Python UDF node, from the UDF names in its
    plan description and ``index`` (UDF name -> layers of the modules
    that built a UDF of that name). A node whose UDFs all come from one
    UDF layer is credited to it; unknown, ambiguous or mixed nodes go to
    plans."""
    layers: set[str] = set()
    for name in udf_calls(desc):
        layers |= index.get(name, {"plans"})
    if len(layers) == 1:
        layer = next(iter(layers))
        if layer in UDF_LAYERS:
            return layer
    return "plans"


def _input_rows(node: Node, nodes: dict[int, Node]) -> float:
    """Rows fed into a node: output rows of the nearest descendants that
    count them (projections and codegen wrappers do not)."""
    total = 0.0
    for cid in node.children:
        child = nodes.get(cid)
        if child is None:
            continue
        if "number of output rows" in child.metrics:
            total += child.metrics["number of output rows"]
        else:
            total += _input_rows(child, nodes)
    return total


def is_python_node(node: Node) -> bool:
    """A Python UDF node. Work inside a construction-time checkpoint job
    reports no metrics to the SQL execution, so the name counts too."""
    return "data sent to Python workers" in node.metrics or bool(_PYTHON_NODE.search(node.name))


def summarize(executions: list[list[Node]], index: dict[str, set[str]]) -> dict[str, float]:
    """Fold executions into the executor-side per-layer metrics.

    ``<layer>.udf_rows_in`` is returned for the caller to divide by the
    number of result rows (``rows_per_result``)."""
    out: dict[str, float] = defaultdict(float)
    for nodes_list in executions:
        nodes = {n.id: n for n in nodes_list}
        for node in nodes_list:
            m = node.metrics
            out["session.spill_bytes"] += m.get("spill size", 0.0)
            if node.name == "Exchange":
                out["session.exchanges"] += 1
                out["session.shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
                out["session.shuffle_records"] += m.get("shuffle records written", 0.0)
                out["session.shuffle_write_s"] += m.get("shuffle write time", 0.0)
                out["session.fetch_wait_s"] += m.get("fetch wait time", 0.0)
            if "Aggregate" in node.name:
                out["session.agg_peak_memory_bytes"] += m.get("peak memory", 0.0)
            if node.name == "BroadcastExchange":
                out["session.broadcast_build_s"] += m.get("time to build", 0.0)
            if "written output" in m:
                # a file write command (InsertIntoHadoopFsRelationCommand):
                # what it wrote, not the size of its target afterwards
                out["sinks.bytes_written"] += m["written output"]
                out["sinks.files_written"] += m.get("number of written files", 0.0)
            if node.name.startswith("Scan "):
                out["tables.scan_s"] += m.get("scan time", 0.0)
                out["tables.scan_bytes"] += m.get("size of files read", 0.0)
                out["tables.files_read"] += m.get("number of files read", 0.0)
            if is_python_node(node):
                layer = attribute_udf(node.desc, index)
                out["session.python_worker_start_s"] += m.get(
                    "time to start Python workers", 0.0
                )
                out[f"{layer}.udf_worker_s"] += m.get("time to run Python workers", 0.0)
                out[f"{layer}.udf_bytes_sent"] += m.get("data sent to Python workers", 0.0)
                out[f"{layer}.udf_bytes_returned"] += m.get(
                    "data returned from Python workers", 0.0
                )
                out[f"{layer}.udf_nodes"] += 1
                out[f"{layer}.udf_rows_in"] += _input_rows(node, nodes)
    return dict(out)
