"""Read a query's executed plan and the jobs it ran, through py4j.

``walk`` descends the *final* adaptive plan, including the plans wrapped
by ``ShuffleQueryStage``/``BroadcastQueryStage`` and reused exchanges, and
returns one ``(node_name, in_codegen, {metric: value})`` tuple per
operator.  It must be given the DataFrame whose own QueryExecution ran:
an action such as ``df.write.format("noop")`` starts a new QueryExecution
and leaves the metrics of ``df``'s plan empty.
"""

from __future__ import annotations

# operators that only wrap or re-route another operator's output
_STRUCTURAL = {
    "AdaptiveSparkPlanExec", "WholeStageCodegenExec", "InputAdapter",
    "ShuffleQueryStageExec", "BroadcastQueryStageExec", "TableCacheQueryStageExec",
    "ReusedExchangeExec", "AQEShuffleReadExec", "ShuffleExchangeExec",
    "BroadcastExchangeExec", "ColumnarToRowExec", "RowToColumnarExec",
}

_PYTHON = ("MapInPandasExec", "MapInArrowExec", "PythonMapInArrowExec",
           "ArrowEvalPythonExec", "BatchEvalPythonExec", "FlatMapGroupsInPandasExec",
           "FlatMapGroupsInArrowExec", "FlatMapCoGroupsInPandasExec",
           "AggregateInPandasExec", "WindowInPandasExec", "ArrowWindowPythonExec")


def _children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    out = []
    it = node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    sub = node.subqueries().iterator()
    while sub.hasNext():
        out.append(sub.next())
    return out


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def walk(df) -> list[tuple[str, bool, dict[str, int]]]:
    root = df._jdf.queryExecution().executedPlan()
    nodes: list[tuple[str, bool, dict[str, int]]] = []
    stack = [(root, False)]
    while stack:
        node, in_cg = stack.pop()
        name = node.getClass().getSimpleName()
        nodes.append((name, in_cg, _metrics(node)))
        # a reused exchange's metrics belong to the stage it points at,
        # which the walk reaches through that stage
        if name == "ReusedExchangeExec":
            continue
        # InputAdapter is the boundary of a fused stage
        below = (in_cg or name == "WholeStageCodegenExec") and name != "InputAdapter"
        for child in _children(node):
            stack.append((child, below))
    return nodes


def summarize(nodes) -> dict[str, float]:
    """Fold walked operators into the ``exec.*``/``kernels.*`` counters."""
    s = dict.fromkeys((
        "exec.shuffle_bytes", "exec.shuffle_records", "exec.exchanges",
        "exec.spill_bytes", "exec.non_codegen_ops", "exec.codegen_stages",
        "exec.scan_rows", "exec.scan_bytes", "exec.broadcast_bytes",
        "exec.peak_mem_bytes", "kernels.python_total_ms", "kernels.python_boot_ms",
        "kernels.python_init_ms", "kernels.rows", "kernels.bytes_sent",
        "kernels.bytes_received",
    ), 0)
    for name, in_cg, m in nodes:
        if name == "ShuffleExchangeExec":
            s["exec.exchanges"] += 1
            s["exec.shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            s["exec.shuffle_records"] += m.get("shuffleRecordsWritten", 0)
        elif name == "BroadcastExchangeExec":
            s["exec.broadcast_bytes"] += m.get("dataSize", 0)
        elif name == "WholeStageCodegenExec":
            s["exec.codegen_stages"] += 1
        elif "Scan" in name and name != "RDDScanExec":
            s["exec.scan_rows"] += m.get("numOutputRows", 0)
            s["exec.scan_bytes"] += m.get("filesSize", 0)
        if name.startswith(_PYTHON):
            s["kernels.python_total_ms"] += m.get("pythonTotalTime", 0)
            s["kernels.python_boot_ms"] += m.get("pythonBootTime", 0)
            s["kernels.python_init_ms"] += m.get("pythonInitTime", 0)
            s["kernels.rows"] += m.get("pythonNumRowsReceived", 0)
            s["kernels.bytes_sent"] += m.get("pythonDataSent", 0)
            s["kernels.bytes_received"] += m.get("pythonDataReceived", 0)
        # scans produce columnar batches and are never fused, by design
        if not in_cg and name not in _STRUCTURAL and "Scan" not in name:
            s["exec.non_codegen_ops"] += 1
        s["exec.spill_bytes"] += m.get("spillSize", 0)
        s["exec.peak_mem_bytes"] = max(s["exec.peak_mem_bytes"], m.get("peakMemory", 0))
    return s
