"""SQL metrics of the Arrow fence, read from an executed physical plan.

The fused quality UDF runs in an ``ArrowEvalPython`` node. Spark keeps
that node's metrics (time in the Python runner, worker boot and init,
bytes sent and received, rows received) on the plan that executed. Under
adaptive execution the executed plan is an ``AdaptiveSparkPlanExec``
whose final plan holds query stages, and each stage wraps the subtree it
ran, so the walk descends through both.

Read the metrics from the Dataset whose action ran: ``collect`` and
``count`` execute the Dataset's own query execution, so its plan carries
the values; a ``write`` plans a separate command and leaves them empty.
"""

from __future__ import annotations

from typing import Iterator

# SQL metric key on ArrowEvalPython -> ledger name
FENCE_METRICS = {
    "pythonTotalTime": "python_total_s",
    "pythonBootTime": "python_boot_s",
    "pythonInitTime": "python_init_s",
    "pythonDataSent": "python_data_sent_mb",
    "pythonDataReceived": "python_data_received_mb",
    "pythonNumRowsReceived": "python_rows_received",
}

# SQLMetric.metricType -> factor to seconds, megabytes or a plain count
_SCALE = {"nsTiming": 1e-9, "timing": 1e-3, "size": 1e-6, "sum": 1.0}


def plan_nodes(plan) -> Iterator:
    """Every physical node of an executed plan (a py4j SparkPlan),
    looking through adaptive wrappers and query stages."""
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def fence_metrics(df) -> dict[str, float]:
    """Fence metrics summed over the ArrowEvalPython nodes of ``df``'s
    executed plan; raises LookupError when the plan has no such node."""
    totals = dict.fromkeys(FENCE_METRICS.values(), 0.0)
    found = 0
    for node in plan_nodes(df._jdf.queryExecution().executedPlan()):
        if node.nodeName() != "ArrowEvalPython":
            continue
        found += 1
        metrics = node.metrics()
        for key, name in FENCE_METRICS.items():
            opt = metrics.get(key)
            if opt.isDefined():
                m = opt.get()
                totals[name] += m.value() * _SCALE[m.metricType()]
    if not found:
        raise LookupError("no ArrowEvalPython node in the executed plan")
    return totals
