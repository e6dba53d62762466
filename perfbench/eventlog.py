"""Fold a Spark event log into per-layer totals.

The traced run sets the local property ``perfbench.layer`` around each
layer's calls; every job submitted meanwhile carries it in its
``SparkListenerJobStart`` properties. Stage metrics (the task-metric
accumulables of ``SparkListenerStageCompleted``) are attributed to the
layer of the job that first lists the stage, and each SQL execution's
physical plan is attributed to the layer of its first job.

The log must be written uncompressed and non-rolling (``run.py`` sets
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=
false``), and read only after the SparkContext stopped, when the file is
complete.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

LAYER_PROP = "perfbench.layer"
MB = 1 << 20

# task-metric accumulable -> (field, scale into the field's unit)
_ACCUMS = {
    "internal.metrics.executorCpuTime": ("exec_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_mb", 1 / MB),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / MB),
    "internal.metrics.output.recordsWritten": ("records_written", 1),
}
_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange)\b")


def count_exchanges(plan: str) -> int:
    """Shuffle and broadcast exchanges in a physical plan description.

    Only the operator tree is read (not the numbered node details below
    it), and of an adaptive plan only its ``Final Plan`` part, so an
    exchange is not counted once per plan version. ``ReusedExchange``
    nodes are not counted: they move no data."""
    tree = plan.split("== Physical Plan ==", 1)[-1].split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(tree))


def read(path: str) -> dict[str, dict[str, float]]:
    """``{layer: {jobs, exec_cpu_s, gc_s, shuffle_mb, spill_mb,
    records_written, exchanges}}`` for every tagged layer in the log."""
    stage_layer: dict[int, str] = {}
    exec_layer: dict[int, str] = {}
    plans: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                layer = props.get(LAYER_PROP)
                if not layer:
                    continue
                out[layer]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_layer.setdefault(sid, layer)
                xid = props.get("spark.sql.execution.id")
                if xid is not None:
                    exec_layer.setdefault(int(xid), layer)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                layer = stage_layer.get(info["Stage ID"])
                if layer is None:
                    continue
                for acc in info.get("Accumulables", ()):
                    field = _ACCUMS.get(acc.get("Name"))
                    if field:
                        out[layer][field[0]] += float(acc.get("Value", 0)) * field[1]
            elif kind.endswith(
                ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
            ):
                plans[int(ev["executionId"])] = ev.get("physicalPlanDescription", "")
    for xid, plan in plans.items():
        layer = exec_layer.get(xid)
        if layer is not None:
            out[layer]["exchanges"] += count_exchanges(plan)
    return {k: dict(v) for k, v in out.items()}
