"""Fold a Spark event log into per-layer totals.

The benchmark labels every call it makes into the engine with
``setJobGroup(group, layer)``; each job records both in its
``SparkListenerJobStart`` properties, and every stage of the job
inherits the label.  Task metrics (GC time, peak execution memory,
shuffle and spill bytes) are summed per label.  Python-UDF metrics are
SQL accumulators: the plan trees in ``SQLExecutionStart`` and
``SQLAdaptiveExecutionUpdate`` name the UDF on each Python node, so the
task accumulator updates are summed per (label, UDF).

Reads the uncompressed, non-rolling JSON-lines log that
``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false`` produce.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

# SQL metric name on a Python plan node -> key in the folded UDF totals
_PY_METRICS = {
    "time to run Python workers": "worker_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
    "number of output rows": "rows",
}
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}
_CALL_RE = re.compile(r"(\w+)\(")


def _layer():
    return {
        "gc_s": 0.0, "peak_mem_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0,
        "udf": defaultdict(lambda: defaultdict(float)),
    }


def _python_nodes(node, out: dict) -> None:
    """accumulatorId -> (udf function name, metric key, scale)."""
    metrics = {m["name"]: m for m in node.get("metrics", [])}
    if "time to run Python workers" in metrics:
        rest = node["simpleString"][len(node["nodeName"]):]
        m = _CALL_RE.search(rest)
        fn = m.group(1) if m else node["nodeName"]
        for name, key in _PY_METRICS.items():
            if name in metrics:
                acc = metrics[name]
                out[acc["accumulatorId"]] = (fn, key, _UNIT.get(acc["metricType"], 1))
    for child in node.get("children", []):
        _python_nodes(child, out)


def _events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def fold(log_dir: str) -> dict[tuple[str, str], dict]:
    """{(job group, job description): layer totals} for every labelled
    job in every event-log file under ``log_dir``.

    Two passes: a cached plan's Python nodes can first appear in the plan
    of a later query than the one whose tasks ran them, so every plan and
    job label is read before any task is folded."""
    stage_label: dict[int, tuple[str, str]] = {}
    accs: dict[int, tuple[str, str, float]] = {}
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is not None:
                label = (group, props.get("spark.job.description", ""))
                for sid in ev["Stage IDs"]:
                    stage_label[sid] = label
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _python_nodes(ev["sparkPlanInfo"], accs)

    layers: dict[tuple[str, str], dict] = defaultdict(_layer)
    for ev in _events(log_dir):
        if ev["Event"] != "SparkListenerTaskEnd":
            continue
        label = stage_label.get(ev["Stage ID"])
        tm = ev.get("Task Metrics")
        if label is None or tm is None:
            continue
        lay = layers[label]
        lay["gc_s"] += tm["JVM GC Time"] / 1e3
        lay["peak_mem_bytes"] = max(lay["peak_mem_bytes"], tm["Peak Execution Memory"])
        lay["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        lay["spill_bytes"] += tm["Disk Bytes Spilled"]
        for acc in ev["Task Info"].get("Accumulables", []):
            hit = accs.get(acc["ID"])
            if hit is not None and "Update" in acc:
                fn, key, scale = hit
                lay["udf"][fn][key] += float(acc["Update"]) * scale
    return dict(layers)
