"""Read Spark's JSON event log into per-span engine metrics.

Jobs belong to the span whose wall-clock window contains their
submission time (the benchmark submits one job chain at a time). Plan
node metrics come from task-end accumulator updates, mapped to plan nodes
through the SQL execution plan infos (initial and adaptive).

Layer attribution of plan nodes is by plan shape, for the unmodified
extraction plan: every Python UDF there is named `run`, so a
MapInPandas/ArrowEvalPython/FlatMapGroupsInPandas node is recognised by
its input columns, an Exchange by its partition key or by the nearest
classified node below it.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "BatchEvalPython")
PY_TIME = "time to run Python workers"
PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"
SHUFFLE = "shuffle bytes written"
SPILL = "spill size"
ROWS = "number of output rows"


def layer_of(node_name: str, simple: str) -> str | None:
    if node_name in PYTHON_NODES:
        if "img_bytes" in simple:
            return "fused"
        if "table_idx" in simple:
            return "tables"
        if "line_idx" in simple:
            return "recognition"
        return "other"
    if node_name == "Exchange" and "hashpartitioning(doc_id" in simple:
        return "assemble"
    if node_name == "InMemoryTableScan":
        for marker, layer in (("crop_kind", "fused"), ("row_id", "tables"),
                              ("text#", "recognition")):
            if marker in simple:
                return layer
    return None


@dataclass
class SpanMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    by_layer: dict = field(default_factory=dict)  # layer -> metric -> value
    totals: dict = field(default_factory=dict)  # metric -> value
    peak_cached_bytes: int = 0


class EventLog:
    def __init__(self, log_dir: str):
        # Spark 4 writes <dir>/eventlog_v2_<app>/events_<n>_<app>
        files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
        self.events: list[dict] = []
        for path in files:
            with open(path) as f:
                self.events.extend(json.loads(line) for line in f if line)
        self.acc_node: dict[int, tuple[str, str, str]] = {}
        for ev in self.events:
            info = ev.get("sparkPlanInfo")
            if info:
                self._index_plan(info)

    def _index_plan(self, node: dict) -> str | None:
        """Map each metric accumulator of the plan tree to (layer, metric
        name, metric type); returns the layer this subtree belongs to."""
        own = layer_of(node["nodeName"], node["simpleString"])
        below = None
        for child in node["children"]:
            below = self._index_plan(child) or below
        layer = own or below
        if node["nodeName"] == "Exchange" and layer is None:
            layer = "pages_for"  # the blob/ref exchanges above the scans
        for m in node["metrics"]:
            self.acc_node[m["accumulatorId"]] = (
                layer or "other", m["name"], m["metricType"])
        return own or below

    def span(self, start_ms: float, end_ms: float) -> SpanMetrics:
        out = SpanMetrics()
        stage_ids: set[int] = set()
        first = last = None
        job_ids: set[int] = set()
        for i, ev in enumerate(self.events):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart" and \
                    start_ms <= ev["Submission Time"] <= end_ms:
                out.jobs += 1
                job_ids.add(ev["Job ID"])
                stage_ids.update(ev["Stage IDs"])
                first = i if first is None else first
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_ids:
                last = i
        done: set[int] = set()
        for ev in self.events:
            kind = ev["Event"]
            if kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_ids:
                    done.add(sid)
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_ids:
                out.tasks += 1
                for acc in ev["Task Info"].get("Accumulables", []):
                    self._add(out, acc)
        out.stages = len(done)
        if first is not None and last is not None:
            out.peak_cached_bytes = self._peak_cached(first, last)
        return out

    def _add(self, out: SpanMetrics, acc: dict) -> None:
        node = self.acc_node.get(acc.get("ID"))
        if node is None or acc.get("Update") is None:
            return
        layer, name, mtype = node
        try:
            value = float(acc["Update"])
        except (TypeError, ValueError):
            return
        if mtype == "timing":
            value /= 1e3  # ms -> s
        elif mtype == "nsTiming":
            value /= 1e9
        per = out.by_layer.setdefault(layer, {})
        per[name] = per.get(name, 0.0) + value
        out.totals[name] = out.totals.get(name, 0.0) + value

    def _peak_cached(self, first: int, last: int) -> int:
        """Peak total size of cached RDD blocks between two event indices
        (block updates carry no timestamp; the log is in event order)."""
        sizes: dict[str, int] = {}
        current = peak = 0
        for ev in self.events[first:last + 1]:
            if ev["Event"] != "SparkListenerBlockUpdated":
                continue
            info = ev["Block Updated Info"]
            if not info["Block ID"].startswith("rdd_"):
                continue
            size = info["Memory Size"] + info["Disk Size"]
            current += size - sizes.get(info["Block ID"], 0)
            sizes[info["Block ID"]] = size
            peak = max(peak, current)
        return peak
