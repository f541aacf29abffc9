"""Spans and Spark counters for the traced run.

A statement is a root span. Each call the benchmark makes into an
engine layer is a child span named after the layer's module, and the
plan and collect steps are the ``spark.plan`` / ``spark.exec`` children.
Spark's own counters are read after each collect: jobs, stages and tasks
from the status tracker (one job group per statement phase) and the
executed plan's SQL metrics. Spans stay in memory and are written to
JSON when the run ends.

With tracing off, ``Tracer.call`` is a plain call and nothing is read
from Spark beyond the result itself.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metrics summed over the executed plan (metric key -> counter name)
_PLAN_METRICS = {
    "numOutputRows": "rows_out",
    "numFiles": "files",
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
    "pythonNumRowsReceived": "python_rows",
    "pythonDataSent": "python_bytes",
    "pythonDataReceived": "python_bytes",
}
_SCAN_NODES = ("Scan", "InMemoryTableScan")


def plan_counters(df) -> dict:
    """Sum the SQL metrics of ``df``'s executed plan, unwrapping adaptive
    plans and query stages. Scan rows and file counts are kept apart
    from the other operators' row counts."""
    out: dict[str, float] = defaultdict(float)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        is_scan = name.startswith(_SCAN_NODES)
        for key, counter in _PLAN_METRICS.items():
            opt = metrics.get(key)
            if not opt.isDefined():
                continue
            v = float(opt.get().value())
            if key == "numOutputRows":
                if is_scan:
                    out["scan_rows"] += v
                continue
            if key == "numFiles":
                out["files"] += v
                out["file_scans"] += 1
                continue
            out[counter] += v
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return dict(out)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._group = 0
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def call(self, layer: str, fn, *args, **kwargs):
        """Call into an engine layer, as a child span when tracing."""
        try:
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(getattr(fn, "__name__", "call"), layer):
                return fn(*args, **kwargs)
        except Exception as e:
            # lets the runner charge the failure to this layer
            if not hasattr(e, "perfbench_layer"):
                e.perfbench_layer = layer
            raise

    # --- Spark job accounting ---------------------------------------------
    def job_group(self) -> str | None:
        """Start a new job group; returns its id (None when off)."""
        if not self.enabled:
            return None
        self._group += 1
        gid = f"perfbench-{self._group}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid

    def job_counts(self, gid: str | None) -> dict:
        if gid is None:
            return {}
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                sinfo = st.getStageInfo(s)
                if sinfo is not None:
                    stages += 1
                    tasks += sinfo.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def clear_group(self) -> None:
        if self.enabled:
            self.spark.sparkContext.setJobGroup("", "")

    # --- derived tables -------------------------------------------------------
    def self_times(self) -> dict:
        """Per-layer self time: each span's duration minus the time its
        children cover (children of one span never overlap here)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        table: dict[str, dict] = defaultdict(lambda: {"self_ms": 0.0, "spans": 0})
        for s in self.spans:
            if s["end"] is None:
                continue
            self_ms = (s["end"] - s["start"] - child_time[s["id"]]) * 1e3
            row = table[s["layer"]]
            row["self_ms"] += self_ms
            row["spans"] += 1
        return dict(table)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_time": self.self_times(), **extra}, fh, indent=1)
