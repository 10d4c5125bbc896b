"""Spans recorded around calls into the package, plus Spark's own counters.

A span is opened by the benchmark around one call into a layer (name,
start, end, parent, run id).  While a span is open, every Spark job it
submits carries the span's job group, so the event log attributes jobs,
stages, tasks, task metrics and SQL metrics to the innermost span.  Spans
stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import collections
import contextlib
import glob
import json
import os
import time

# physical operators that ship rows to Python workers
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowWindowPython", "FlatMapGroupsInArrow")
# SQL metric display names of those operators -> short counter names
PYTHON_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "number of output rows": "python_rows_out",
}


class Tracer:
    """In-memory spans; ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool, run_id: str, spark=None):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid):
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"span{sid}", self.spans[sid]["name"])

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def subtree(self, sid: int) -> list[int]:
        kids = collections.defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s["id"])
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids[cur])
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its direct children cover."""
        kids = collections.defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, counters: dict) -> None:
        selfs = self.self_times()
        spans = [
            {**s, "duration_s": s["end"] - s["start"], "self_s": selfs[s["id"]],
             "spark": counters.get(s["id"], {})}
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": spans}, f, indent=1, default=str)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _walk_plan(node, out: dict[int, str]) -> None:
    if node.get("nodeName", "").split(" ")[0] in PYTHON_NODES:
        for m in node.get("metrics", []):
            short = PYTHON_METRICS.get(m["name"])
            if short:
                out[m["accumulatorId"]] = short
    for child in node.get("children", []):
        _walk_plan(child, out)


def span_counters(log_dir: str) -> dict[int, dict[str, float]]:
    """Parse the (stopped) session's event log: per span id, the jobs,
    stages and tasks it ran and the sum of their task metrics."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if not files:
        return {}
    stage_group: dict[int, int] = {}
    py_acc: dict[int, str] = {}
    counters: dict[int, dict[str, float]] = collections.defaultdict(collections.Counter)
    with open(max(files, key=os.path.getmtime)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not group.startswith("span"):
                    continue
                sid = int(group[4:])
                counters[sid]["jobs"] += 1
                for st in ev.get("Stage Infos", []):
                    stage_group[st["Stage ID"]] = sid
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(ev.get("sparkPlanInfo", {}), py_acc)
            elif kind == "SparkListenerStageCompleted":
                sid = stage_group.get(ev["Stage Info"]["Stage ID"])
                if sid is not None:
                    counters[sid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_group.get(ev.get("Stage ID"))
                if sid is None:
                    continue
                c = counters[sid]
                tm = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                c["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                c["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                c["bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    short = py_acc.get(acc.get("ID"))
                    if short and acc.get("Update") is not None:
                        c[short] += float(acc["Update"])
    return {k: dict(v) for k, v in counters.items()}


def rollup(tracer: Tracer, counters: dict, sid: int) -> collections.Counter:
    """Counters of a span and all spans nested in it."""
    total: collections.Counter = collections.Counter()
    for s in tracer.subtree(sid):
        total.update(counters.get(s, {}))
    return total
