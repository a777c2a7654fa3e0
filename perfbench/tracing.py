"""Spans around layer calls, Spark event-log counters and stream progress.

Spans stay in memory and are written out when the run ends.  Counters
are read after the run from Spark's event log and keyed to layers by
the job description the tracer sets for each span
(``perfbench|<run_id>|<layer>``); Structured Streaming batch jobs key
to the ``stream`` layer.  Untraced runs use ``Tracer(spark, None)``,
which records nothing and sets no job description.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import threading
import time

JOB_TAG = "perfbench"


class Tracer:
    def __init__(self, spark, run_id: str | None):
        self.spark = spark
        self.run_id = run_id
        self.enabled = run_id is not None
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobDescription(f"{JOB_TAG}|{self.run_id}|{name}")
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})
            sc.setJobDescription(
                f"{JOB_TAG}|{self.run_id}|{parent}" if parent else None)

    def instrument_stages(self, runner, prefix: str = "plans"):
        """Give each ``PipelineRunner`` stage its own span (``plans.fit``
        ... ``plans.route``) by wrapping the runner's stage hook from
        outside; the runner's code is unchanged."""
        if not self.enabled:
            return
        inner = runner._stage

        def _stage(name, *args, **kwargs):
            with self.span(f"{prefix}.{name}"):
                return inner(name, *args, **kwargs)

        runner._stage = _stage

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


class EventLog:
    """Per-stage counters from one Spark event log, keyed by layer.

    Only the traced run's jobs get a layer: those whose description the
    tracer set, and the batches of the streaming query ``stream_run_id``.
    ``scan_root`` names the workload's input: the scan counters
    (``size of files read``, ``scan time``) count only the plan's scan
    nodes that read under it, i.e. the engine's own reads of its input.
    """

    SCAN_METRICS = ("size of files read", "scan time")

    def __init__(self, log_dir: str, scan_root: str,
                 stream_run_id: str | None = None):
        paths = sorted(glob.glob(f"{log_dir}/*"))
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, got {paths}")
        self.scan_root = scan_root
        self.stream_run_id = stream_run_id
        self.stage_layer: dict[int, str] = {}
        self.exec_layer: dict[int, str] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        # accumulator id -> metric name, for the input's scan nodes
        self.scan_acc: dict[int, str] = {}
        # "size of files read" is a driver-side SQL metric, valued by
        # DriverAccumUpdates: (execution id, accumulator id) -> value
        self.driver_acc: dict[tuple[int, int], float] = {}
        with open(paths[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    layer = self._layer(props.get("spark.job.description") or "")
                    for sid in ev.get("Stage IDs", []):
                        self.stage_layer[sid] = layer
                    if layer and props.get("spark.sql.execution.id") is not None:
                        self.exec_layer[int(props["spark.sql.execution.id"])] = layer
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    self._plan_metrics(ev.get("sparkPlanInfo") or {})
                elif kind.endswith("DriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        self.driver_acc[(ev["executionId"], acc_id)] = value
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    self.stages[info["Stage ID"]] = info
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.setdefault(ev["Stage ID"], []).append(ev)

    def _plan_metrics(self, node: dict):
        if (node.get("nodeName", "").startswith("Scan")
                and self.scan_root in node.get("simpleString", "")):
            for m in node.get("metrics", []):
                if m.get("name") in self.SCAN_METRICS:
                    self.scan_acc[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            self._plan_metrics(child)

    def input_bytes_read(self) -> float:
        """Bytes of the input's files the engine's scans selected."""
        return sum(v for (ex, acc), v in self.driver_acc.items()
                   if self.scan_acc.get(acc) == "size of files read"
                   and ex in self.exec_layer)

    def input_scan_s(self) -> float:
        """Task time the engine's scans of the input spent reading."""
        return sum(float(a.get("Value") or 0) / 1000.0
                   for sid, st in self.stages.items()
                   if self.stage_layer.get(sid)
                   for a in st.get("Accumulables", [])
                   if self.scan_acc.get(a.get("ID")) == "scan time")

    def _layer(self, desc: str) -> str:
        if desc.startswith(JOB_TAG + "|"):
            return desc.split("|", 2)[2]
        if self.stream_run_id and f"runId = {self.stream_run_id}" in desc:
            return "stream"
        return ""

    def stage_ids(self, layer: str) -> list[int]:
        return [s for s, lay in self.stage_layer.items()
                if lay == layer and s in self.stages]

    def task_metrics(self, stage_ids) -> list[dict]:
        return [t.get("Task Metrics") or {}
                for s in stage_ids for t in self.tasks.get(s, [])]

    def total(self, stage_ids, *path) -> float:
        acc = 0
        for m in self.task_metrics(stage_ids):
            for key in path:
                m = (m or {}).get(key) if isinstance(m, dict) else None
            acc += m or 0
        return acc

    def accumulable(self, stage_ids, name: str) -> float:
        acc = 0
        for s in stage_ids:
            for a in self.stages[s].get("Accumulables", []):
                if a.get("Name") == name:
                    acc += float(a.get("Value") or 0)
        return acc

    def run_time_s(self, stage_ids) -> float:
        return self.total(stage_ids, "Executor Run Time") / 1000.0

    def stage_wall_s(self, stage_ids) -> float:
        return sum((self.stages[s]["Completion Time"]
                    - self.stages[s]["Submission Time"]) / 1000.0
                   for s in stage_ids)

    def shuffle_read_stages(self, stage_ids) -> list[int]:
        return [s for s in stage_ids
                if self.total([s], "Shuffle Read Metrics",
                              "Remote Bytes Read")
                + self.total([s], "Shuffle Read Metrics",
                             "Local Bytes Read") > 0]

    def task_skew(self, stage_ids) -> float:
        """max ÷ median task run time of the busiest stage."""
        if not stage_ids:
            return 0.0
        busiest = max(stage_ids, key=lambda s: self.run_time_s([s]))
        times = [m.get("Executor Run Time", 0)
                 for m in self.task_metrics([busiest])]
        med = statistics.median(times) if times else 0
        return max(times) / med if med else 0.0

    def layer_counters(self, stage_ids) -> dict:
        return {
            "shuffle_bytes": self.total(stage_ids, "Shuffle Write Metrics",
                                        "Shuffle Bytes Written"),
            "spill_bytes": self.total(stage_ids, "Memory Bytes Spilled")
                           + self.total(stage_ids, "Disk Bytes Spilled"),
            "bytes_written": self.total(stage_ids, "Output Metrics",
                                        "Bytes Written"),
            "arrow_bytes": self.accumulable(stage_ids,
                                            "data sent to Python workers")
                           + self.accumulable(stage_ids,
                                              "data returned from Python workers"),
        }


def stream_listener_class():
    """A StreamingQueryListener that keeps every progress report of the
    queries it sees and signals each query's termination."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated = threading.Event()
            self._lock = threading.Lock()

        def reset(self):
            with self._lock:
                self.progress = []
            self.terminated.clear()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {"run_id": str(p.runId), "batch": p.batchId,
                   "rows": p.numInputRows,
                   "duration_ms": dict(p.durationMs),
                   "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                   "state_bytes": sum(s.memoryUsedBytes
                                      for s in p.stateOperators)}
            with self._lock:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.set()

        def batches(self) -> list[dict]:
            with self._lock:
                return [p for p in self.progress if p["rows"] > 0]

    return ProgressLog
