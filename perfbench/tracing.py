"""Per-layer tracing for the traced run (``--trace 1``).

Three sources, all read from the benchmark's own side of the package
boundary:

- ``Spans``: timing wrappers installed on the public functions of
  ``sources.loaders`` and the ``operators.*`` modules before
  ``__spark_entry__`` is imported (the entry binds ``load_table`` by name
  at import time).
- ``read_event_log``: Spark's own event log (uncompressed, one file),
  rolled up per benchmark window.  Every job, stage, task and SQL
  execution is attributed to the (op, phase) window its submit time falls
  in; the client is single and closed-loop, so windows never overlap.
- ``StreamProgress``: a ``StreamingQueryListener`` that keeps the phase
  durations of every micro-batch.

``log_counters`` counts robustness events in the driver log.
"""

from __future__ import annotations

import bisect
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# the operator modules ``__spark_entry__`` imports
OPERATOR_MODULES = (
    "cdc", "dedup", "elementwise", "grouped", "incremental", "joins",
    "kendall", "multimodal", "ordered", "packing", "reductions", "resample",
    "reshape", "rollup", "sampling", "similarity", "text", "vecstore",
    "windows",
)

PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")


class Spans:
    """Call spans ``(layer, start, end)`` in epoch seconds.

    Only the outermost call into a layer on a thread is recorded, so a
    public function calling another public function of the same module
    is not counted twice.  Calls on different threads (the package's
    internal pools) are recorded separately and can overlap."""

    def __init__(self) -> None:
        self.records: list[tuple[str, float, float]] = []
        self.enabled = True
        self._active = threading.local()

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            active = self._active.__dict__
            if not self.enabled or active.get(layer):
                return fn(*args, **kwargs)
            active[layer] = True
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                active[layer] = False
                self.records.append((layer, t0, time.time()))

        return wrapper


def instrument(spans: Spans) -> None:
    """Wrap ``load_table`` and every public function of the operator
    modules, and rebind the names other package modules took with
    ``from ... import``.  Must run before ``__spark_entry__`` is imported."""
    from parallel_pandas_spark.sources import loaders

    wrappers = {loaders.load_table: spans.wrap("sources.load_table", loaders.load_table)}
    loaders.load_table = wrappers[loaders.load_table]
    for name in OPERATOR_MODULES:
        mod = importlib.import_module(f"parallel_pandas_spark.operators.{name}")
        for attr, fn in list(vars(mod).items()):
            if (
                not attr.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
            ):
                wrappers[fn] = spans.wrap(f"operators.{name}", fn)
                setattr(mod, attr, wrappers[fn])
    for modname, mod in list(sys.modules.items()):
        if modname.startswith("parallel_pandas_spark"):
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrappers:
                    setattr(mod, attr, wrappers[val])


class StreamProgress(StreamingQueryListener):
    """Phase durations (ms) of every micro-batch that read input rows,
    keyed by the batch's trigger time (epoch seconds)."""

    def __init__(self) -> None:
        self.batches: list[tuple[float, dict]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            self.batches.append((ts.timestamp(), dict(p.durationMs)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def log_counters(log_path: str) -> dict[str, int]:
    """Uncaught JVM thread errors and trigger overruns in the driver log."""
    errors = behind = 0
    with open(log_path, errors="replace") as fh:
        for line in fh:
            if "Exception in thread" in line:
                errors += 1
            elif "Current batch is falling behind" in line:
                behind += 1
    return {"thread_errors": errors, "falling_behind": behind}


class Windows:
    """Non-overlapping benchmark windows ``(start, end, key)`` in epoch
    seconds; ``key`` is ``(op, phase, execution index)``."""

    def __init__(self) -> None:
        self.starts: list[float] = []
        self.spans: list[tuple[float, float, tuple]] = []

    def add(self, start: float, end: float, key: tuple) -> None:
        """Windows are added in time order."""
        self.starts.append(start)
        self.spans.append((start, end, key))

    def find(self, t: float):
        # Spark stamps events in whole milliseconds, truncated
        i = bisect.bisect_right(self.starts, t + 0.001) - 1
        if i >= 0 and t <= self.spans[i][1]:
            return self.spans[i][2]
        return None


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def read_event_log(path: str, windows: Windows, group_prefix: str) -> dict:
    """Roll Spark's event log up per window key.

    Returns ``{"per_key": {key: counters}, "jobs": n, "jobs_in_window": n}``;
    ``grouped_jobs`` counts the jobs whose job group starts with
    ``group_prefix``.  Exchanges and scans are counted on the final
    adaptive plan of each SQL execution."""
    per_key: dict = defaultdict(lambda: defaultdict(float))
    stage_key: dict = {}
    stage_submit: dict = {}
    stage_run: dict = defaultdict(float)
    stage_python: set = set()
    exec_key: dict = {}
    final_plan: dict = {}
    exec_accums: dict = defaultdict(dict)  # exec -> accum id -> role
    accum_role: dict = {}
    driver_accums: list = []
    n_jobs = n_in_window = 0

    def note_plan(eid, info):
        final_plan[eid] = info
        for node in _plan_nodes(info):
            name = node["nodeName"]
            python = any(m in name for m in PYTHON_NODE_MARKERS)
            for m in node.get("metrics", ()):
                role = None
                if name.startswith("Scan ") and m["name"] == "number of output rows":
                    role = "scan_rows"
                elif name.startswith("Scan ") and m["name"] == "number of files read":
                    role = "files_read"
                elif python and m["name"] == "data sent to Python workers":
                    role = "python_bytes_sent"
                elif python and m["name"] == "data returned from Python workers":
                    role = "python_bytes_returned"
                elif python:
                    role = "python_node"
                if role:
                    accum_role[m["accumulatorId"]] = role
                    exec_accums[eid][m["accumulatorId"]] = role

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                n_jobs += 1
                key = windows.find(ev["Submission Time"] / 1000)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if key is not None:
                    n_in_window += 1
                    per_key[key]["jobs"] += 1
                    per_key[key]["grouped_jobs"] += group.startswith(group_prefix)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = (info["Stage ID"], info["Stage Attempt ID"])
                submit = info.get("Submission Time") or 0
                stage_submit[sid] = submit
                key = windows.find(submit / 1000)
                stage_key[sid] = key
                if key is not None:
                    per_key[key]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = (ev["Stage ID"], ev["Stage Attempt ID"])
                key = stage_key.get(sid)
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                run_s = tm.get("Executor Run Time", 0) / 1000
                stage_run[sid] += run_s
                for acc in ti.get("Accumulables", ()):
                    role = accum_role.get(acc["ID"])
                    if role is None:
                        continue
                    if role.startswith("python"):
                        stage_python.add(sid)
                    if key is not None and role != "python_node":
                        per_key[key][role] += float(acc.get("Update") or 0)
                if key is None:
                    continue
                c = per_key[key]
                c["tasks"] += 1
                c["task_run_s"] += run_s
                c["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                c["task_wait_s"] += max(
                    0, ti["Launch Time"] - stage_submit.get(sid, ti["Launch Time"])
                ) / 1000
                sr = tm.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                c["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                c["output_bytes"] += (tm.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
                c["peak_exec_mem_bytes"] = max(
                    c["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0)
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_key[ev["executionId"]] = windows.find(ev["time"] / 1000)
                note_plan(ev["executionId"], ev["sparkPlanInfo"])
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                note_plan(ev["executionId"], ev["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_accums.append((ev["executionId"], ev["accumUpdates"]))

    for eid, updates in driver_accums:
        key = exec_key.get(eid)
        for acc_id, value in updates:
            role = exec_accums[eid].get(acc_id)
            if key is not None and role in ("files_read", "scan_rows"):
                per_key[key][role] += float(value)
    for eid, info in final_plan.items():
        key = exec_key.get(eid)
        if key is None:
            continue
        for node in _plan_nodes(info):
            name = node["nodeName"]
            if name in ("Exchange", "BroadcastExchange"):
                per_key[key]["exchanges"] += 1
            elif name.startswith("Scan "):
                per_key[key]["scans"] += 1
    for sid in stage_python:
        key = stage_key.get(sid)
        if key is not None:
            per_key[key]["python_stage_run_s"] += stage_run[sid]
    return {"per_key": per_key, "jobs": n_jobs, "jobs_in_window": n_in_window}
