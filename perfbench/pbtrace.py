"""Tracing for the per-layer metrics, all of it from the benchmark's
side of the engine's public surface:

* the Spark event log, folded per operation by start/end window (one
  client runs one operation at a time; stream threads do not carry the
  caller's job group, so windows are the attribution rule);
* a counter on the py4j gateway client's ``send_command``;
* ``StreamingQuery.recentProgress`` of every query the operation
  starts (captured by wrapping ``DataStreamWriter.start``);
* wall time of module attributes the pipeline calls, by wrapping them.

Nothing here runs unless the run is traced.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator

MB = 1024 * 1024

# plan nodes that ship rows to Python workers (Arrow or pickled)
_PYTHON_NODE_MARKERS = ("Python", "Pandas", "InArrow")
_FILES_READ = "number of files read"
_FILES_SIZE = "size of files read"
_TO_PYTHON = "data sent to Python workers"
_FROM_PYTHON = "data returned from Python workers"
_PYTHON_RUN = "time to run Python workers"
_ROWS = "number of output rows"
BUILD_GROUP = "perfbench-build"


# ---------------------------------------------------------------- event log


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order. Spark 4.1
    rolls the log into ``eventlog_v2_<app>/events_<n>_<app>[.codec]``;
    a single-file log is read as is."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )


def read_events(paths: Iterable[str]) -> Iterator[dict]:
    """JSON events from (optionally zstd-compressed) event-log files."""
    import pyarrow as pa

    for path in paths:
        if path.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as stream:
                data = stream.read()
        else:
            with open(path, "rb") as fh:
                data = fh.read()
        for line in data.decode("utf-8").splitlines():
            if line.strip():
                yield json.loads(line)


def _walk_plan(node: dict) -> Iterator[dict]:
    yield node
    for child in node.get("children", ()):
        yield from _walk_plan(child)


def _rows_metric(node: dict) -> int | None:
    """Accumulator id of the output-row count of ``node``, looking
    through single-child wrappers (codegen stages, input adapters)."""
    while True:
        for m in node.get("metrics", ()):
            if m.get("name") == _ROWS:
                return m["accumulatorId"]
        children = node.get("children", ())
        if len(children) != 1:
            return None
        node = children[0]


def _owner(windows: list[tuple[str, float, float]], t_ms: float) -> str | None:
    for key, start, end in windows:
        if start <= t_ms <= end:
            return key
    return None


def fold_events(
    events: Iterable[dict], windows: list[tuple[str, float, float]]
) -> dict[str, dict[str, float]]:
    """Per-window Spark counters. ``windows`` are (key, start_ms,
    end_ms) in epoch milliseconds; a job belongs to the window holding
    its submission time, a stage and its tasks to their job, a SQL
    execution (and its metrics updated outside tasks) to the window
    holding its start."""
    windows = sorted(windows, key=lambda w: w[1])
    stage_owner: dict[int, str] = {}
    exec_owner: dict[int, str] = {}
    acc_name: dict[int, str] = {}
    rows_to_python_ids: set[int] = set()
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def note_plan(plan: dict) -> None:
        for node in _walk_plan(plan):
            for m in node.get("metrics", ()):
                acc_name[m["accumulatorId"]] = m.get("name", "")
            if any(k in node.get("nodeName", "") for k in _PYTHON_NODE_MARKERS):
                for child in node.get("children", ()):
                    acc = _rows_metric(child)
                    if acc is not None:
                        rows_to_python_ids.add(acc)

    def add_acc(key: str, acc_id: int, name: str | None, update) -> None:
        name = name or acc_name.get(acc_id, "")
        # task-side SQL metric updates are logged as strings
        try:
            update = float(update)
        except (TypeError, ValueError):
            return
        c = out[key]
        if name == _FILES_READ:
            c["files_read"] += update
        elif name == _FILES_SIZE:
            c["bytes_read"] += update
        elif name == _TO_PYTHON:
            c["bytes_to_python"] += update
        elif name == _FROM_PYTHON:
            c["bytes_from_python"] += update
        elif name == _PYTHON_RUN:
            c["python_run_ms"] += update
        if acc_id in rows_to_python_ids:
            c["rows_to_python"] += update

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            key = _owner(windows, ev.get("Submission Time", -1))
            if key is None:
                continue
            c = out[key]
            c["jobs"] += 1
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(BUILD_GROUP):
                c["build_jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_owner[sid] = key
        elif kind == "SparkListenerStageCompleted":
            key = stage_owner.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                out[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_owner.get(ev.get("Stage ID"))
            if key is None:
                continue
            c = out[key]
            c["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            c["cpu_ns"] += tm.get("Executor CPU Time", 0)
            c["gc_ms"] += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            c["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            c["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            c["spill"] += tm.get("Disk Bytes Spilled", 0)
            c["peak_exec_mem"] = max(
                c["peak_exec_mem"], tm.get("Peak Execution Memory", 0)
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                add_acc(key, acc.get("ID"), acc.get("Name"), acc.get("Update"))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            key = _owner(windows, ev.get("time", -1))
            if key is not None:
                exec_owner[ev["executionId"]] = key
            note_plan(ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            note_plan(ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            key = exec_owner.get(ev.get("executionId"))
            if key is not None:
                for acc_id, update in ev.get("accumUpdates", ()):
                    add_acc(key, acc_id, None, update)
    return {k: dict(v) for k, v in out.items()}


# ---------------------------------------------------------------- streaming


def progress_dicts(query) -> list[dict]:
    """``recentProgress`` of a (possibly terminated) query as dicts."""
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def fold_progress(progress: Iterable[dict]) -> dict[str, float]:
    """Micro-batch counters of one or more streaming queries."""
    c: dict[str, float] = defaultdict(float)
    triggers: list[float] = []
    last_state: dict[str, dict] = {}
    for p in progress:
        d = p.get("durationMs") or {}
        c["batches"] += 1
        c["input_rows"] += p.get("numInputRows", 0) or 0
        c["add_batch_ms"] += d.get("addBatch", 0)
        c["commit_ms"] += d.get("commitOffsets", 0) + d.get("walCommit", 0) + d.get(
            "commitBatch", 0
        )
        if "triggerExecution" in d:
            triggers.append(float(d["triggerExecution"]))
        ops = p.get("stateOperators") or []
        for op in ops:
            c["rows_dropped_late"] += op.get("numRowsDroppedByWatermark", 0) or 0
        if ops:
            last_state[p.get("id", "")] = {
                "rows": sum(op.get("numRowsTotal", 0) or 0 for op in ops),
                "bytes": sum(op.get("memoryUsedBytes", 0) or 0 for op in ops),
            }
    c["state_rows"] = sum(s["rows"] for s in last_state.values())
    c["state_bytes"] = sum(s["bytes"] for s in last_state.values())
    out = dict(c)
    out["trigger_ms"] = triggers
    return out


class StreamCapture:
    """Collects every StreamingQuery started until ``close``, by
    wrapping ``DataStreamWriter.start`` (the engine starts its own
    queries inside ``pipeline.run``)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        self.queries: list = []
        self._orig = orig = DataStreamWriter.start

        def start(writer, *a, **kw):
            q = orig(writer, *a, **kw)
            self.queries.append(q)
            return q

        DataStreamWriter.start = start

    def close(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        DataStreamWriter.start = self._orig

    def drain(self) -> list[dict]:
        out = [p for q in self.queries for p in progress_dicts(q)]
        self.queries.clear()
        return out


# ---------------------------------------------------------------- py4j / wraps


class Py4jCounter:
    """Counts py4j round trips while ``counting`` is set, by wrapping
    the gateway client's ``send_command``."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.counting = False
        self._orig = self.client.send_command

        def send_command(*a, **kw):
            if self.counting:
                self.calls += 1
            return self._orig(*a, **kw)

        self.client.send_command = send_command

    def close(self) -> None:
        self.client.send_command = self._orig


class AttrTimer:
    """Accumulates wall seconds spent in module attributes, wrapping
    each ``(module, name)`` for the life of the object."""

    def __init__(self, targets: dict[str, tuple[object, str]]) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self._restore: list[tuple[object, str, Callable]] = []
        for label, (module, name) in targets.items():
            orig = getattr(module, name)
            self._restore.append((module, name, orig))
            setattr(module, name, self._wrap(label, orig))

    def _wrap(self, label: str, fn: Callable) -> Callable:
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.seconds[label] += time.perf_counter() - t0

        return timed

    def take(self) -> dict[str, float]:
        out = dict(self.seconds)
        self.seconds.clear()
        return out

    def close(self) -> None:
        for module, name, orig in reversed(self._restore):
            setattr(module, name, orig)
