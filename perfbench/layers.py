"""Per-layer metrics of a traced run: each operation's counters from
the recorder and the folded event log, summed per warm pass, then the
median over warm passes (the last warm pass for the metrics that
describe the state the passes built up)."""

from __future__ import annotations

from collections import defaultdict

from pbtrace import MB, event_log_files, fold_events, fold_progress, read_events
from stats import median

# metric -> unit
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.load_tables_s": "s",
    "sources.files_read": "count",
    "sources.bytes_read_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_py4j_calls": "count",
    "plans.analysis_s": "s",
    "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.cpu_util": "ratio",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.peak_exec_mem_mb": "MB",
    "arrow.rows_to_python": "count",
    "arrow.bytes_to_python_mb": "MB",
    "arrow.bytes_from_python_mb": "MB",
    "arrow.python_run_s": "s",
    "pipeline.refresh_s": "s",
    "pipeline.refresh_last_s": "s",
    "pipeline.stored_bytes_per_input_byte": "ratio",
    "pipeline.transform_s": "s",
    "pipeline.register_s": "s",
    "pipeline.views_create_s": "s",
    "views.read_s": "s",
    "etl.files_written": "count",
    "etl.bytes_written_mb": "MB",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.rows_dropped_late": "count",
    "streaming.events_per_s": "1/s",
    "streaming.batch_p50_s": "s",
}

# taken from the last warm pass: the pipeline lands one more day per pass
LAST_PASS = ("pipeline.refresh_last_s", "pipeline.stored_bytes_per_input_byte")

# recorder / event-log counter -> (metric, scale)
_SUMS = {
    "build_s": ("plans.build_s", 1.0),
    "build_py4j_calls": ("plans.build_py4j_calls", 1.0),
    "build_jobs": ("plans.build_jobs", 1.0),
    "analysis_s": ("plans.analysis_s", 1.0),
    "optimization_s": ("plans.optimization_s", 1.0),
    "planning_s": ("plans.planning_s", 1.0),
    "jobs": ("exec.jobs", 1.0),
    "stages": ("exec.stages", 1.0),
    "tasks": ("exec.tasks", 1.0),
    "cpu_ns": ("exec.cpu_s", 1e-9),
    "gc_ms": ("exec.gc_s", 1e-3),
    "shuffle_read": ("exec.shuffle_read_mb", 1 / MB),
    "shuffle_write": ("exec.shuffle_write_mb", 1 / MB),
    "spill": ("exec.spill_mb", 1 / MB),
    "files_read": ("sources.files_read", 1.0),
    "bytes_read": ("sources.bytes_read_mb", 1 / MB),
    "rows_to_python": ("arrow.rows_to_python", 1.0),
    "bytes_to_python": ("arrow.bytes_to_python_mb", 1 / MB),
    "bytes_from_python": ("arrow.bytes_from_python_mb", 1 / MB),
    "python_run_ms": ("arrow.python_run_s", 1e-3),
    "transform_s": ("pipeline.transform_s", 1.0),
    "views_create_s": ("pipeline.views_create_s", 1.0),
    "views_read_s": ("views.read_s", 1.0),
    "files_written": ("etl.files_written", 1.0),
    "bytes_written": ("etl.bytes_written_mb", 1 / MB),
}


def pass_layers(ops: list[dict], pass_s: float, cores: int) -> tuple[dict, list[float]]:
    """Per-layer totals of one pass from its operations' records;
    also returns the pass's micro-batch trigger times (seconds)."""
    m: dict[str, float] = defaultdict(float)
    triggers: list[float] = []
    stream_rows = stream_s = 0.0
    days = [o for o in ops if o["op"].startswith("pipeline.")]
    for o in ops:
        for key, (metric, scale) in _SUMS.items():
            m[metric] += o.get(key, 0) * scale
        m["exec.peak_exec_mem_mb"] = max(
            m["exec.peak_exec_mem_mb"], o.get("peak_exec_mem", 0) / MB
        )
        if "transform_s" in o:
            m["pipeline.register_s"] += max(
                o["seconds"] - o["transform_s"] - o.get("views_create_s", 0.0)
                - o.get("views_read_s", 0.0),
                0.0,
            )
        # streaming.* describes the streaming jobs alone: the file-stream
        # ingest inside pipeline.run stays in that operation's detail
        if not o["op"].startswith("stream."):
            continue
        prog = fold_progress(o.get("progress", ()))
        m["streaming.batches"] += prog.get("batches", 0)
        m["streaming.add_batch_s"] += prog.get("add_batch_ms", 0) / 1000.0
        m["streaming.commit_s"] += prog.get("commit_ms", 0) / 1000.0
        m["streaming.state_rows"] += prog.get("state_rows", 0)
        m["streaming.state_mb"] += prog.get("state_bytes", 0) / MB
        m["streaming.rows_dropped_late"] += prog.get("rows_dropped_late", 0)
        triggers += [t / 1000.0 for t in prog.get("trigger_ms", ())]
        stream_rows += prog.get("input_rows", 0)
        stream_s += o["seconds"]
    m["exec.cpu_util"] = m["exec.cpu_s"] / (pass_s * cores) if pass_s else 0.0
    m["streaming.events_per_s"] = stream_rows / stream_s if stream_s else 0.0
    if days:
        m["pipeline.refresh_s"] = median(o["seconds"] for o in days)
        m["pipeline.refresh_last_s"] = days[-1]["seconds"]
        m["pipeline.stored_bytes_per_input_byte"] = days[-1].get(
            "stored_bytes_per_input_byte", 0.0
        )
    return m, triggers


def per_layer(rec, setup: dict, passes: list[float], cores: int, log_dir: str):
    """(metrics for the result line, per-operation detail)."""
    folded = fold_events(read_events(event_log_files(log_dir)), rec.windows)
    per_op = {}
    for key, r in rec.records.items():
        merged = dict(r)
        merged.update(folded.get(key, {}))
        merged.pop("progress", None)
        merged["stream"] = {
            k: v for k, v in fold_progress(r.get("progress", ())).items() if k != "trigger_ms"
        }
        per_op[key] = merged
    by_pass: dict[int, list[dict]] = defaultdict(list)
    for key, r in rec.records.items():
        if "pass_idx" in r:
            o = dict(r)
            o.update(folded.get(key, {}))
            by_pass[r["pass_idx"]].append(o)
    warm = []
    triggers: list[float] = []
    for idx in sorted(by_pass):
        if idx == 0:
            continue
        m, t = pass_layers(by_pass[idx], passes[idx], cores)
        warm.append(m)
        triggers += t
    out = {}
    for name, unit in LAYER_UNITS.items():
        value = warm[-1].get(name, 0.0) if name in LAST_PASS else median(
            m.get(name, 0.0) for m in warm
        )
        out[name] = (float(value), unit)
    out["session.start_s"] = (setup["start_s"], "s")
    out["session.warmup_s"] = (setup["warmup_s"], "s")
    out["sources.load_tables_s"] = (setup["load_tables_s"], "s")
    out["streaming.batch_p50_s"] = (median(triggers) if triggers else 0.0, "s")
    return out, per_op
