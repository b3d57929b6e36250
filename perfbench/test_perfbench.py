"""Tests of the benchmark's pure parts: the event-log fold, the
streaming-progress fold, the checksum-stability rule, metric names,
medians, the tracing-overhead pairing and the result line.
None starts Spark or depends on the host's core count.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import LAYER_UNITS, pass_layers  # noqa: E402
from pbtrace import (  # noqa: E402
    BUILD_GROUP,
    event_log_files,
    fold_events,
    fold_progress,
    read_events,
)
from stats import check_metric_name, median, result_line, trace_overhead  # noqa: E402
from workloads import Op, Workload  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def _plan(node_name, metrics, children=()):
    return {
        "nodeName": node_name,
        "metrics": [{"name": n, "accumulatorId": i} for n, i in metrics],
        "children": list(children),
    }


def _task(stage, cpu_ns=0, gc_ms=0, accs=(), peak=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Peak Execution Memory": peak,
            "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
            "Disk Bytes Spilled": 0,
        },
        "Task Info": {
            "Accumulables": [{"ID": i, "Name": n, "Update": u} for i, n, u in accs]
        },
    }


def _events():
    # python node 2 reads from a codegen-wrapped scan whose row count is
    # accumulator 11; files-read is updated outside tasks (id 30)
    plan = _plan(
        "MapInPandas",
        [("data sent to Python workers", 20), ("data returned from Python workers", 21)],
        [
            _plan("WholeStageCodegen (1)", [], [
                _plan("ColumnarToRow", [("number of output rows", 11)], [
                    _plan("FileScan parquet", [("number of files read", 30)]),
                ]),
            ]),
        ],
    )
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": BUILD_GROUP}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
         "Stage IDs": [1, 2], "Properties": {}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "time": 1550, "sparkPlanInfo": plan},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[30, 3]]},
        _task(0, cpu_ns=2_000_000_000, gc_ms=100),
        _task(1, cpu_ns=1_000_000_000, peak=4096,
              accs=[(20, "data sent to Python workers", "1000"),
                    (21, "data returned from Python workers", "400"),
                    (11, "number of output rows", "42")]),
        _task(2, accs=[(11, "number of output rows", "8")]),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        # a job outside every window is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
         "Stage IDs": [3], "Properties": {}},
        _task(3, cpu_ns=5),
    ]


def test_fold_attributes_jobs_tasks_and_sql_metrics_by_window():
    folded = fold_events(_events(), [("a", 1000, 2000), ("b", 3000, 4000)])
    assert set(folded) == {"a"}
    a = folded["a"]
    assert a["jobs"] == 2 and a["build_jobs"] == 1
    assert a["stages"] == 2 and a["tasks"] == 3
    assert a["cpu_ns"] == 3_000_000_000 and a["gc_ms"] == 100
    assert a["shuffle_read"] == 45 and a["shuffle_write"] == 60
    assert a["peak_exec_mem"] == 4096
    assert a["bytes_to_python"] == 1000 and a["bytes_from_python"] == 400
    assert a["rows_to_python"] == 50
    assert a["files_read"] == 3


def test_event_log_files_reads_rolled_zstd_log(tmp_path):
    import pyarrow as pa

    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    events = _events()
    halves = (events[:5], events[5:])
    # written out of name order: events_10 must sort after events_2
    for n, chunk in ((10, halves[1]), (2, halves[0])):
        with pa.CompressedOutputStream(str(d / f"events_{n}_local-1.zstd"), "zstd") as out:
            out.write("\n".join(json.dumps(e) for e in chunk).encode())
    (d / "appstatus_local-1").write_text("")
    files = event_log_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == [
        "events_2_local-1.zstd", "events_10_local-1.zstd",
    ]
    assert list(read_events(files)) == events


def test_fold_progress_sums_batches_and_keeps_last_state():
    progress = [
        {"id": "q", "numInputRows": 10,
         "durationMs": {"addBatch": 100, "commitOffsets": 5, "walCommit": 7,
                        "triggerExecution": 200},
         "stateOperators": [{"numRowsTotal": 4, "memoryUsedBytes": 1000,
                             "numRowsDroppedByWatermark": 1}]},
        {"id": "q", "numInputRows": 0,
         "durationMs": {"addBatch": 50, "triggerExecution": 80},
         "stateOperators": [{"numRowsTotal": 2, "memoryUsedBytes": 600,
                             "numRowsDroppedByWatermark": 0}]},
    ]
    f = fold_progress(progress)
    assert f["batches"] == 2 and f["input_rows"] == 10
    assert f["add_batch_ms"] == 150 and f["commit_ms"] == 12
    assert f["state_rows"] == 2 and f["state_bytes"] == 600
    assert f["rows_dropped_late"] == 1
    assert f["trigger_ms"] == [200.0, 80.0]


def test_pass_layers_pipeline_and_ratio_metrics():
    ops = [
        {"op": "pipeline.day0", "seconds": 4.0, "transform_s": 1.0,
         "views_create_s": 0.5, "views_read_s": 1.5, "stored_bytes_per_input_byte": 1.2,
         "cpu_ns": 2e9},
        {"op": "pipeline.day1", "seconds": 6.0, "transform_s": 2.0,
         "views_create_s": 0.5, "views_read_s": 2.5, "stored_bytes_per_input_byte": 1.4,
         "cpu_ns": 2e9},
        {"op": "stream.window", "seconds": 2.0,
         "progress": [{"id": "w", "numInputRows": 100, "durationMs": {"triggerExecution": 900}}]},
    ]
    m, triggers = pass_layers(ops, pass_s=12.0, cores=2)
    assert m["pipeline.refresh_s"] == 5.0 and m["pipeline.refresh_last_s"] == 6.0
    assert m["pipeline.stored_bytes_per_input_byte"] == 1.4
    assert m["pipeline.register_s"] == pytest.approx(2.0)
    assert m["exec.cpu_util"] == pytest.approx(4.0 / 24.0)
    assert m["streaming.events_per_s"] == 50.0
    assert triggers == [0.9]


def test_pass_layers_streaming_counts_stream_ops_only():
    # pipeline.run's file-stream ingest reports progress too; it must not
    # enter the streaming job's counters or trigger times
    ingest = [{"id": "ingest", "numInputRows": 2000,
               "durationMs": {"addBatch": 3000, "walCommit": 40, "triggerExecution": 3500}}]
    window = [{"id": "w", "numInputRows": 100,
               "durationMs": {"addBatch": 600, "commitOffsets": 10, "triggerExecution": 700},
               "stateOperators": [{"numRowsTotal": 5, "memoryUsedBytes": 2048,
                                   "numRowsDroppedByWatermark": 2}]}]
    ops = [
        {"op": "pipeline.refresh", "seconds": 5.0, "transform_s": 4.0, "progress": ingest},
        {"op": "stream.window", "seconds": 1.0, "progress": window},
    ]
    m, triggers = pass_layers(ops, pass_s=6.0, cores=1)
    assert m["streaming.batches"] == 1
    assert m["streaming.add_batch_s"] == pytest.approx(0.6)
    assert m["streaming.commit_s"] == pytest.approx(0.01)
    assert m["streaming.state_rows"] == 5 and m["streaming.rows_dropped_late"] == 2
    assert m["streaming.events_per_s"] == 100.0
    assert triggers == [0.7]


def test_failing_counts_unstable_checksums():
    wl = Workload(
        [Op("a", None), Op("b", None), Op("grows", None, stable=False)],
        check=lambda timed: ["b"] if 7 not in timed["b"] else [],
    )
    assert wl.failing({"a": {1}, "b": {7}, "grows": {1, 2, 3}}) == []
    assert wl.failing({"a": {1, 2}, "b": {8}, "grows": {1}}) == ["a", "b"]


def test_trace_overhead_pairs_matched_seeds():
    untraced = {1: 4.0, 2: 5.0, 3: 6.0, 9: 100.0}
    traced = {1: 4.4, 2: 5.5, 3: 6.6, 4: 1.0}
    overhead, matched = trace_overhead(untraced, traced)
    assert matched == 3 and overhead == pytest.approx(0.1)
    assert trace_overhead({1: 4.0}, {2: 4.0}) is None


@pytest.mark.parametrize("name", ["setup_s", "exec.cpu_s", "a-b_c.d", "9x"])
def test_metric_name_rule_accepts(name):
    assert check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", "a b", "a/b", "x" * 65, "é"])
def test_metric_name_rule_rejects(name):
    with pytest.raises(ValueError):
        check_metric_name(name)


def test_median():
    assert median([3, 1, 2]) == 2.0
    assert median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_result_line_shape():
    line = result_line(4, 1, False, {"warm_pass_s": (1.25, "s")})
    assert json.loads(line) == {
        "correct": False, "attempted": 4, "failed": 1,
        "metrics": {"warm_pass_s": {"value": 1.25, "unit": "s"}},
    }
    with pytest.raises(ValueError):
        result_line(0, 0, True, {})
    with pytest.raises(ValueError):
        result_line(1, 0, True, {"x": (float("nan"), "s")})


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    emitted = dict(LAYER_UNITS, **{"trace.cold_pass_s": "s", "trace.warm_pass_s": "s"})
    assert layer == emitted
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert e2e == {"setup_s", "warm_pass_s", "ok_frac", "peak_rss_mb"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        check_metric_name(m["name"])
