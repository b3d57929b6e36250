#!/usr/bin/env python3
"""Benchmark runner: one workload, one fresh process, one closed-loop
client on ``local[<cores>]``.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

A run generates its inputs from ``--seed`` (untimed), sets up the
engine (``get_spark`` -> ``load_tables`` of every table -> a warm-up
job), runs one cold pass, then warm passes for ``--seconds``, checks
the outputs (untimed) and prints one JSON object as its last stdout
line. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of BENCHMARK.json. Full detail (per operation, per
pass, run description) goes to ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("curation", "stream")
SF = 0.1
# stream workload shape: crimes rows landed per pass (one daily
# increment); the sf0.1 events (100,000) delivered as time-ordered
# micro-batch files
STREAM_ROWS_PER_DAY, STREAM_BATCHES = 25_000, 4
# warm passes run for --seconds, and at least this many: one is not a
# median, and each further pass adds 6-12 s to a run of about a minute,
# which keeps 48 runs (ten per workload, twice, and traced runs) in an hour
MIN_WARM_PASSES = 2
JVM_HEAP = "2g"
ENGINE_FILES = (
    "aws_de_final_project_spark", "__spark_entry__.py", "sql", "tests/crimes_fixture.py",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest() -> str:
    """Commit id when the checkout is a git work tree, else a digest of
    the engine's and the benchmark's source files."""
    import hashlib

    try:
        out = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    for top in ("aws_de_final_project_spark", "sql", os.path.basename(HERE)):
        for d, _, files in sorted(os.walk(os.path.join(REPO, top))):
            for f in sorted(files):
                if f.endswith((".py", ".sql")):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(REPO, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm(pid: int | str) -> None:
    """Reset the process's VmHWM to its current resident size."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def cpu_ticks() -> tuple[int, int, int, int]:
    """(busy, steal, total ticks, CPUs) of the machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        lines = fh.read().splitlines()
    v = [int(x) for x in lines[0].split()[1:]]
    idle, steal = v[3] + v[4], v[7] if len(v) > 7 else 0
    cpus = sum(1 for line in lines if line.startswith("cpu") and line[3].isdigit())
    return sum(v) - idle - steal, steal, sum(v), cpus


def busy_cores(interval: float = 0.5) -> float:
    """CPUs the machine keeps busy right now: the load average still
    holds the previous run's minute, this does not."""
    b0, _, t0, cpus = cpu_ticks()
    time.sleep(interval)
    b1, _, t1, _ = cpu_ticks()
    return cpus * (b1 - b0) / max(t1 - t0, 1)


def dir_parquet(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Recorder:
    """Per-operation timing and, when tracing, per-layer counters."""

    def __init__(self, spark, traced: bool) -> None:
        self.spark = spark
        self.traced = traced
        self.windows: list[tuple[str, float, float]] = []
        self.records: dict[str, dict] = {}
        self.current: dict | None = None
        self.py4j = self.streams = self.attrs = None
        self._prev_files = 0
        self._prev_bytes = 0
        if traced:
            from pbtrace import Py4jCounter, StreamCapture

            self.py4j = Py4jCounter(spark)
            self.streams = StreamCapture()

    def wrap_pipeline(self) -> None:
        if not self.traced:
            return
        from aws_de_final_project_spark import pipeline
        from pbtrace import AttrTimer

        self.attrs = AttrTimer({
            "transform": (pipeline, "incremental_csv_ingest"),
            "views_create": (pipeline, "create_views_from_dir"),
        })

    @contextlib.contextmanager
    def op(self, key: str):
        rec = self.records.setdefault(key, {})
        self.current = rec
        start = time.time() * 1000.0
        try:
            yield rec
        finally:
            self.windows.append((key, start, time.time() * 1000.0))
            if self.streams is not None:
                rec["progress"] = self.streams.drain()
            self.current = None

    @contextlib.contextmanager
    def build(self):
        if not self.traced:
            yield
            return
        from pbtrace import BUILD_GROUP

        sc = self.spark.sparkContext
        sc.setJobGroup(BUILD_GROUP, "plan build")
        calls0 = self.py4j.calls
        self.py4j.counting = True
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.py4j.counting = False
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            if self.current is not None:
                self.current["build_s"] = self.current.get("build_s", 0.0) + dt
                self.current["build_py4j_calls"] = (
                    self.current.get("build_py4j_calls", 0) + self.py4j.calls - calls0
                )

    def phases(self, driven) -> None:
        if not self.traced or self.current is None:
            return
        ph = driven._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = ph.get(name)
            if opt.isDefined():
                key = f"{name}_s"
                self.current[key] = self.current.get(key, 0.0) + opt.get().durationMs() / 1000.0

    def pipeline_day_start(self) -> None:
        if self.attrs is not None:
            self.attrs.take()

    def pipeline_day_end(self, views_read_s: float, processed: str, landed: int) -> None:
        if not self.traced or self.current is None:
            return
        rec = self.current
        rec.update({f"{k}_s": v for k, v in self.attrs.take().items()})
        rec["views_read_s"] = views_read_s
        files, size = dir_parquet(processed)
        rec["files_written"] = files - self._prev_files
        rec["bytes_written"] = size - self._prev_bytes
        rec["stored_bytes_per_input_byte"] = size / landed
        self._prev_files, self._prev_bytes = files, size

    def close(self) -> None:
        if self.streams is not None:
            self.streams.close()
        if self.attrs is not None:
            self.attrs.close()
        if self.py4j is not None:
            self.py4j.close()


class Ctx:
    def __init__(self, spark, rec, seed, data_dir, work_dir) -> None:
        self.spark, self.rec, self.seed = spark, rec, seed
        self.data_dir, self.work_dir, self.repo = data_dir, work_dir, REPO
        self.log = log


def build_workload(name: str, ctx):
    from workloads import CURATION, entry_workload, stream_workload

    if name == "curation":
        return entry_workload(CURATION, ctx)
    ctx.rec.wrap_pipeline()
    return stream_workload(ctx, STREAM_ROWS_PER_DAY, STREAM_BATCHES)


def run_pass(wl, rec, idx: int, rng: random.Random, outcomes: dict) -> float:
    """One pass over every operation; returns its wall seconds. An
    operation that raises counts as failed and the pass goes on."""
    total = 0.0
    ops = list(wl.ops)
    rng.shuffle(ops)
    for op in ops:
        if op.prepare is not None:
            op.prepare()
        with rec.op(f"{idx}:{op.name}") as r:
            t0 = time.perf_counter()
            try:
                value = op.run()
                ok = True
            except Exception:
                log(f"pass {idx} {op.name} raised:\n{traceback.format_exc()}")
                value, ok = None, False
            dt = time.perf_counter() - t0
        r.update(op=op.name, pass_idx=idx, seconds=dt, ok=ok)
        outcomes.setdefault(op.name, []).append((dt, ok, value))
        total += dt
    return total


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a timeout's SIGTERM unwinds through the finally blocks below, so
    # the JVM is stopped and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ENGINE_FILES if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        log(f"engine sources not found next to {HERE}: {missing}")
        return 2

    cores = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    busy = busy_cores()
    _, steal0, total0, _ = cpu_ticks()
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(REPO, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # the engine sizes local[N] from SPARK_GRAFT_CPUS; Python workers
    # import the engine from PYTHONPATH, whatever the working directory
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # the JVM heap's ceiling, whatever the caller's environment says;
    # the heap starts small and grows with the engine's use
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM that builds the Spark JVM's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    sys.path[:0] = [REPO, HERE]
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": bool(args.trace), "source": source_digest(), "cores": cores,
        "load1_start": load1, "busy_cores_start": busy, "busy_at_start": busy > cores / 4,
        "sf": SF,
        "jvm_heap": os.environ["SPARK_DRIVER_MEM"],
    }
    if info["busy_at_start"]:
        log(f"{busy:.2f} busy CPUs at start exceed a quarter of the {cores}-core budget")
    try:
        result, detail = run(args, cores, work, info)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    _, steal1, total1, _ = cpu_ticks()
    info["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
    detail["info"] = info
    name = f"{args.workload}_seed{args.seed}_trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print("# " + json.dumps(info, separators=(",", ":")))
    print(result)
    return 0


def run(args, cores: int, work: str, info: dict) -> tuple[str, dict]:
    import datagen

    data_dir = os.path.join(work, "data")
    t_gen = time.perf_counter()
    info["rows"] = datagen.write_tables(data_dir, args.seed, SF)
    info["datagen_s"] = time.perf_counter() - t_gen

    # ---- set-up: fresh process -> get_spark -> load_tables -> warm-up
    t0 = time.perf_counter()
    from aws_de_final_project_spark.session import get_spark
    from aws_de_final_project_spark.sources.registry import load_tables

    jopts = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jopts,
        "spark.executor.extraJavaOptions": jopts,
    }
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    rec = Recorder(spark, bool(args.trace))
    with rec.op("setup.load_tables"):
        load_tables(spark, data_dir)
    t2 = time.perf_counter()
    with rec.op("setup.warmup"):
        spark.range(1_000_000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    setup = {"start_s": t1 - t0, "load_tables_s": t2 - t1, "warmup_s": t3 - t2, "setup_s": t3 - t0}

    ctx = Ctx(spark, rec, args.seed, data_dir, work)
    outcomes: dict[str, list] = {}
    passes: list[float] = []  # wall seconds; passes[0] is the cold pass
    rss: list[tuple[float, float]] = []  # per pass: (JVM, Python) VmHWM, MB
    failed_ops: list[str] = []
    try:
        wl = build_workload(args.workload, ctx)
        rng = random.Random(args.seed)
        jvm = spark.sparkContext._jvm
        jvm_pid = jvm.ProcessHandle.current().pid()
        t_measure = None
        while len(passes) <= MIN_WARM_PASSES or time.perf_counter() - t_measure < args.seconds:
            # each pass starts from a collected heap; its peak is read
            # after it, so the peak covers this pass alone
            jvm.System.gc()
            reset_hwm(jvm_pid)
            reset_hwm("self")
            passes.append(run_pass(wl, rec, len(passes), rng, outcomes))
            rss.append((vm_hwm_mb(jvm_pid), vm_hwm_mb("self")))
            if t_measure is None:
                t_measure = time.perf_counter()
        t_check = time.perf_counter()
        failed_ops = wl.failing({
            name: {v for _, ok, v in runs if ok} for name, runs in outcomes.items()
        })
        info["check_s"] = time.perf_counter() - t_check
    finally:
        t_stop = time.perf_counter()
        rec.close()
        spark.stop()
        if jvm_proc is not None:
            gateway.shutdown()
            jvm_proc.stdin.close()
            try:
                jvm_proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm_proc.kill()
                jvm_proc.wait()
        info["teardown_s"] = time.perf_counter() - t_stop

    attempted = sum(len(v) for v in outcomes.values())
    failed = sum(
        1 for name, runs in outcomes.items() for _, ok, _ in runs
        if not ok or name in failed_ops
    )
    warm = passes[1:]
    from stats import median, result_line

    op_warm = {n: median(dt for dt, _, _ in runs[1:]) for n, runs in outcomes.items()}
    e2e = {
        "setup_s": (setup["setup_s"], "s"),
        "warm_pass_s": (median(warm), "s"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
        "peak_rss_mb": (median(j + p for j, p in rss[1:]), "MB"),
    }
    detail = {
        "setup": setup, "passes_s": passes, "pass_rss_mb": rss, "op_warm_median_s": op_warm,
        "op_cold_s": {n: runs[0][0] for n, runs in outcomes.items()},
        "failed_ops": failed_ops,
        "end_to_end": {k: v[0] for k, v in e2e.items()},
    }
    correct = failed == 0
    if not args.trace:
        return result_line(attempted, failed, correct, e2e), detail

    from layers import per_layer

    layer, per_op = per_layer(rec, setup, passes, cores, os.path.join(work, "eventlog"))
    # tracing overhead against the untraced run of the same seed and
    # source, when the checkout holds one; overhead.py gives it over
    # every matched seed
    base = os.path.join(REPO, ".perfbench_out", f"{args.workload}_seed{args.seed}_trace0.json")
    detail["trace_overhead_frac"] = None
    if os.path.exists(base):
        with open(base) as fh:
            untraced = json.load(fh)
        if untraced["info"]["source"] == info["source"]:
            detail["trace_overhead_frac"] = (
                median(warm) / untraced["end_to_end"]["warm_pass_s"] - 1.0
            )
    layer["trace.cold_pass_s"] = (passes[0], "s")
    layer["trace.warm_pass_s"] = (median(warm), "s")
    detail["per_layer"] = {k: v[0] for k, v in layer.items()}
    detail["per_op"] = per_op
    return result_line(attempted, failed, correct, layer), detail


if __name__ == "__main__":
    sys.exit(main())
