#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is timed as a full cold plan->execute->collect cycle
(the session is shared and warmed by a trivial job first, so JVM
startup is excluded but per-query planning is included — matching
how the reference's Athena layer is billed per-query).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_de_final_project_spark.session import (  # noqa: E402
    default_parallelism,
    get_spark,
)

import __spark_entry__ as entrymod  # noqa: E402


def drive(df) -> None:
    """Execute a query with a FULL-WIDTH action: a checksum over every
    output column. ``.count()`` would let Catalyst prune computed
    columns the query's whole point is to produce (VERDICT r1 #5);
    XOR-folding xxhash64 over the row struct forces every column to
    be evaluated while still collecting one row (XOR: no ANSI
    overflow, order-insensitive)."""
    from pyspark.sql import functions as F

    df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns)))).collect()


def measure_action_overhead(spark) -> float:
    """Fixed per-query cost of the drive() action itself (VERDICT r4
    #8): scheduling a 32-task stage + the checksum agg + py4j collect,
    measured on a cached trivial 32-partition frame whose own compute
    is ~0. At local[32] this is ~0.3 s and DOMINATES every sub-second
    query, masking plan regressions; reporting warm times both raw and
    overhead-adjusted separates plan cost from action noise. Min of 5
    (one-sided noise)."""
    from pyspark.sql import functions as F

    tiny = (
        spark.range(10_000)
        .repartition(32)
        .select("id", (F.col("id") + 1).alias("b"))
        .cache()
    )
    tiny.count()
    reps = []
    for _ in range(5):
        t0 = time.perf_counter()
        drive(tiny)
        reps.append(time.perf_counter() - t0)
    tiny.unpersist()
    return round(min(reps), 3)


def bench_streaming_upsert(spark, sf_dir: str) -> dict:
    """Wall-clock for the foreachBatch keyed-MERGE sink: seed the
    target with 75% of events, then merge 3 micro-batches of inserts +
    re-deliveries (bumped version). Measures the per-batch MERGE cost
    (bucketed dynamic partition overwrite) the streaming query pays —
    the plumbing-free twin of tests/test_streaming.py's upsert test."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from aws_de_final_project_spark.sources.registry import load_tables
    from aws_de_final_project_spark.streaming.upsert import merge_batch

    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tmpd = tempfile.mkdtemp(prefix="bench_upsert_")
    target = os.path.join(tmpd, "keyed")
    try:
        t0 = time.perf_counter()
        merge_batch(spark, ev.filter(F.col("event_id") % 4 != 3), target,
                    "event_id", "ts")
        for i in range(3):
            inserts = ev.filter(
                (F.col("event_id") % 4 == 3) & (F.col("event_id") % 3 == i)
            )
            redeliveries = ev.filter(F.col("event_id") % 40 == i).withColumn(
                "ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")
            )
            merge_batch(spark, inserts.unionByName(redeliveries), target,
                        "event_id", "ts")
        elapsed = round(time.perf_counter() - t0, 3)
        final = spark.read.parquet(target)
        n_rows = final.count()
        n_keys = final.select("event_id").distinct().count()
        assert n_rows == n_keys, f"duplicate keys after merge: {n_rows} != {n_keys}"
        return {"upsert_seed_plus_3_batches_sec": elapsed, "rows": n_rows}
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)


def _event_time_quartiles(ev):
    """``ev`` plus a ``_slice`` column: the row's event-time quartile
    (0..3). Replayed in slice order, the file stream delivers ordered
    micro-batches — the realistic arrival pattern for event-time
    pipelines, and the one that makes watermark-based lateness (and
    therefore the benched output) DETERMINISTIC: with shuffled files,
    which rows count as late depends on file pickup order and the
    result varies run to run."""
    from pyspark.sql import functions as F

    from aws_de_final_project_spark.functions.numeric import epoch_us

    us = epoch_us("ts")
    q1, q2, q3 = ev.select(us.alias("_us")).approxQuantile(
        "_us", [0.25, 0.5, 0.75], 0.0
    )
    return ev.withColumn(
        "_slice",
        F.when(us <= q1, 0).when(us <= q2, 1).when(us <= q3, 2).otherwise(3),
    )


def bench_streaming_ss_join(spark, sf_dir: str) -> dict:
    """Wall-clock for the watermarked stream-stream interval join
    (purchase <- preceding clicks within 60 min) over the events table
    delivered as 4 event-time-ordered micro-batches — the
    buffered-state join path whose per-batch cost was previously
    untracked (VERDICT r4 #6)."""
    import tempfile

    from pyspark.sql import functions as F

    from aws_de_final_project_spark.sources.registry import load_tables
    from aws_de_final_project_spark.streaming import replay
    from aws_de_final_project_spark.streaming.joins import (
        click_purchase_attribution,
    )

    ev = load_tables(spark, sf_dir, ("events",), register_views=False)[
        "events"
    ].select("event_id", "ts", "user_id", "event_type")
    with tempfile.TemporaryDirectory(prefix="bench_stream_ssj_") as src:
        replay.land_slices(_event_time_quartiles(ev), "_slice", src)
        t0 = time.perf_counter()
        stream = replay.read_slices(spark, ev.schema, src)
        pairs = replay.to_memory(
            click_purchase_attribution(
                stream.filter(F.col("event_type") == "purchase"),
                stream.filter(F.col("event_type") == "click"),
            ),
            "append",
        )
        elapsed = round(time.perf_counter() - t0, 3)
    return {"ss_join_4_batches_sec": elapsed, "pairs": pairs.count()}


def bench_streaming_sessionize(spark, sf_dir: str) -> dict:
    """Wall-clock for applyInPandasWithState sessionization (30-min
    gap) over the events table as 4 micro-batches — the custom
    stateful-operator path (VERDICT r4 #6). Counts only gap/timeout-
    closed sessions (append semantics; open state dies with the
    query)."""
    import tempfile

    from aws_de_final_project_spark.sources.registry import load_tables
    from aws_de_final_project_spark.streaming import replay
    from aws_de_final_project_spark.streaming.stateful import (
        sessionize_stateful,
    )

    ev = load_tables(spark, sf_dir, ("events",), register_views=False)[
        "events"
    ].select("user_id", "ts", "value")
    with tempfile.TemporaryDirectory(prefix="bench_stream_sess_") as src:
        # ordered delivery (see _event_time_quartiles): a 0-second
        # watermark over shuffled files would drop most rows as late
        # and bench nothing
        replay.land_slices(_event_time_quartiles(ev), "_slice", src)
        t0 = time.perf_counter()
        stream = replay.read_slices(spark, ev.schema, src)
        sessions = replay.to_memory(
            sessionize_stateful(stream, gap_minutes=30), "append"
        )
        elapsed = round(time.perf_counter() - t0, 3)
    return {
        "stateful_sessionize_4_batches_sec": elapsed,
        "sessions_closed": sessions.count(),
    }


def bench_scaling(spark, sf_dir, queries, warm, overhead) -> dict:
    """warm(sf)/warm(sf0.01) slopes, overhead-adjusted, for the entries
    tagged ``slope`` (see ``__spark_entry__.ENTRIES``)."""
    small_dir = "/root/testdata/sf0.01"
    if os.path.realpath(sf_dir) == os.path.realpath(small_dir):
        return {}
    out = {}
    for name in entrymod.tagged("slope"):
        fn = queries[name]
        drive(fn(spark, small_dir))  # warmup
        reps = []
        for _ in range(2):
            t0 = time.perf_counter()
            drive(fn(spark, small_dir))
            reps.append(time.perf_counter() - t0)
        small = round(min(reps), 3)
        big = warm[name]
        slope = (max(big - overhead, 1e-3)) / (max(small - overhead, 1e-3))
        out[name] = {
            "sf0.01_warm_sec": small,
            "warm_sec": big,
            "slope_10x_data": round(slope, 2),
        }
    return out


LINE_BUDGET = 1800

# A warm query whose rep spread exceeds half its median was measured
# under interference (GC storm, noisy neighbor); flagging these lets
# the driver distinguish a real regression from a loaded box
# (VERDICT r7 item 1: BENCH_r07's headline was contention-inflated by
# ~50% and the artifact could not say so).
NOISY_SPREAD_FRACTION = 0.5


def run_quality(load_start, load_end, warm, spread, cpus: int) -> dict:
    """Self-describing run-quality block for the bench artifacts.

    ``noisy`` is True when either (a) the 1-min load average BEFORE
    this process started any Spark work already showed substantial
    external CPU demand (> 25% of ``cpus``, the core budget the bench
    runs on — not the host's core count), or (b) a meaningful share
    of queries (> max(3, 10%)) had rep spread > NOISY_SPREAD_FRACTION
    of their median — the within-run signature of cross-process
    contention."""
    noisy_queries = sorted(
        n for n in warm
        if spread.get(n, 0.0) > NOISY_SPREAD_FRACTION * max(warm[n], 1e-3)
    )
    external_load = load_start[0] > cpus / 4
    widespread = len(noisy_queries) > max(3, len(warm) // 10)
    return {
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "cpus": cpus,
        "noisy_queries": noisy_queries,
        "noisy": bool(external_load or widespread),
    }


def final_line(warm: dict, total_warm: float, sf, quality: dict | None = None) -> str:
    """The driver-visible stdout line, guaranteed <= LINE_BUDGET chars.

    The driver captures only the tail of stdout (~2000 chars), so the
    final line must fit with margin: keep the slowest queries in the
    map and drop the cheapest until the serialized line is under
    budget (the full warm map is in BENCH_DETAIL.json). Iterates down
    to keep == 0 so a line is ALWAYS built — the last candidate, the
    empty-queries payload, is ~160 chars, within budget by
    construction (pinned in tests/test_bench_line.py; BENCH_r04/r05
    came back \"parsed\": null when this line outgrew the window).
    """
    by_cost = sorted(warm, key=lambda n: (-warm[n], n))
    line = None
    for keep in range(len(by_cost), -1, -1):
        payload = {
            "metric": "median-of-3 warm wall-clock; full detail in BENCH_DETAIL.json",
            "value": total_warm,
            "unit": "sec",
            "queries": {n: warm[n] for n in by_cost[:keep]},
            "queries_omitted": len(by_cost) - keep,
            "sf": sf,
        }
        if quality is not None:
            payload["noisy"] = quality["noisy"]
            payload["load1_start"] = quality["loadavg_start"][0]
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= LINE_BUDGET:
            break
    return line


def _load_optional(name: str):
    """A sibling JSON artifact if present (heavy off-tier runs write
    these; the per-round bench only carries them forward)."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), name)
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # sample external load BEFORE any Spark work: once the bench is
    # running, loadavg mostly measures the bench itself
    load_start = os.getloadavg()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/codegen paths so query timings are not startup noise
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    queries = entrymod.queries()
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    warm_reps: dict[str, list[float]] = {}
    for name in entrymod.tagged("headline"):
        fn = queries[name]
        # JMH-style forced GC between trials: without it, garbage from
        # the previous query's run inflates later queries' times by up
        # to 2-4x in a long session (measured on ann_ivf_topk)
        spark.sparkContext._jvm.System.gc()
        # run 1: cold — includes Catalyst analysis + whole-stage
        # codegen compile for this plan shape (the per-query price an
        # Athena-style serverless engine pays every time)
        t0 = time.perf_counter()
        drive(fn(spark, sf_dir))
        cold[name] = round(time.perf_counter() - t0, 3)
        # runs 2-4: warm/steady-state — codegen cached; what a
        # resident engine (and a TPC-style power run) measures.
        # MEDIAN of three reps (VERDICT r7): min-of-2 let one clean
        # rep hide systematic contention while one dirty rep dragged
        # the other metric; the median tolerates a single outlier in
        # either direction, and the reps recorded in run order make
        # residual interference (or reps still falling) visible in
        # the artifact.
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            drive(fn(spark, sf_dir))
            reps.append(round(time.perf_counter() - t0, 3))
        warm[name] = sorted(reps)[1]
        warm_reps[name] = reps
    total_warm = round(sum(warm.values()), 3)
    total_cold = round(sum(cold.values()), 3)
    overhead = measure_action_overhead(spark)
    warm_adj = {
        name: round(max(t - overhead, 0.0), 3) for name, t in warm.items()
    }
    streaming = bench_streaming_upsert(spark, sf_dir)
    streaming.update(bench_streaming_ss_join(spark, sf_dir))
    streaming.update(bench_streaming_sessionize(spark, sf_dir))
    scaling = bench_scaling(spark, sf_dir, queries, warm, overhead)
    # slow-growth probe artifact (tools/scale_probe.py writes it; the
    # x10/x30 synthetic tiers are too heavy to rebuild per bench run)
    probe_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCALING_PROBE.json"
    )
    scaling_probe = None
    if os.path.exists(probe_path):
        with open(probe_path) as fh:
            scaling_probe = json.load(fh)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # Full detail (cold runs, adjusted times, streaming, scaling
    # slopes, the x10/x30 probe) goes to BENCH_DETAIL.json; the final
    # stdout line stays compact (headline total + warm per-query map)
    # so it fits the driver's output-capture window — BENCH_r04/r05
    # came back "parsed": null because this line had grown past it
    # (VERDICT r5 item 2).
    spread = {n: round(max(r) - min(r), 3) for n, r in warm_reps.items()}
    quality = run_quality(
        load_start, os.getloadavg(), warm, spread, default_parallelism()
    )
    detail = {
        "queries_warm": warm,
        "queries_warm_reps": warm_reps,
        "run_quality": quality,
        "total_cold": total_cold,
        "queries_cold": cold,
        "action_overhead_sec": overhead,
        "queries_warm_adjusted": warm_adj,
        "total_warm_adjusted": round(sum(warm_adj.values()), 3),
        "streaming": streaming,
        "scaling": scaling,
        "scaling_probe": scaling_probe,
        # joint sf1 streaming-replay interference run (r9 verdict item
        # 9; tools/streaming_joint_bench.py writes it — too heavy to
        # rebuild per bench run, same posture as the scaling probe)
        "streaming_joint_sf1": _load_optional("STREAMING_JOINT_SF1.json"),
        "sf": float(sf) if sf else sf_dir,
    }
    # $SPARK_GRAFT_DETAIL redirects the detail artifact so an
    # off-tier run (e.g. the sf1 full-suite tier) never clobbers the
    # driver's sf0.1 BENCH_DETAIL.json
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        os.environ.get("SPARK_GRAFT_DETAIL", "BENCH_DETAIL.json"),
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    # the driver captures only the tail of stdout (~2000 chars), so
    # the final line must fit with margin: keep the slowest queries
    # in the map and drop the cheapest until the serialized line is
    # under budget (the full warm map is in BENCH_DETAIL.json).
    print(final_line(warm, total_warm, float(sf) if sf else sf_dir,
                     quality=quality))


if __name__ == "__main__":
    main()
