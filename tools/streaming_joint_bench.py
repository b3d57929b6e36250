#!/usr/bin/env python
"""Joint sf1 bench of the streaming replay entries (r9 verdict item
10/advice: they were benched individually; one session running all of
them back-to-back catches state-store interference — RocksDB/HDFS
state dirs, memory-sink tables, and JVM heap churn shared across
queries).

Runs every ``queries()`` entry named ``streaming_*_replay``, in name
order, sequentially in ONE SparkSession at $SPARK_GRAFT_SF_DIR
(default /tmp/sf1), two passes (pass 2 is the warm number), forced GC
between entries (same JMH-style discipline as bench.py). Writes
STREAMING_JOINT_SF1.json next to the repo root with per-entry joint
times, the isolated sf1 references from BENCH_SF1_DETAIL.json, and the
joint/isolated ratio — the contract is no entry > 2x its isolated
number.
"""

from __future__ import annotations

import fnmatch
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aws_de_final_project_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

REPLAYS = sorted(fnmatch.filter(entrymod.queries(), "streaming_*_replay"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    spark = get_spark("streaming-joint-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    queries = entrymod.queries()

    passes: list[dict[str, float]] = []
    for _ in range(2):
        times: dict[str, float] = {}
        for name in REPLAYS:
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).collect()
            times[name] = round(time.perf_counter() - t0, 3)
        passes.append(times)

    isolated: dict[str, float] = {}
    detail_path = os.path.join(REPO, "BENCH_SF1_DETAIL.json")
    if os.path.exists(detail_path):
        with open(detail_path) as fh:
            isolated = {
                k: v
                for k, v in json.load(fh)["queries_warm"].items()
                if k in REPLAYS
            }
    # entries missing from the sf1 detail (added after that tier ran)
    # can be supplied as name=sec args, measured in their own fresh
    # process on the same box/day
    for arg in sys.argv[1:]:
        name, _, sec = arg.partition("=")
        if name in REPLAYS and sec:
            isolated[name] = float(sec)

    warm = passes[-1]
    out = {
        "sf_dir": sf_dir,
        "order": REPLAYS,
        "joint_pass1": passes[0],
        "joint_warm": warm,
        "isolated_sf1_warm": isolated,
        "joint_over_isolated": {
            k: round(warm[k] / isolated[k], 2)
            for k in REPLAYS
            if isolated.get(k)
        },
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    path = os.path.join(REPO, "STREAMING_JOINT_SF1.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
