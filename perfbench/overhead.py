#!/usr/bin/env python3
"""Tracing overhead per workload, from the runs' detail files.

    python3 perfbench/overhead.py [.perfbench_out]

Pairs each traced run (``--trace 1``) with the untraced run of the same
workload, seed and source, and prints the median traced warm pass over
the median untraced one, minus 1, over the matched seeds.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict

from stats import trace_overhead

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    out_dir = argv[0] if argv else os.path.join(os.path.dirname(HERE), ".perfbench_out")
    # (workload, source) -> traced flag -> seed -> median warm pass
    runs: dict[tuple, dict] = defaultdict(lambda: {False: {}, True: {}})
    for path in glob.glob(os.path.join(out_dir, "*_seed*_trace[01].json")):
        with open(path) as fh:
            detail = json.load(fh)
        info = detail["info"]
        warm = detail.get("per_layer", {}).get("trace.warm_pass_s") if info["traced"] else (
            detail["end_to_end"]["warm_pass_s"]
        )
        runs[info["workload"], info["source"]][info["traced"]][info["seed"]] = warm
    found = False
    for (workload, source), by in sorted(runs.items()):
        got = trace_overhead(by[False], by[True])
        if got is not None:
            found = True
            print(f"{workload} {source}: trace.overhead_frac {got[0]:+.4f} over {got[1]} seeds")
    if not found:
        print(f"no traced run in {out_dir} has an untraced run of the same seed and source")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
