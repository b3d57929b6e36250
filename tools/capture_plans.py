#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to plans/<subdir>/.

Usage: python tools/capture_plans.py <subdir> <suffix> [--final] [query ...]
  subdir: output directory under plans/, e.g. "r15"
  suffix: e.g. "before" / "after" -> plans/<subdir>/<query>_<suffix>.txt
  --final: EXECUTE the query first (df.collect()) and dump the plan of
           the same QueryExecution afterwards, so AdaptiveSparkPlan
           prints isFinalPlan=true with ReusedExchange / AQEShuffleRead
           nodes visible (pre-execution plans cannot show runtime
           exchange reuse).
  no query args = the entries tagged headline in __spark_entry__.ENTRIES.

Without --final nothing is executed (safe alongside other work).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_de_final_project_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    subdir, suffix = args.pop(0), args.pop(0)
    final = False
    if args and args[0] == "--final":
        final = True
        args.pop(0)
    names = args or list(entrymod.tagged("headline"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        subdir,
    )
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    for name in names:
        fn = queries[name]
        try:
            df = fn(spark, sf_dir)
            if final:
                # execute THIS DataFrame's own QueryExecution (collect,
                # not a derived agg) so the adaptive plan finalizes and
                # the explain below shows the runtime plan
                df.collect()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 - record, keep going
            plan = f"ERROR capturing plan: {e!r}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
