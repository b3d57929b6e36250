#!/usr/bin/env python
"""Full sf0.1 oracle sweep with a per-oracle timeout.

Reproduces the SURVEY §8 claim: run EVERY oracled ``queries()`` entry
against its DuckDB twin at sf0.1 under a hostile (non-UTC) session.
Oracles that exceed the timeout are skipped and listed — that class is
oracle-side cost by construction (brute-force O(n^2) joins /
recursive-CTE closures that exist to prove the sub-quadratic Spark
paths correct at sf0.01), not an engine limit.

Usage: PYTHONPATH=/root/repo python tools/sf01_oracle_sweep.py
Prints one `ok`/`SKIP`/`FAIL` line per entry and a JSON summary.

Hostile-environment matrix (round 6): besides the non-UTC session tz
set below, run the sweep under a non-UTC PROCESS tz and a non-English
JVM default locale to flush out locale-sensitive case/collation or
zone-default bugs:

    TZ=Pacific/Chatham \
    JAVA_TOOL_OPTIONS="-Duser.language=tr -Duser.country=TR" \
    PYTHONPATH=/root/repo python tools/sf01_oracle_sweep.py

(Turkish is the classic hostile locale: dotless-i breaks any
locale-dependent lower()/upper(); Spark's and DuckDB's string
functions are locale-independent by spec, and this run proves the
whole query surface actually is.)
"""

from __future__ import annotations

import json
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.1")
ORACLE_TIMEOUT_S = float(os.environ.get("SWEEP_ORACLE_TIMEOUT", "90"))


def main() -> None:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    spark = (
        SparkSession.builder.master("local[24]")
        .appName("sf01-sweep")
        .config("spark.sql.session.timeZone", "America/Chicago")
        .getOrCreate()
    )
    con = duckdb.connect()
    from aws_de_final_project_spark.sources.registry import TABLES

    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    from tests.oracle_harness import canon_duck_type, canon_spark_type

    Q, O = E.queries(), E.oracle_sql()
    # SWEEP_ONLY=a,b,c restricts to those entries (incremental sweeps
    # of just-changed oracles; the FULL matrix run stays the per-round
    # artifact)
    only = os.environ.get("SWEEP_ONLY")
    names = sorted(set(only.split(",")) & set(O)) if only else sorted(O)
    ok, skipped, failed = [], [], []
    for name in names:
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            rel = con.sql(O[name])
            d_cols = list(rel.columns)
            d_types = [canon_duck_type(str(t)) for t in rel.types]
            drows = sorted(
                tuple(str(x) for x in r) for r in rel.fetchall()
            )
            timer.cancel()
        except duckdb.InterruptException:
            timer.cancel()
            skipped.append(name)
            print("SKIP(oracle-timeout)", name, flush=True)
            continue
        except Exception as ex:
            # a genuinely broken oracle (syntax, missing table, OOM)
            # must count as a failure, not hide in the timeout bucket
            timer.cancel()
            failed.append((name, "oracle-error: " + repr(ex)[:150]))
            print("FAIL(oracle)", name, repr(ex)[:150], flush=True)
            continue
        try:
            sdf = Q[name](spark, SF_DIR)
            s_types = {c: canon_spark_type(t) for c, t in sdf.dtypes}
            type_diffs = {
                c: (s_types.get(c), dt)
                for c, dt in zip(d_cols, d_types)
                if s_types.get(c) != dt
            }
            assert not type_diffs, f"type drift {type_diffs}"
            srows = sorted(
                tuple(str(x) for x in r) for r in sdf.collect()
            )
            assert srows == drows, f"{len(srows)} vs {len(drows)} rows"
            ok.append(name)
            print("ok", name, len(srows), flush=True)
        except Exception as ex:
            failed.append((name, repr(ex)[:150]))
            print("FAIL", name, repr(ex)[:150], flush=True)
    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "verified": len(ok),
                "skipped_quadratic_oracle": skipped,
                "failed": failed,
                "total_oracles": len(O),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
