"""The operations each workload runs, and their untimed output checks.

An operation is one closed-loop request: it returns only when its
result has been computed, and the next starts after it. A pass runs
every operation of the workload once, in an order drawn from the seed.
"""

from __future__ import annotations

import math
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

# Operator entries: a plan build of 25 eager jobs (tokenizer export) and
# Python workers over Arrow (Bloom filter). Each further entry adds 2 s
# per warm pass, 5 s cold and 2-4 s of check to a run of about a minute
# (measured with lang_id_classifier_docs: 12 s a run), and 48 runs must
# fit in an hour.
CURATION = [
    "tokenizer_export_manifest",
    "bloom_decontaminate_docs",
]


@dataclass
class Op:
    name: str
    run: Callable[[], object]  # returns the output's checksum
    prepare: Callable[[], None] | None = None
    # the same checksum on every pass; False for an output that grows
    stable: bool = True


@dataclass
class Workload:
    ops: list[Op]
    # (op name -> checksums its passes returned) -> failing op names
    check: Callable[[dict[str, set]], list[str]]

    def failing(self, timed: dict[str, set]) -> list[str]:
        """The check's failing ops, plus every stable op whose passes
        returned more than one checksum."""
        bad = set(self.check(timed))
        bad.update(o.name for o in self.ops if o.stable and len(timed.get(o.name, ())) > 1)
        return sorted(bad)


def checksum(df):
    """Full-width checksum action: XOR of xxhash64 over every output
    column. ``count()`` would let the optimizer prune the columns the
    operation exists to compute. Returns (value, driven frame)."""
    from pyspark.sql import functions as F

    agg = df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("x"))
    return agg.collect()[0][0], agg


# ------------------------------------------------------------ entry workloads


def entry_workload(names: list[str], ctx) -> Workload:
    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()
    last: dict[str, object] = {}  # op -> the frame its last pass built

    def make(n: str) -> Op:
        def run():
            with ctx.rec.build():
                df = queries[n](ctx.spark, ctx.data_dir)
            last[n] = df
            value, driven = checksum(df)
            ctx.rec.phases(driven)
            return value

        return Op(n, run)

    def check(timed: dict[str, set]) -> list[str]:
        """The frame each entry's last pass built, against its oracle
        (``Workload.failing`` holds every pass to that pass's checksum)."""
        from tests.oracle_harness import compare, duckdb_conn

        con = duckdb_conn(ctx.data_dir)
        bad = []
        try:
            for n in names:
                if n not in oracles:
                    continue
                try:
                    compare(n, last[n], con, oracles[n])
                except Exception as e:  # a wrong or failing output is one failed op
                    ctx.log(f"check {n}: {e!r}")
                    bad.append(n)
        finally:
            con.close()
        return bad

    return Workload([make(n) for n in names], check)


# ------------------------------------------------------------ stream workload


def _land_time_ordered(ev_pdf, src: str, n_files: int) -> list:
    """Write ``ev_pdf`` as ``n_files`` event-time-ordered parquet files
    with increasing mtimes, so a file stream with maxFilesPerTrigger=1
    delivers ordered micro-batches and watermark lateness is
    deterministic. Returns each file's newest timestamp."""
    os.makedirs(src)
    ev_pdf = ev_pdf.sort_values("ts", kind="stable").reset_index(drop=True)
    bounds = [round(i * len(ev_pdf) / n_files) for i in range(n_files + 1)]
    max_ts = []
    now = time.time()
    for i in range(n_files):
        part = ev_pdf.iloc[bounds[i]:bounds[i + 1]]
        max_ts.append(part["ts"].max())
        path = os.path.join(src, f"f{i}.parquet")
        part.to_parquet(path, index=False, coerce_timestamps="us")
        os.utime(path, (now + i * 10, now + i * 10))
    return max_ts


def stream_workload(ctx, rows_per_day: int, n_batches: int) -> Workload:
    """The reference DAG in its daily-cron shape: each pass lands the
    next crimes increment into the same landing zone and refreshes it
    (ingest from the checkpoint, partitioned write, five views driven),
    so files accumulate pass by pass. Then the watermarked window
    aggregate (state store, eviction, checkpoint commits) runs over the
    seeded event stream in time-ordered batches, from a fresh
    checkpoint each pass."""
    import pandas as pd
    from pyspark.sql import types as T

    from aws_de_final_project_spark import pipeline
    from aws_de_final_project_spark.streaming.windows import windowed_event_counts
    from datagen import crimes_day, write_community_areas
    from tests.crimes_fixture import write_crimes_csv
    from tests.test_reference_replay import CRIME_SCHEMA

    spark = ctx.spark
    root = ctx.work_dir
    dirs = {d: os.path.join(root, d) for d in ("landing", "processed", "checkpoint", "supporting")}
    for d in dirs.values():
        os.makedirs(d)
    write_community_areas(os.path.join(dirs["supporting"], "community_areas.csv"), ctx.seed)
    cfg = pipeline.PipelineConfig(
        landing_dir=dirs["landing"],
        processed_dir=dirs["processed"],
        checkpoint_dir=dirs["checkpoint"],
        state_path=os.path.join(root, "hwm.json"),
        sql_dir=os.path.join(ctx.repo, "sql"),
        schema=CRIME_SCHEMA,
        supporting={"community_areas": dirs["supporting"]},
    )

    ev_pdf = pd.read_parquet(os.path.join(ctx.data_dir, "events.parquet"))
    ev_pdf = ev_pdf[["event_id", "ts", "user_id", "event_type", "value"]]
    src = os.path.join(root, "events_src")
    file_max_ts = _land_time_ordered(ev_pdf, src, n_batches)
    ev_schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    state = {"day": -1, "landed_rows": 0, "landed_bytes": 0, "window_runs": 0}

    def land() -> None:
        state["day"] += 1
        rows = crimes_day(ctx.seed, state["day"], rows_per_day)
        path = os.path.join(dirs["landing"], f"crimes_{state['day']:03d}.csv")
        write_crimes_csv(path, rows)
        state["landed_rows"] += len(rows)
        state["landed_bytes"] += os.path.getsize(path)

    def refresh():
        ctx.rec.pipeline_day_start()
        views = pipeline.run(spark, cfg)
        t0 = time.perf_counter()
        acc = 0
        for v in views:
            value, driven = checksum(spark.table(v))
            ctx.rec.phases(driven)
            acc ^= value or 0
        ctx.rec.pipeline_day_end(
            time.perf_counter() - t0, dirs["processed"], state["landed_bytes"]
        )
        return acc

    def window_job():
        with ctx.rec.build():
            agg = windowed_event_counts(
                spark.readStream.schema(ev_schema).option("maxFilesPerTrigger", 1).parquet(src),
                watermark="2 hours",
            )
        state["window_runs"] += 1
        table = f"pb_win_{state['window_runs']}"
        q = (
            agg.writeStream.format("memory")
            .queryName(table)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        value, _ = checksum(spark.table(table))
        return value

    ops = [
        Op("pipeline.refresh", refresh, prepare=land, stable=False),
        Op("stream.window", window_job),
    ]

    def check(timed: dict[str, set]) -> list[str]:
        """The pipeline's final state (after the last increment) and the
        last window run; window runs must agree with each other."""
        import duckdb

        con = duckdb.connect()
        bad = []
        try:
            con.execute(
                f"CREATE VIEW ev AS SELECT * FROM read_parquet('{ctx.data_dir}/events.parquet')"
            )
            checks = {
                "pipeline": lambda: _check_pipeline(
                    spark, con, dirs["processed"], state["landed_rows"]
                ),
                "stream.window": lambda: _check_windows(
                    spark.table(f"pb_win_{state['window_runs']}"), con, file_max_ts
                ),
            }
            for name, fn in checks.items():
                try:
                    fn()
                except Exception as e:  # a wrong or failing output is one failed op
                    ctx.log(f"check {name}: {e!r}")
                    bad += [o.name for o in ops if o.name.startswith(name)]
        finally:
            con.close()
        return bad

    return Workload(ops, check)


def _check_pipeline(spark, con, processed: str, n_landed: int) -> None:
    """The five views against DuckDB over the processed Parquet, read
    once: a view would scan its hundreds of files for every query."""
    con.execute(
        "CREATE OR REPLACE TABLE processed AS SELECT * FROM read_parquet("
        f"'{processed}/**/*.parquet', hive_partitioning=true)"
    )
    n = con.execute("SELECT count(*) FROM processed").fetchone()[0]
    assert n == n_landed, f"processed rows {n} != landed {n_landed}"
    violent = (
        "SELECT * FROM processed WHERE (primary_type = 'ROBBERY' AND description "
        "LIKE '%ARMED%') OR primary_type IN ('ASSAULT','BATTERY','HOMICIDE',"
        "'CRIMINAL SEXUAL ASSAULT')"
    )
    s_ids = sorted(r[0] for r in spark.table("dependency1_violent_crimes").select("id").collect())
    d_ids = sorted(r[0] for r in con.execute(f"SELECT id FROM ({violent})").fetchall())
    assert s_ids == d_ids, "dependency1_violent_crimes ids differ"
    s_counts = sorted(tuple(r) for r in spark.table("count_by_crime_type").collect())
    d_counts = sorted(
        con.execute(
            "SELECT primary_type || ' - ' || description, count(*) FROM processed GROUP BY 1"
        ).fetchall()
    )
    assert s_counts == d_counts, "count_by_crime_type differs"
    s_fixed = spark.table("fixed_dates_violent").count()
    assert s_fixed == len(d_ids), f"fixed_dates_violent rows {s_fixed} != {len(d_ids)}"
    d_pct = con.execute(
        f"""WITH v AS ({violent}),
        tr AS (SELECT community_area, count(*) AS reports FROM v GROUP BY 1),
        ta AS (SELECT community_area, count(*) AS arrests FROM v WHERE arrest GROUP BY 1)
        SELECT tr.community_area, arrests, reports FROM tr JOIN ta USING (community_area)
        ORDER BY reports DESC, tr.community_area LIMIT 15"""
    ).fetchall()
    s_pct = [
        (r.community_area, r.tot_arrests, r.tot_reports)
        for r in spark.table("arrest_pct_by_community_violent").collect()
    ]
    assert sorted(s_pct, key=str) == sorted(d_pct, key=str), "arrest_pct differs"
    s_enriched = sorted(
        r.community_area for r in spark.table("violent_by_community_enriched").collect()
    )
    assert s_enriched == sorted(r[0] for r in d_pct), "enriched view differs"


def _check_windows(table, con, file_max_ts) -> None:
    """Every emitted window equals the batch aggregate of its hour, and
    every window the watermark had closed before the last batch was
    emitted."""
    import pandas as pd

    emitted = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in table.collect()
    }
    oracle = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(
            "SELECT time_bucket(INTERVAL 1 HOUR, ts), event_type, count(*), sum(value) "
            "FROM ev GROUP BY 1, 2"
        ).fetchall()
    }
    for key, (n, s) in emitted.items():
        assert key in oracle, f"window {key} not in oracle"
        assert oracle[key][0] == n and math.isclose(oracle[key][1], s, rel_tol=1e-9), key
    closed = pd.Timestamp(file_max_ts[-2]) - pd.Timedelta(hours=3)
    must = [k for k in oracle if pd.Timestamp(k[0]) < closed]
    missing = [k for k in must if k not in emitted]
    assert not missing, f"{len(missing)} closed windows not emitted"
