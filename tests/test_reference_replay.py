"""Replay the reference end-to-end: raw CSV -> (REST ingest with fake
fetcher) -> checkpointed incremental transform (bookmark parity) ->
partitioned parquet -> the four Athena views, checked against DuckDB
over the same processed parquet. Also pins the refresh's read-side
layout: one file per (year, month) per increment, and one cached
``dependency1_`` view per session, released by the next run."""

from __future__ import annotations

import glob
import io
import os
from collections import Counter

import duckdb
import pytest

from pyspark.sql import types as T

from aws_de_final_project_spark import etl, pipeline
from aws_de_final_project_spark.plans.views import uncache_views_from_dir
from aws_de_final_project_spark.sources.rest_source import ingest_increment
from tests.crimes_fixture import (
    COLUMNS,
    community_area_rows,
    generate_crimes_rows,
    write_crimes_csv,
)

CRIME_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("case_number", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("block", T.StringType()),
        T.StructField("iucr", T.StringType()),
        T.StructField("primary_type", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("location_description", T.StringType()),
        T.StructField("arrest", T.BooleanType()),
        T.StructField("domestic", T.BooleanType()),
        T.StructField("beat", T.LongType()),
        T.StructField("district", T.LongType()),
        T.StructField("ward", T.LongType()),
        T.StructField("community_area", T.LongType()),
        T.StructField("fbi_code", T.StringType()),
        T.StructField("x_coordinate", T.DoubleType()),
        T.StructField("y_coordinate", T.DoubleType()),
        T.StructField("year", T.LongType()),
        T.StructField("updated_on", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("location", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def pipeline_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("crimes_pipeline")
    d = {
        "landing": str(root / "input"),
        "processed": str(root / "processed"),
        "checkpoint": str(root / "checkpoint"),
        "state": str(root / "state" / "hwm.json"),
        "supporting": str(root / "supporting"),
    }
    os.makedirs(d["landing"], exist_ok=True)
    os.makedirs(d["supporting"], exist_ok=True)
    # the community-areas dimension the reference's supporting/
    # crawler registers (cdk_stack.py:113-134)
    import csv as _csv

    with open(
        os.path.join(d["supporting"], "community_areas.csv"), "w", newline=""
    ) as f:
        rows = community_area_rows()
        w = _csv.DictWriter(f, fieldnames=list(rows[0]))
        w.writeheader()
        w.writerows(rows)
    return d


@pytest.fixture(scope="module")
def crimes_rows():
    return generate_crimes_rows(n=4000)


def _rows_to_csv_text(rows):
    import csv as _csv

    buf = io.StringIO()
    w = _csv.DictWriter(buf, fieldnames=COLUMNS)
    w.writeheader()
    for r in rows:
        w.writerow(r)
    return buf.getvalue()


def _persisted_rdds(spark) -> dict[int, str]:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k): str(rdds[k].name()) for k in rdds}


def _partitions_of(spark, csv_path) -> set[tuple[str, str]]:
    """The (year, month) directory values one increment's rows map to,
    through the pipeline's own transform."""
    df = etl.derive_date_parts(
        spark.read.schema(CRIME_SCHEMA).option("header", True).csv(csv_path)
    )
    return {
        (str(r.year), str(r.month))
        for r in df.select("year", "month").distinct().collect()
    }


def test_full_pipeline_and_views(spark, pipeline_dirs, crimes_rows, tmp_path):
    # 1. REST ingest with an injected fake fetcher (S1-S3 parity)
    batch1 = crimes_rows[:3000]
    landed = ingest_increment(
        "https://example.test/resource/fake.csv",
        pipeline_dirs["landing"],
        pipeline_dirs["state"],
        fetcher=lambda url: _rows_to_csv_text(batch1),
    )
    assert landed and os.path.exists(landed)

    # empty-body guard: header-only response is not landed (S2)
    assert (
        ingest_increment(
            "https://example.test/resource/fake.csv",
            pipeline_dirs["landing"],
            pipeline_dirs["state"],
            fetcher=lambda url: "id,case_number",
        )
        is None
    )

    # 2+3. incremental transform + view creation via the pipeline DAG
    cfg = pipeline.PipelineConfig(
        landing_dir=pipeline_dirs["landing"],
        processed_dir=pipeline_dirs["processed"],
        checkpoint_dir=pipeline_dirs["checkpoint"],
        state_path=pipeline_dirs["state"],
        sql_dir=os.path.join(os.path.dirname(os.path.dirname(__file__)), "sql"),
        schema=CRIME_SCHEMA,
        supporting={"community_areas": pipeline_dirs["supporting"]},
    )
    rdds_before = _persisted_rdds(spark)
    views = pipeline.run(spark, cfg)
    assert set(views) >= {
        "dependency1_violent_crimes",
        "arrest_pct_by_community_violent",
        "count_by_crime_type",
        "fixed_dates_violent",
        "violent_by_community_enriched",
    }
    n1 = spark.table("processed").count()
    assert n1 == len(batch1)
    # the shared filter view is cached; the first read fills it
    assert spark.catalog.isCached("dependency1_violent_crimes")
    assert spark.table("arrest_pct_by_community_violent").count() == 15

    # partition layout parity: hive-style year=/month= directories
    years = [
        p for p in os.listdir(pipeline_dirs["processed"]) if p.startswith("year=")
    ]
    assert years, "expected hive-partitioned year= directories"

    # 4. bookmark parity: re-run with two new files -> only new rows
    # added (two files = two input splits feeding the same partitions)
    batch2 = crimes_rows[3000:]
    b2_files = [
        os.path.join(pipeline_dirs["landing"], f"recent_source_data_b2{part}.csv")
        for part in "ab"
    ]
    write_crimes_csv(b2_files[0], batch2[: len(batch2) // 2])
    write_crimes_csv(b2_files[1], batch2[len(batch2) // 2 :])
    pipeline.run(spark, cfg)
    n2 = spark.table("processed").count()
    assert n2 == len(crimes_rows), f"incremental run added {n2 - n1}, want {len(batch2)}"
    assert spark.table("arrest_pct_by_community_violent").count() == 15

    # no leak: the second run released the first run's cache, so the
    # two runs together hold exactly one new persisted RDD — the
    # current dependency1_ cache
    new_rdds = set(_persisted_rdds(spark).items()) - set(rdds_before.items())
    assert len(new_rdds) == 1, new_rdds
    assert "dependency1_violent_crimes" in next(iter(new_rdds))[1]

    # one writer task per partition value: each year=/month= directory
    # gets at most one file per increment that had rows for it
    increments = [_partitions_of(spark, landed), _partitions_of(spark, b2_files)]
    files = Counter(
        tuple(d.split("=", 1)[1] for d in f.split(os.sep)[-3:-1])
        for f in glob.glob(
            os.path.join(pipeline_dirs["processed"], "year=*", "month=*", "*.parquet")
        )
    )
    assert files
    for part, n in files.items():
        assert n <= sum(part in inc for inc in increments), (part, n)
    assert sum(files.values()) == sum(len(inc) for inc in increments)

    # 5. oracle-check the four views against DuckDB on the same parquet
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW processed AS SELECT * FROM read_parquet("
        f"'{pipeline_dirs['processed']}/**/*.parquet', hive_partitioning=true)"
    )
    dep1 = "SELECT * FROM processed WHERE (primary_type = 'ROBBERY' AND description LIKE '%ARMED%') OR primary_type IN ('ASSAULT','BATTERY','HOMICIDE','CRIMINAL SEXUAL ASSAULT')"

    # dependency1_violent_crimes: row count + id set
    s_ids = {r.id for r in spark.table("dependency1_violent_crimes").select("id").collect()}
    d_ids = {r[0] for r in con.execute(f"SELECT id FROM ({dep1})").fetchall()}
    assert s_ids == d_ids

    # count_by_crime_type: full value match
    s_counts = {
        (r.crime_type, r["count"])
        for r in spark.table("count_by_crime_type").collect()
    }
    d_counts = set(
        con.execute(
            f"SELECT primary_type || ' - ' || description, count(*) FROM processed GROUP BY 1"
        ).fetchall()
    )
    assert s_counts == d_counts

    # arrest_pct: compare to DuckDB with tolerance (ROUND semantics
    # differ at half-boundaries across engines; the driver-facing
    # queries use floor-form rounding instead — see functions/numeric.py)
    s_pct = {
        r.community_area: (r.tot_arrests, r.tot_reports, r.arrest_pct)
        for r in spark.table("arrest_pct_by_community_violent").collect()
    }
    d_pct = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            f"""
            WITH v AS ({dep1}),
            tr AS (SELECT community_area, count(*) AS tot_reports FROM v GROUP BY 1),
            ta AS (SELECT community_area, count(*) AS tot_arrests FROM v WHERE arrest GROUP BY 1)
            SELECT tr.community_area, tot_arrests, tot_reports,
                   CAST(tot_arrests AS double)/CAST(tot_reports AS double)*100 AS pct
            FROM tr JOIN ta ON tr.community_area = ta.community_area
            ORDER BY tot_reports DESC, tr.community_area LIMIT 15
            """
        ).fetchall()
    }
    assert set(s_pct) == set(d_pct)
    for area, (ar, rep, pct) in s_pct.items():
        dar, drep, dpct = d_pct[area]
        assert (ar, rep) == (dar, drep)
        assert abs(pct - round(dpct, 2)) <= 0.011

    # violent_by_community_enriched: the crimes->community_areas join
    # the reference provisioned a crawler for but never queried
    con.execute(
        f"CREATE VIEW community_areas AS SELECT * FROM read_csv_auto("
        f"'{pipeline_dirs['supporting']}/community_areas.csv')"
    )
    s_enriched = {
        r.community_area: (r.community_name, r.side, r.population, r.tot_reports)
        for r in spark.table("violent_by_community_enriched").collect()
    }
    d_enriched = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            f"""
            WITH v AS ({dep1}),
            tr AS (SELECT community_area, count(*) AS tot_reports FROM v GROUP BY 1),
            ta AS (SELECT community_area, count(*) AS tot_arrests FROM v WHERE arrest GROUP BY 1),
            top AS (
                SELECT tr.community_area, tot_arrests, tot_reports
                FROM tr JOIN ta ON tr.community_area = ta.community_area
                ORDER BY tot_reports DESC, tr.community_area LIMIT 15
            )
            SELECT t.community_area, c.name, c.side, c.population, t.tot_reports
            FROM top t JOIN community_areas c
              ON t.community_area = c.community_area
            """
        ).fetchall()
    }
    assert s_enriched == d_enriched and len(s_enriched) == 15

    # fixed_dates_violent: weekday name + ISO number parity
    s_wd = {
        (r.id, r.day_of_week, r.day_of_week_num)
        for r in spark.table("fixed_dates_violent")
        .select("id", "day_of_week", "day_of_week_num")
        .collect()
    }
    d_wd = set(
        con.execute(
            f"""
            SELECT id, dayname(strptime("date", '%m/%d/%Y %I:%M:%S %p')),
                   CAST(isodow(strptime("date", '%m/%d/%Y %I:%M:%S %p')) AS int)
            FROM ({dep1})
            """
        ).fetchall()
    )
    assert s_wd == d_wd

    # the release pipeline.run starts with drops the cache it took
    uncache_views_from_dir(spark, cfg.sql_dir)
    assert not spark.catalog.isCached("dependency1_violent_crimes")
    assert set(_persisted_rdds(spark).items()) - set(rdds_before.items()) == set()
