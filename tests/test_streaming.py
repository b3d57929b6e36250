"""Structured Streaming semantics: windowed aggregation equivalence
(stream == batch for the same plan) and watermark-bounded state."""

from __future__ import annotations

import ast
import datetime as dt
import os
import re
from pathlib import Path

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from aws_de_final_project_spark import session
from aws_de_final_project_spark.operators.util import local_frame
from aws_de_final_project_spark.sources.registry import load_tables
from aws_de_final_project_spark.streaming import replay
from aws_de_final_project_spark.streaming.windows import windowed_event_counts

ROOT = Path(__file__).resolve().parent.parent
REPLAY = ROOT / "aws_de_final_project_spark" / "streaming" / "replay.py"
SESSION = ROOT / "aws_de_final_project_spark" / "session.py"
WIDTH = "spark.sql.shuffle.partitions"
BATCH_WIDTH = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
EVENTS = StructType(
    [
        StructField("ts", TimestampNTZType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _h(hh: int, mm: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, hh, mm)


@pytest.fixture(scope="module")
def events_parquet_dir(spark, tmp_path_factory):
    """Re-land the events table as a micro-batched parquet dir (the
    nanos-ts original can't be stream-read directly)."""
    out = str(tmp_path_factory.mktemp("events_stream_src"))
    t = load_tables(spark, "/root/testdata/sf0.001", ("events",), register_views=False)
    t["events"].repartition(4).write.mode("overwrite").parquet(out)
    return out


def _land_rows(spark, slices, schema: StructType, path: str) -> None:
    """Land each row list in ``slices`` as one ordered slice file."""
    rows = [(*r, i) for i, sl in enumerate(slices) for r in sl]
    schema = StructType([*schema, StructField("_slice", IntegerType())])
    replay.land_slices(local_frame(spark, rows, schema), "_slice", path)


def test_stream_equals_batch(spark, events_parquet_dir):
    batch_df = spark.read.parquet(events_parquet_dir)
    expected = {
        (str(r.window_start), r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in windowed_event_counts(batch_df).collect()
    }

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 2)  # force multiple micro-batches
        .parquet(events_parquet_dir)
    )
    sink = replay.to_memory(windowed_event_counts(stream), "complete")
    got = {
        (str(r.window_start), r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in sink.collect()
    }
    assert got == expected


def test_incremental_ingest_is_exactly_once(spark, tmp_path):
    """File-source + checkpoint = Glue-bookmark parity (T1): a second
    run with no new files writes nothing; a new file adds only its
    own rows."""
    from pyspark.sql import types as T

    from aws_de_final_project_spark.streaming.ingest import incremental_csv_ingest

    src = tmp_path / "in"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    (src / "f1.csv").write_text("a,b\n1,x\n2,y\n")

    incremental_csv_ingest(spark, str(src), out, ckpt, schema)
    assert spark.read.parquet(out).count() == 2

    incremental_csv_ingest(spark, str(src), out, ckpt, schema)  # no new files
    assert spark.read.parquet(out).count() == 2

    (src / "f2.csv").write_text("a,b\n3,z\n")
    incremental_csv_ingest(spark, str(src), out, ckpt, schema)
    got = sorted(r.a for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]


def test_session_window_stream_equals_batch(spark, events_parquet_dir):
    """Built-in session_window: streaming result (complete mode, all
    sessions closed at end of available data) == batch result."""
    from aws_de_final_project_spark.streaming.windows import session_stats

    batch_df = spark.read.parquet(events_parquet_dir)
    expected = {
        (r.user_id, str(r.session_start)): (str(r.session_end), r.n_events)
        for r in session_stats(batch_df).collect()
    }

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_parquet_dir)
    )
    from aws_de_final_project_spark.streaming.evtime import ensure_event_time

    agg = session_stats(
        ensure_event_time(stream, "ts").withWatermark("ts", "0 seconds")
    )
    sink = replay.to_memory(agg, "complete")
    got = {
        (r.user_id, str(r.session_start)): (str(r.session_end), r.n_events)
        for r in sink.collect()
    }
    assert got == expected


def test_session_append_merges_across_batches(spark, tmp_path):
    """APPEND-mode sessionization (session_stats_stream — the
    streaming_session_replay path): a session whose events arrive in
    DIFFERENT micro-batches must merge in the state store before the
    watermark closes it, sessions are emitted exactly once, and the
    far-future sentinel that drives the final watermark advance never
    leaks (its own session stays open)."""
    import datetime as dt

    from pyspark.sql.types import LongType, TimestampNTZType

    from aws_de_final_project_spark.streaming.windows import (
        session_stats_stream,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampNTZType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    slices = [
        # batch 0: user 1 opens a session; user 2 a lone event
        [(1, t0), (1, t0 + 10 * m), (2, t0 + 5 * m)],
        # batch 1: user 1's session CONTINUES (gap 10 min < 30) -> must
        # merge with open state; then a 40-min gap opens session 2
        [(1, t0 + 20 * m), (1, t0 + 60 * m)],
        # sentinels: advance watermark past every real session end,
        # then give Spark a batch in which to emit
        [(-1, t0 + dt.timedelta(hours=3))],
        [(-1, t0 + dt.timedelta(hours=5))],
    ]
    d = str(tmp_path / "sess_merge")
    _land_rows(spark, slices, schema, d)

    stream = replay.read_slices(spark, schema, d)
    tdf = replay.to_memory(
        session_stats_stream(stream, gap="30 minutes"), "append"
    )
    rows = tdf.orderBy("user_id", "session_start").collect()
    got = [
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in rows
        if r.user_id >= 0
    ]
    assert got == [
        # user 1 session 1: 3 events spanning batches 0 and 1, merged
        (1, "2024-01-01 00:00:00", "2024-01-01 00:50:00", 3),
        (1, "2024-01-01 01:00:00", "2024-01-01 01:30:00", 1),
        (2, "2024-01-01 00:05:00", "2024-01-01 00:35:00", 1),
    ]
    # the last sentinel's session is still open at stream end — the
    # watermark never passes it, so append mode must not emit it
    assert not any(
        r.user_id == -1 and str(r.session_start) == "2024-01-01 05:00:00"
        for r in rows
    )
    # NTZ discipline: emitted bounds are timestamp_ntz
    assert str(tdf.schema["session_start"].dataType) == "TimestampNTZType()"
    assert str(tdf.schema["session_end"].dataType) == "TimestampNTZType()"


def test_stream_stream_join_equals_batch(spark, events_parquet_dir):
    """Watermarked stream-stream interval join (purchase <- preceding
    clicks within 60 min): streaming append output == the identical
    plan run in batch."""
    from aws_de_final_project_spark.streaming.joins import (
        click_purchase_attribution,
    )

    batch = spark.read.parquet(events_parquet_dir)
    b_p = batch.filter(F.col("event_type") == "purchase")
    b_c = batch.filter(F.col("event_type") == "click")
    expected = {
        (r.user_id, r.purchase_id, r.click_id, r.gap_us)
        for r in click_purchase_attribution(b_p, b_c).collect()
    }
    assert expected, "fixture has no purchase<-click matches"

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_parquet_dir)
    )
    s_p = stream.filter(F.col("event_type") == "purchase")
    s_c = stream.filter(F.col("event_type") == "click")
    sink = replay.to_memory(click_purchase_attribution(s_p, s_c), "append")
    got = {
        (r.user_id, r.purchase_id, r.click_id, r.gap_us)
        for r in sink.collect()
    }
    assert got == expected


def test_watermark_drops_late_data(spark, tmp_path):
    """T3's late-data contract, pinned: in append mode a row arriving
    BEYOND the watermark horizon (here 30 min) after the max seen
    event time must be dropped — its window already closed and
    emitted. A mildly-late row inside the horizon still counts."""
    from datetime import datetime

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    h = lambda hh, mm: datetime(2024, 1, 1, hh, mm)  # noqa: E731
    slices = [
        # batch 1: events up to 03:00 -> watermark advances to 02:30
        # after this batch commits
        [
            (h(1, 10), "click", 1.0),
            (h(1, 20), "click", 1.0),
            (h(3, 0), "view", 1.0),
        ],
        # batch 2: 02:40 is within horizon (kept); at this batch's END
        # the 01:00 window (end 02:00 < watermark 02:30) is emitted +
        # evicted
        [(h(2, 40), "click", 1.0)],
        # batch 3: 01:30 is beyond the watermark AND its window state
        # is gone -> the row must be DROPPED (eviction is
        # batch-granular: a late row arriving while state still
        # lingered could merge, which is why this arrives a full batch
        # after the eviction)
        [(h(1, 30), "click", 99.0)],
        # batch 4: advance time so every open window closes and emits
        [(h(9, 0), "view", 1.0)],
    ]
    src = str(tmp_path / "late_src")
    _land_rows(spark, slices, schema, src)

    stream = replay.read_slices(spark, schema, src)
    agg = windowed_event_counts(stream, "1 hour", watermark="30 minutes")
    got = {
        (str(r.window_start), r.event_type): (r.n_events, r.sum_value)
        for r in replay.to_memory(agg, "append").collect()
    }
    # the 01:00 click window holds ONLY the two on-time rows — the
    # 99.0-valued late row never lands anywhere
    assert got[("2024-01-01 01:00:00", "click")] == (2, 2.0)
    assert ("2024-01-01 02:00:00", "click") in got  # in-horizon row kept
    assert not any(v[1] == 99.0 for v in got.values())


def test_streaming_upsert_last_writer_wins(spark, tmp_path):
    """foreachBatch keyed MERGE (the re-delivery fix the reference
    never had): re-delivered keys replace their old version, new keys
    insert, a re-run adds nothing, and only touched hash buckets are
    rewritten. Each batch releases its merge cut after the write."""
    from pyspark.sql import types as T

    from aws_de_final_project_spark.streaming.upsert import streaming_upsert

    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    (src / "f1.csv").write_text(
        "id,v,payload\n" + "".join(f"{i},1,a{i}\n" for i in range(100))
    )
    (src / "f2.csv").write_text(
        # re-deliver 0-19 at v=2, add 100-109
        "id,v,payload\n"
        + "".join(f"{i},2,b{i}\n" for i in range(20))
        + "".join(f"{i},1,a{i}\n" for i in range(100, 110))
    )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
        )
        streaming_upsert(spark, stream, out, ckpt, "id", "v")

    persisted = set(spark.sparkContext._jsc.getPersistentRDDs())
    run()
    leaked = set(spark.sparkContext._jsc.getPersistentRDDs()) - persisted
    assert not leaked, leaked
    got = {r.id: (r.v, r.payload) for r in spark.read.parquet(out).collect()}
    want = {i: (1, f"a{i}") for i in range(20, 110)}
    want.update({i: (2, f"b{i}") for i in range(20)})
    assert got == want

    run()  # no new files -> checkpoint makes this a no-op
    again = {r.id: (r.v, r.payload) for r in spark.read.parquet(out).collect()}
    assert again == want

    # late re-delivery with an OLDER version must lose
    (src / "f3.csv").write_text("id,v,payload\n5,0,stale\n")
    run()
    final = {r.id: (r.v, r.payload) for r in spark.read.parquet(out).collect()}
    assert final == want


def test_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionization: with time-ordered file
    arrival, every gap-closed session must match the batch
    (session_window) ground truth exactly; nothing may be emitted
    that batch doesn't have."""
    from aws_de_final_project_spark.functions.numeric import epoch_us
    from aws_de_final_project_spark.streaming.stateful import sessionize_stateful
    from aws_de_final_project_spark.streaming.windows import session_stats

    t = load_tables(spark, "/root/testdata/sf0.001", ("events",), register_views=False)
    events = t["events"].select("user_id", "ts", "value")

    # land the source as 3 slices in ts order so the file source
    # delivers them as ordered micro-batches
    src = str(tmp_path / "sess_src")
    us = epoch_us("ts")
    q1, q2 = events.select(us.alias("_us")).approxQuantile(
        "_us", [0.33, 0.66], 0.0
    )
    replay.land_slices(
        events.withColumn(
            "_slice", F.when(us <= q1, 0).when(us <= q2, 1).otherwise(2)
        ),
        "_slice",
        src,
    )

    stream = replay.read_slices(spark, events.schema, src)
    out = sessionize_stateful(stream, gap_minutes=30)
    got = replay.to_memory(out, "append").collect()

    truth = {
        (r.user_id, str(r.session_start)): (
            str(r.session_end),
            r.n_events,
            round(r.sum_value, 6),
        )
        for r in session_stats(events).collect()
    }
    assert got, "no sessions emitted"
    for r in got:
        key = (r.user_id, str(r.session_start))
        assert key in truth, f"spurious session {key}"
        end, n, sv = truth[key]
        assert (str(r.session_end), r.n_events, round(r.sum_value, 6)) == (
            end,
            n,
            sv,
        ), f"session mismatch for {key}"
    # with ts-ordered arrival, all but each user's final session close
    # by gap; most of the ground truth must have been emitted
    n_users = events.select("user_id").distinct().count()
    assert len(got) >= len(truth) - n_users


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract, both halves: a
    duplicate key arriving WITHIN the horizon is suppressed; one
    arriving after its state was evicted (watermark passed) is
    re-emitted — which is why the layered design pairs this with an
    idempotent MERGE sink (streaming/upsert.py) for the tail."""
    from datetime import datetime

    from pyspark.sql import types as T

    from aws_de_final_project_spark.streaming.dedup import dedup_stream

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    h = lambda hh, mm: datetime(2024, 1, 1, hh, mm)  # noqa: E731
    slices = [
        [(h(1, 0), 1, 10.0), (h(1, 0), 2, 20.0)],
        # in-horizon redelivery of id 1 (the Socrata updated_on
        # re-fetch shape) -> suppressed
        [(h(1, 10), 1, 10.0)],
        # advance event time far past 01:00 + 30min; the watermark the
        # NEXT batch runs with becomes 09:30
        [(h(10, 0), 3, 30.0)],
        # state eviction is batch-granular and happens at batch END:
        # this batch is the first to RUN with watermark 09:30, so id
        # 1's state is dropped when it commits
        [(h(10, 10), 4, 40.0)],
        # post-eviction redelivery -> re-emitted
        [(h(10, 15), 1, 10.0)],
    ]
    src = str(tmp_path / "dedup_src")
    _land_rows(spark, slices, schema, src)

    stream = replay.read_slices(spark, schema, src)
    out = dedup_stream(stream, keys=("event_id",), watermark="30 minutes")
    rows = replay.to_memory(out, "append").collect()
    by_id = {}
    for r in rows:
        by_id[r.event_id] = by_id.get(r.event_id, 0) + 1
    assert by_id[2] == 1 and by_id[3] == 1 and by_id[4] == 1
    assert by_id[1] == 2, f"expected suppress-then-reemit, got {by_id}"
    assert len(rows) == 5


def test_streaming_registry_dedup_matches_batch_fold(spark, tmp_path):
    """3 file-batches of docs through dedup_docs_stream == the batch
    dedup_against_state fold over the same arrival order, and a full
    re-run over the same files (fresh checkpoint, existing registry)
    is byte-idempotent."""
    from aws_de_final_project_spark.operators.dedup import dedup_against_state
    from aws_de_final_project_spark.streaming.dedup import dedup_docs_stream

    src = tmp_path / "src"
    batches = [
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "unique one")],
        [(4, "alpha beta gamma"), (5, "unique two")],
        [(6, "unique two"), (7, "unique three")],
    ]
    schema = "doc_id long, text string"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{i}"))

    def run(tag):
        q = dedup_docs_stream(
            spark,
            str(src) + "/*",
            schema,
            str(tmp_path / "registry"),
            str(tmp_path / "out"),
            str(tmp_path / f"chk_{tag}"),
        )
        q.awaitTermination()
        return {
            (r.doc_id, r.text)
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }

    got = run("a")

    state = spark.createDataFrame([], "fp string, keeper_id long")
    kept_ids = set()
    for rows in batches:
        batch = spark.createDataFrame(rows, schema)
        kept, state = dedup_against_state(batch, state, "text", "doc_id")
        kept_ids |= {r.doc_id for r in kept.collect()}
    assert {d for d, _ in got} == kept_ids
    # the file source drains in lexicographic file order == arrival
    # order here, so first-arrival-wins must pick ids 1, 3, 5, 7
    assert kept_ids == {1, 3, 5, 7}

    # idempotent re-run: same files, fresh checkpoint, kept registry
    again = run("b")
    assert again == got


def test_streaming_drift_monitor_matches_batch_psi(spark, tmp_path):
    """Per-micro-batch PSI vs a frozen reference == the batch
    psi_drift over (reference + that batch): a stable batch scores
    ~0, a shifted batch scores high, and the streamed metric equals
    the batch operator's value exactly."""
    from aws_de_final_project_spark.operators.dq import psi_drift
    from aws_de_final_project_spark.streaming.dq import (
        drift_monitor_stream,
        reference_histogram,
    )

    schema = "grp string, v double"
    ref_rows = [("g", float(i % 100)) for i in range(2000)]
    ref = spark.createDataFrame(ref_rows, schema)
    reference_histogram(ref, "v", "grp", 0.0, 160.0, 16,
                        str(tmp_path / "ref"))

    batches = [
        [("g", float(i % 100)) for i in range(500)],          # stable
        [("g", float(i % 100) + 60.0) for i in range(500)],   # shifted
    ]
    src = tmp_path / "src"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{i}"))

    q = drift_monitor_stream(
        spark, str(src) + "/*", schema,
        str(tmp_path / "ref"), str(tmp_path / "metrics"),
        str(tmp_path / "chk"), "v", "grp", 0.0, 160.0, 16,
    )
    q.awaitTermination()
    got = {
        r.batch_id: r.psi
        for r in spark.read.parquet(str(tmp_path / "metrics")).collect()
    }
    assert len(got) == 2
    assert min(got.values()) < 0.01       # the stable batch
    assert max(got.values()) > 0.25       # the shifted batch

    # exact agreement with the batch operator per (reference, batch)
    for i, rows in enumerate(batches):
        both = ref.withColumn("cur", F.lit(False)).unionByName(
            spark.createDataFrame(rows, schema).withColumn(
                "cur", F.lit(True)
            )
        )
        want = psi_drift(
            both, "v", F.col("cur"), "grp", lo=0.0, hi=160.0, n_bins=16
        ).collect()[0].psi
        # streamed batch order == file order (b0, b1)
        assert got[i] == want, (i, got[i], want)


def test_streaming_kmv_equals_batch_sketch(spark, tmp_path):
    """Streaming KMV distinct-count state fold == the batch sketch of
    the full history, EXACTLY — the associativity of the KMV merge
    observed end-to-end through applyInPandasWithState micro-batches
    (same claim rollup_incremental_distinct_kmv's shared oracle
    proves for the two-delta batch fold)."""
    from pyspark.sql.window import Window

    from aws_de_final_project_spark.plans.extensions import (
        sketch_kmv_distinct_portable,
    )
    from aws_de_final_project_spark.streaming.sketch import kmv_distinct_stream

    t = load_tables(
        spark, "/root/testdata/sf0.001", ("events",), register_views=False
    )
    events = t["events"].select("event_type", "user_id", "event_id")

    src = str(tmp_path / "kmv_src")
    replay.land_slices(
        events.withColumn("_slice", (F.col("event_id") % 3).cast("int")),
        "_slice",
        src,
    )
    stream = replay.read_slices(spark, events.schema, src)
    sink = replay.to_memory(kmv_distinct_stream(stream), "update")
    last = Window.partitionBy("event_type").orderBy(F.col("n_batches").desc())
    rows = (
        sink.withColumn("rn", F.row_number().over(last))
        .filter(F.col("rn") == 1)
        .collect()
    )
    got = {r.event_type: (r.n_in_sketch, r.est_users) for r in rows}
    truth = {
        r.event_type: r.est_users
        for r in sketch_kmv_distinct_portable(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(got) == set(truth)
    for et, (_n, est) in got.items():
        assert est == truth[et], (et, est, truth[et])


def test_land_slices_one_file_per_slice_in_mtime_order(spark, tmp_path):
    """Each slice lands as exactly one ``f{i}.parquet`` holding only
    its rows, one write job for all slices, mtimes strictly
    increasing in slice order."""
    src = str(tmp_path / "land")
    df = spark.range(300).repartition(7)
    replay.land_slices(
        df.withColumn("_slice", (F.col("id") % 3).cast("int")), "_slice", src
    )
    names = [f"f{i}.parquet" for i in range(3)]
    assert sorted(os.listdir(src)) == names
    mtimes = [os.path.getmtime(os.path.join(src, n)) for n in names]
    assert mtimes[0] < mtimes[1] < mtimes[2]
    for i, n in enumerate(names):
        ids = [r.id for r in spark.read.parquet(os.path.join(src, n)).collect()]
        assert sorted(ids) == list(range(i, 300, 3))


def test_land_slices_names_an_empty_slice(spark, tmp_path):
    rows = local_frame(spark, [(1, 0), (2, 2)], "v int, _slice int")
    with pytest.raises(ValueError, match="slice _slice=1 is empty"):
        replay.land_slices(rows, "_slice", str(tmp_path / "land"))


def test_replay_session_leaves_the_caller_session_alone(
    spark, tmp_path, monkeypatch
):
    """The driver's UTC pin and state width live on its own session: a
    caller at America/Chicago with 8 shuffle partitions keeps both,
    and the replayed query's state operator runs 2 partitions."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        started.append(start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    slices = [[(_h(1), "click", 1.0)], [(_h(5), "click", 2.0)]]
    tz = "spark.sql.session.timeZone"
    before = {k: spark.conf.get(k) for k in (tz, WIDTH)}
    spark.conf.set(tz, "America/Chicago")
    spark.conf.set(WIDTH, "8")
    try:
        src = str(tmp_path / "iso_src")
        _land_rows(spark, slices, EVENTS, src)
        stream = replay.read_slices(spark, EVENTS, src)
        sink = replay.to_memory(windowed_event_counts(stream), "append")
        assert sink.count() == 1  # 01:00 closes once 05:00 passes the watermark
        assert sink.sparkSession.conf.get(tz) == "UTC"
        assert spark.conf.get(tz) == "America/Chicago"
        assert spark.conf.get(WIDTH) == "8"
        (q,) = started
        op = q.lastProgress.stateOperators[0]
        assert op.numShufflePartitions == session.STATE_PARTITIONS
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def _window_stream(spark, src: str):
    return windowed_event_counts(
        spark.readStream.schema(EVENTS).option("maxFilesPerTrigger", 1).parquet(src)
    )


def test_session_splits_batch_and_state_width(spark, tmp_path):
    """One session, two widths: batch shuffles plan at the session's
    batch ceiling (conftest: 8), stateful streams run
    ``session.STATE_PARTITIONS`` state partitions."""
    agg = spark.range(100).withColumn("k", F.col("id") % 7).groupBy("k").count()
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(k#\d+L?, 8\)", plan), plan

    src = str(tmp_path / "src")
    _land_rows(spark, [[(_h(1), "click", 1.0)], [(_h(5), "click", 2.0)]], EVENTS, src)
    q = (
        _window_stream(spark, src)
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    op = q.lastProgress.stateOperators[0]
    assert op.numShufflePartitions == session.STATE_PARTITIONS


def test_resumed_query_keeps_its_checkpointed_width(spark, tmp_path):
    """A stateful query first started at 8 state partitions (the width
    of every checkpoint written while the session had one width) keeps
    8 when restarted on a session at ``STATE_PARTITIONS``, and its state
    survives: the emitted windows equal the batch aggregate."""
    slices = [
        [(_h(1), "click", 1.0), (_h(2), "view", 2.0)],
        [(_h(5), "click", 3.0)],
        # 05:30 lands after the restart in the window 05:00 opened
        # before it; 09:00 moves the watermark to 07:00 and closes it
        [(_h(5, 30), "click", 4.0), (_h(9), "view", 5.0)],
    ]
    staged, src = tmp_path / "staged", tmp_path / "src"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _land_rows(spark, slices, EVENTS, str(staged))
    src.mkdir()

    def run(files: list[str]) -> int:
        for f in files:
            os.rename(staged / f, src / f)
        q = (
            _window_stream(spark, str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.lastProgress.stateOperators[0].numShufflePartitions

    before = spark.conf.get(WIDTH)
    spark.conf.set(WIDTH, "8")
    try:
        assert run(["f0.parquet", "f1.parquet"]) == 8
    finally:
        spark.conf.set(WIDTH, before)
    assert spark.conf.get(WIDTH) == str(session.STATE_PARTITIONS)
    assert run(["f2.parquet"]) == 8

    def rows(df):
        return sorted(
            (r.window_start, r.event_type, r.n_events, r.sum_value)
            for r in df.collect()
        )

    batch = rows(windowed_event_counts(spark.read.schema(EVENTS).parquet(str(src))))
    # the 09:00 window is still open at the final watermark (07:00)
    expected = [r for r in batch if r[0] < _h(9)]
    assert len(expected) == 3
    assert rows(spark.read.parquet(out)) == expected


def _calls(path: Path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            yield node


def _conf_key(call) -> str | None:
    if call.func.attr in ("set", "config") and call.args:
        return getattr(call.args[0], "value", None)
    return None


def test_replay_isolation_lives_only_in_the_driver():
    """One-way guard: in the package, bench.py and tools/, only
    streaming/replay.py calls ``newSession()`` or ``os.utime()``, only
    it and session.py set ``spark.sql.shuffle.partitions``, and only
    session.py sets the batch ceiling ``initialPartitionNum``."""
    assert {"newSession", "utime", "set"} <= {c.func.attr for c in _calls(REPLAY)}
    assert {WIDTH, BATCH_WIDTH} <= {_conf_key(c) for c in _calls(SESSION)}
    allowed = {WIDTH: (REPLAY, SESSION), BATCH_WIDTH: (SESSION,)}
    files = sorted((ROOT / "aws_de_final_project_spark").rglob("*.py"))
    files += [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]
    hits = []
    for path in files:
        for call in _calls(path):
            name = call.func.attr
            is_utime = name == "utime" and getattr(call.func.value, "id", "") == "os"
            if (name == "newSession" or is_utime) and path != REPLAY:
                hits.append(f"{path.relative_to(ROOT)}:{call.lineno}: {name}")
            key = _conf_key(call)
            if key in allowed and path not in allowed[key]:
                hits.append(f"{path.relative_to(ROOT)}:{call.lineno}: {name}")
    assert not hits, "\n".join(hits)
