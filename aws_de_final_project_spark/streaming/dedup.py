"""Streaming deduplication with bounded state.

The reference's incremental ingest RE-DELIVERS rows: the Socrata
``updated_on > hwm`` filter re-fetches any record updated since the
last run (``Additional_Data_Function/get_data_api.py:10-13``), and
nothing downstream collapses the duplicates. In a streaming engine the
fix is key-based dedup — but naive ``dropDuplicates`` keeps every key
EVER SEEN in state, which on an unbounded 100 TB stream is a slow
OOM. ``dropDuplicatesWithinWatermark`` bounds state to the watermark
horizon: a key's fingerprint is evicted once the watermark passes its
event time + delay, so state is O(keys per horizon).

The contract that buys: duplicates arriving within ``watermark`` of
the original are suppressed; a duplicate arriving AFTER eviction is
re-emitted (pinned in tests/test_streaming.py) — the downstream sink
must be idempotent on the key (e.g. streaming/upsert.py's MERGE) for
end-to-end exactly-once. That layering (bounded-state dedup for the
common fast path + idempotent sink for the tail) is the standard
design; unbounded dedup state is not.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_de_final_project_spark.operators.util import local_frame


def dedup_stream(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """First-seen-wins dedup by ``keys`` with state bounded by the
    watermark horizon. Works on batch frames too (plain
    ``dropDuplicates`` — the batch twin for result comparison)."""
    if events.isStreaming:
        from aws_de_final_project_spark.streaming.evtime import ensure_event_time

        return (
            ensure_event_time(events, ts_col)
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(keys))
        )
    return events.dropDuplicates(list(keys))


def content_dedup_registry_sink(
    registry_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch sink: content-dedup each micro-batch against a
    PERSISTED fingerprint registry — the streaming face of
    operators/dedup.dedup_against_state, with the two extra guarantees
    a restartable stream needs:

    * **retry idempotence**: survivors land in an overwritten
      ``out_dir/batch=<id>`` directory, and a row whose fingerprint is
      already registered is re-admitted iff the registry names IT as
      the keeper — so re-processing a batch after a mid-commit crash
      reproduces byte-identical output instead of dropping it (the
      plain anti-join would see its own fingerprints and emit
      nothing).
    * **reader-consistent state**: the registry update is staged to
      ``registry_dir + '.staging'`` and swapped, the same pattern as
      operators/rollup_maint.py, because the new state is computed
      from the files it replaces.

    State volume is one 16-byte fingerprint + keeper id per distinct
    content ever admitted; per-batch cost is batch-sized (hash agg +
    one join against the registry on fp), independent of history
    depth — history is never rescanned.
    """
    import os
    import shutil

    from aws_de_final_project_spark.functions.text import fingerprint
    from aws_de_final_project_spark.operators.util import spread

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fps = spread(batch).select(
            F.col(id_col), fingerprint(text_col).alias("fp")
        )
        batch_first = fps.groupBy("fp").agg(F.min(id_col).alias(id_col))
        if os.path.exists(registry_dir):
            state = spark.read.parquet(registry_dir)
        else:
            state = local_frame(spark, [], "fp string, keeper_id long")
        joined = batch_first.join(
            state.withColumnRenamed("fp", "_sfp"),
            batch_first["fp"] == F.col("_sfp"),
            "left",
        )
        kept = joined.filter(
            F.col("_sfp").isNull() | (F.col("keeper_id") == F.col(id_col))
        ).select(id_col, "fp", F.col("_sfp").isNull().alias("_new"))
        kept_rows = batch.join(kept.select(id_col), id_col, "left_semi")
        kept_rows.write.mode("overwrite").parquet(
            f"{out_dir}/batch={int(batch_id)}"
        )
        new_state = state.unionByName(
            kept.filter("_new").select(
                "fp", F.col(id_col).alias("keeper_id")
            )
        )
        staging = registry_dir + ".staging"
        new_state.write.mode("overwrite").parquet(staging)
        if os.path.exists(registry_dir):
            shutil.rmtree(registry_dir)
        os.rename(staging, registry_dir)

    return sink


def dedup_docs_stream(
    spark,
    src_dir: str,
    schema: str,
    registry_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int = 1,
):
    """Incremental content dedup over a landing directory of parquet
    files: each micro-batch anti-joins the durable registry, survivors
    append (idempotently) to ``out_dir``. AvailableNow drains the
    backlog and stops — the Glue-bookmark-style batch-incremental
    posture of streaming/ingest.py, now with cross-run content dedup."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            content_dedup_registry_sink(
                registry_dir, out_dir, text_col, id_col
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
