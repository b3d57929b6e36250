"""Incremental file ingest — the Spark-native replacement for Glue
job bookmarks.

The reference gets exactly-once-per-file semantics from
``--job-bookmark-option: job-bookmark-enable``
(``CDK/cdk/cdk_stack.py:165``): each run processes only files not
seen before. Structured Streaming's file source + checkpoint gives
the same contract declaratively, and ``Trigger.AvailableNow`` turns
it into a batch-incremental run (process everything new, then stop)
— the exact execution shape of a scheduled Glue job run.

At 100 TB: the file-source maintains seen-file state in the
checkpoint (RocksDB-backed at scale). A run sets no
``maxFilesPerTrigger``, so it takes every new file in one micro-batch;
on the daily schedule that is one increment, the files the reference's
Glue job reads per run.

A partitioned sink first hash-repartitions by the partition columns:
each partition value gets one writer task, so every increment lands as
one file per value instead of one per value per input split.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def incremental_csv_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """One bookmark-style incremental run: read only new CSV files
    under ``input_dir``, apply ``transform``, append as parquet to
    ``output_dir``; stop when caught up (Trigger.AvailableNow).

    Re-running after new files arrive processes ONLY the new files —
    the checkpoint is the bookmark (exactly-once per file).
    """
    df = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(input_dir)
    )
    if transform is not None:
        df = transform(df)
    if partition_cols:
        df = df.repartition(*partition_cols)
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    query = writer.start()
    query.awaitTermination()
