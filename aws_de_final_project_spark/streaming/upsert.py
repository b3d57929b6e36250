"""Streaming keyed upsert: last-writer-wins MERGE via foreachBatch.

The reference's re-delivery gap, closed end-to-end: Socrata re-sends
updated rows keyed by ``updated_on`` (``Additional_Data_Function/
get_data_api.py:10-13``) and the reference just appends them — its
"processed" zone accumulates every version forever. The Spark-native
fix is a ``foreachBatch`` sink that merges each micro-batch into a
keyed table: new keys insert, re-delivered keys replace their old
version, everything else is untouched.

Without a transactional table format this is implemented as
hash-bucketed partition overwrite: the target is partitioned by
``pmod(xxhash64(key), n_buckets)``; a micro-batch only rewrites the
buckets it touches (dynamic partition overwrite), merging old rows
that lose to an incoming version out, keeping the rest. At 100 TB the
rewrite cost per batch is bounded by (touched buckets) x (bucket
size), not table size — the same amortization Hudi/Iceberg
copy-on-write does, expressed with stock Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_de_final_project_spark.operators.util import cut, release


def _bucketed(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    )


def merge_batch(
    spark: SparkSession,
    batch: DataFrame,
    target_dir: str,
    key_col: str,
    version_col: str,
    n_buckets: int = 16,
) -> None:
    """Merge one (micro-)batch into the keyed parquet table at
    ``target_dir``: per key keep the single row with the highest
    ``version_col`` (ties: incoming wins). Only the hash buckets the
    batch touches are rewritten."""
    # collapse the batch itself first (a batch can carry several
    # versions of one key)
    w = Window.partitionBy(key_col).orderBy(F.desc(version_col))
    incoming = _bucketed(
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn"),
        key_col,
        n_buckets,
    )
    try:
        current = spark.read.parquet(target_dir)
        touched = incoming.select("_bucket").distinct()
        in_play = current.join(F.broadcast(touched), "_bucket", "left_semi")
        # true MERGE: a stale re-delivery (older version than the
        # table) must LOSE — re-apply the version window over current
        # + incoming rows, incoming winning version ties.
        both = in_play.withColumn("_src", F.lit(0)).unionByName(
            incoming.withColumn("_src", F.lit(1))
        )
        w2 = Window.partitionBy(key_col).orderBy(
            F.desc(version_col), F.desc("_src")
        )
        # materialize BEFORE the write: the merged plan reads the same
        # path it is about to overwrite. The cut alone may wait for its
        # first consumer — which would be the overwrite itself — so the
        # count pulls the survivors out of the source files first.
        merged = cut(
            both.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        merged.count()
    except Exception:  # first batch — nothing to merge
        merged = incoming
    (
        merged.write.mode("overwrite")
        .partitionBy("_bucket")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(target_dir)
    )
    release(merged)


def streaming_upsert(
    spark: SparkSession,
    source: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key_col: str,
    version_col: str,
    n_buckets: int = 16,
) -> None:
    """Drive a stream into the keyed table until caught up
    (AvailableNow): exactly-once per file via the checkpoint, last
    writer wins per key across batches."""
    q = (
        source.writeStream.foreachBatch(
            lambda b, _id: merge_batch(
                b.sparkSession, b, target_dir, key_col, version_col, n_buckets
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
