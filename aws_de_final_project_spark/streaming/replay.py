"""Bounded ordered-file stream replay: the one driver for every
streaming replay in the package, bench.py and the tests.

A replay lands a frame as slice files ``f0.parquet``, ``f1.parquet``
... with increasing mtimes, reads them back one file per micro-batch
and drains them with ``availableNow`` on an ISOLATED session. The
isolated session shares the SparkContext but owns its SQLConf,
catalog and stream manager, so the UTC pin and the state width set
here never reach queries that run on the caller's session.

Each stateful operator gets ``spark.sql.shuffle.partitions`` state
partitions. ``session.get_spark`` already gives its sessions
``session.STATE_PARTITIONS``; the isolated session sets the same width
because the caller's session may be one the engine did not build.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from aws_de_final_project_spark.session import STATE_PARTITIONS, tune_session


def land_slices(df: DataFrame, slice_col: str, path: str) -> None:
    """Write ``df`` as one parquet file per ``slice_col`` value, in ONE
    partitioned write job (hash-repartition on the slice column puts
    each slice in one writer task). Slice ``i`` lands as
    ``{path}/f{i}.parquet`` with an mtime 10 s after slice ``i - 1``'s,
    so a file stream delivers the slices in order. Slice ids must be
    the integers 0..n-1, each with at least one row; the slice column
    itself is not written."""
    parts = os.path.join(path, "_parts")
    df.repartition(slice_col).write.partitionBy(slice_col).parquet(parts)
    prefix = f"{slice_col}="
    ids = {
        int(d[len(prefix):]) for d in os.listdir(parts) if d.startswith(prefix)
    }
    if not ids:
        raise ValueError(f"land_slices: no rows to land in {slice_col}")
    now = time.time()
    for i in range(max(ids) + 1):
        if i not in ids:
            raise ValueError(f"land_slices: slice {slice_col}={i} is empty")
        d = os.path.join(parts, f"{prefix}{i}")
        (f,) = [x for x in os.listdir(d) if x.endswith(".parquet")]
        dst = os.path.join(path, f"f{i}.parquet")
        os.rename(os.path.join(d, f), dst)
        os.utime(dst, (now + i * 10, now + i * 10))
    shutil.rmtree(parts)


def isolated_session(spark: SparkSession) -> SparkSession:
    """A new session on ``spark``'s context with the engine defaults
    (``session.tune_session``: UTC, AQE), and
    ``session.STATE_PARTITIONS`` shuffle partitions."""
    iso = tune_session(spark.newSession())
    iso.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    return iso


def read_slices(spark: SparkSession, schema, path: str) -> DataFrame:
    """Stream the files :func:`land_slices` wrote under ``path``, one
    file (slice) per micro-batch, on a new :func:`isolated_session` of
    ``spark``."""
    return (
        isolated_session(spark).readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def to_memory(stream: DataFrame, output_mode: str) -> DataFrame:
    """Drain ``stream`` into a memory sink with ``availableNow`` and
    return the sink table, on the stream's own session. The table
    lives in the driver JVM and outlives both the query and the
    landed files."""
    name = f"replay_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream.sparkSession.table(name)
