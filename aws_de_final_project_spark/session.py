"""SparkSession factory with scale-sane defaults.

The reference delegated all engine tuning to Glue 3.0 / Spark 3.1
(``CDK/cdk/cdk_stack.py:166``) on a 10 x G.1X (40-core) fleet
(``cdk_stack.py:170,172``). We run Spark 4.x and enable the features
that supersede everything Glue offered: AQE (runtime re-planning,
skew-join splitting, SMJ->BHJ conversion), partition coalescing, and
Arrow for any Python exchange.

Every knob here is chosen for the 100 TB posture, not just local runs:

* ``spark.sql.adaptive.enabled`` — runtime shuffle-stats re-planning;
  converts sort-merge joins to broadcast when the built side turns out
  small, and splits skewed partitions.
* two shuffle widths, both set here. Batch shuffles start at
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` (~2x
  cores locally) and AQE's ``coalescePartitions`` shrinks them at
  runtime, so the initial number is a ceiling, not a commitment.
  Spark reads ``initialPartitionNum`` in place of
  ``spark.sql.shuffle.partitions`` only while coalescing is enabled,
  which is why it sits beside ``coalescePartitions.enabled``; stateless
  streams, which also run under AQE, get the same ceiling. Stateful
  streaming operators run with AQE off, so they read
  ``spark.sql.shuffle.partitions``, which is :data:`STATE_PARTITIONS`.
  That number is the state-store count: each store pays a fixed
  per-micro-batch cost (commit, snapshot, task dispatch), Spark records
  it in the checkpoint at first start and a restarted query keeps the
  recorded count. The engine's streams carry at most a few thousand
  keys; a production stream sizes it to its key cardinality at start.
* session timezone pinned UTC so event-time semantics are
  deterministic regardless of host timezone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

STATE_PARTITIONS = 2


def default_parallelism() -> int:
    """Local core budget: $SPARK_GRAFT_CPUS, else all cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "aws_de_final_project_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``shuffle_partitions`` is the batch shuffle ceiling (default 2 x
    ``cpus``); stateful streams get :data:`STATE_PARTITIONS` whatever it
    is. Safe to call repeatedly — Spark returns the existing session; the
    static (pre-JVM) confs only take effect on first creation.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions or 2 * cpus),
        )
        .config("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime semi-join reduction: when a selective dim filter feeds
        # a shuffle join, build a bloom filter on the build-side keys and
        # push might_contain() into the fact scan — at 100 TB this skips
        # fact row groups AQE alone cannot (pinned in
        # tests/test_runtime_filters.py; thresholds are defaults, which
        # trigger naturally at cluster scale).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (the verification driver hands us its own session — we
    still need deterministic timezone + AQE semantics on it)."""
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # catalog tables over TIMESTAMP(NANOS) parquet read as long;
        # any session consuming them needs this accepted at scan time
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some builds; defaults are acceptable
    return spark
