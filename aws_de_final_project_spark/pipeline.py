"""Pipeline driver: the reference's event-driven DAG as control flow.

The reference chains: cron -> ingest Lambda -> S3 event -> crawler ->
Glue job -> crawler -> query Lambda, via EventBridge/CloudTrail/Glue
Workflow conditional triggers (``CDK/cdk/cdk_stack.py:50-53, 175-291,
351-367``). None of that carries query semantics — in one engine it
is a function call sequence with retries (job parity:
``max_retries=1``, ``cdk_stack.py:167``).
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from aws_de_final_project_spark import etl
from aws_de_final_project_spark.plans.views import (
    create_views_from_dir,
    uncache_views_from_dir,
)
from aws_de_final_project_spark.sources.rest_source import ingest_increment
from aws_de_final_project_spark.streaming.ingest import incremental_csv_ingest

log = logging.getLogger(__name__)

MAX_RETRIES = 1  # cdk_stack.py:167


@dataclass
class PipelineConfig:
    landing_dir: str  # raw CSV zone         (s3://.../input/)
    processed_dir: str  # partitioned parquet (s3://.../processed/)
    checkpoint_dir: str  # bookmark equivalent
    state_path: str  # REST high-water-mark
    sql_dir: str  # view definitions
    schema: T.StructType  # source schema (crawler equivalent)
    base_url: str | None = None  # REST endpoint; None = files only
    fetcher: Callable[[str], str] | None = None
    partition_cols: tuple[str, ...] = ("year", "month")
    # supporting dimension tables: name -> CSV directory, registered
    # before views run (the reference's supporting/ crawler,
    # CDK/cdk/cdk_stack.py:113-134)
    supporting: dict[str, str] = field(default_factory=dict)


def _with_retry(step: Callable[[], None], name: str) -> None:
    for attempt in range(MAX_RETRIES + 1):
        try:
            step()
            return
        except Exception:
            if attempt == MAX_RETRIES:
                raise
            log.warning("step %s failed; retrying (%d)", name, attempt + 1)


def run(
    spark: SparkSession, cfg: PipelineConfig, persistent: bool = False
) -> list[str]:
    """One full pipeline pass: ingest -> incremental transform ->
    register -> create analytics views. Returns created view names.

    ``persistent=True`` is Glue-catalog/Athena-view parity: the
    ``processed`` table and every analytics view land in the catalog
    (durable across sessions — and across processes when the session
    has a persistent metastore) instead of dying with the session.

    The previous pass's view caches are released first, while
    ``processed`` is still the table they were cached over."""

    def step_ingest() -> None:
        if cfg.base_url and cfg.fetcher:
            ingest_increment(
                cfg.base_url, cfg.landing_dir, cfg.state_path, cfg.fetcher
            )

    def step_transform() -> None:
        incremental_csv_ingest(
            spark,
            cfg.landing_dir,
            cfg.processed_dir,
            cfg.checkpoint_dir,
            cfg.schema,
            transform=etl.derive_date_parts,
            partition_cols=cfg.partition_cols,
        )

    def step_register() -> None:
        if not os.path.exists(cfg.processed_dir):
            return
        if persistent:
            from aws_de_final_project_spark.sources.registry import (
                register_external_table,
            )

            register_external_table(
                spark, "processed", cfg.processed_dir, infer=True
            )
            try:
                spark.catalog.recoverPartitions("processed")
            except Exception:
                pass  # unpartitioned layout — nothing to recover
        else:
            spark.read.parquet(cfg.processed_dir).createOrReplaceTempView(
                "processed"
            )

    def step_supporting() -> None:
        from aws_de_final_project_spark.sources.registry import (
            read_csv_dir_merged,
        )

        for name, csv_dir in cfg.supporting.items():
            df = read_csv_dir_merged(spark, csv_dir)
            if persistent:
                df.write.mode("overwrite").saveAsTable(name)
            else:
                df.createOrReplaceTempView(name)

    uncache_views_from_dir(spark, cfg.sql_dir)
    _with_retry(step_ingest, "ingest")
    _with_retry(step_transform, "transform")
    _with_retry(step_register, "register")
    _with_retry(step_supporting, "supporting")
    return create_views_from_dir(spark, cfg.sql_dir, persistent=persistent)
