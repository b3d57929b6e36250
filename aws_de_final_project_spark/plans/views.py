"""View catalog: the reference's named-query registry, Spark-first.

The reference loads ``athena_queries/*.txt`` at CDK-synth time and
registers each as an Athena NamedQuery (``CDK/cdk/cdk_stack.py:
307-326``); an (uncommitted) runner Lambda executes them, with the
``dependency1_`` filename prefix encoding execution order (SURVEY.md
§2.8 V4). Here: a ``sql/`` directory of ``.sql`` files executed via
``spark.sql`` in dependency order. Catalyst inlines view bodies, so
layering is free.

Caching rule: a ``dependencyN_*`` view exists to be read by the views
after it, so it is cached (lazily) when created and the first read
fills the cache; the views after it read it from memory instead of
rescanning its base table (SURVEY.md §4 X7). ``pipeline.run`` releases
it first thing on the next refresh (``uncache_views_from_dir``), before
the base table is replaced, so a session holds one such cache at most.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

from pyspark.sql import SparkSession

_DEP_RE = re.compile(r"^dependency(\d+)_")


def _order_key(name: str) -> tuple[int, int, str]:
    """dependencyN_* files first (by N), then everything else by name
    — the reference's naming contract."""
    m = _DEP_RE.match(name)
    if m:
        return (0, int(m.group(1)), name)
    return (1, 0, name)


_TEMP_VIEW_RE = re.compile(
    r"CREATE\s+OR\s+REPLACE\s+TEMP(?:ORARY)?\s+VIEW", re.IGNORECASE
)


def create_views_from_dir(
    spark: SparkSession,
    sql_dir: str | os.PathLike,
    persistent: bool = False,
) -> list[str]:
    """Execute every ``*.sql`` file under ``sql_dir`` in dependency
    order; returns the created view names (file stems).

    ``persistent=True`` rewrites ``CREATE OR REPLACE TEMP VIEW`` to
    ``CREATE OR REPLACE VIEW`` — Athena-view parity (the reference's
    views live in the Glue catalog, ``cdk_stack.py:307-326``, not in
    a session). Persistent views can only reference catalog tables,
    so the base table (``processed``) must be registered persistently
    first (see pipeline.run)."""
    files = sorted(Path(sql_dir).glob("*.sql"), key=lambda p: _order_key(p.stem))
    created = []
    for path in files:
        text = path.read_text()
        if persistent:
            text = _TEMP_VIEW_RE.sub("CREATE OR REPLACE VIEW", text)
            spark.sql(f"DROP TABLE IF EXISTS {path.stem}")
        # strip line comments; Spark SQL handles them, but keep the
        # statement single — files hold exactly one statement each.
        spark.sql(text)
        if _DEP_RE.match(path.stem):
            spark.catalog.cacheTable(path.stem)
        created.append(path.stem)
    return created


def uncache_views_from_dir(
    spark: SparkSession, sql_dir: str | os.PathLike
) -> None:
    """Release the caches ``create_views_from_dir`` took. Call it
    before the views' base tables are replaced, while each cached view
    still resolves to the plan it was cached over."""
    for path in Path(sql_dir).glob("*.sql"):
        name = path.stem
        if (
            _DEP_RE.match(name)
            and spark.catalog.tableExists(name)
            and spark.catalog.isCached(name)
        ):
            spark.catalog.uncacheTable(name)
