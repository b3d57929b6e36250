"""operators/util: the one driver-rows -> frame primitive and the one
lineage cut.

Each ``local_frame`` case builds the same rows both ways —
``local_frame`` and the pickled-list ``createDataFrame`` path it
replaces — and checks equal schemas (names, types, nullability) and
equal collected rows, and that the local frame plans as a JVM-side
``LocalTableScan``."""

from __future__ import annotations

import ast
import datetime as dt
import os
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from aws_de_final_project_spark.operators.util import local_frame

ROOT = Path(__file__).resolve().parent.parent
UTIL = ROOT / "aws_de_final_project_spark" / "operators" / "util.py"

# One case per schema shape the local_frame call sites use.
CASES = [
    ("ints", [(1, 10), (2, None), (None, 3)], "i int, v bigint"),
    ("double", [(1, 0.5), (2, -1e18), (3, None)], "i int, v double"),
    (
        "bool",
        [("a", 1, True), ("b", 0, False), ("c", None, None)],
        "check_name string, violations long, passed boolean",
    ),
    (
        "strings",
        [("h.com", "/", False, "*"), ("h.com", None, True, "bot")],
        "host string, prefix string, allow boolean, agent string",
    ),
    (
        "array",
        [("the", ["e", "th"]), ("zq", [None, "z"]), ("x", []), ("y", None)],
        "w10 string, pieces array<string>",
    ),
    ("empty", [], "fp string, keeper_id long"),
    ("empty_array", [], "w10 string, pieces array<string>"),
    (
        "struct_schema",
        [(7, 0.25), (None, 0.75)],
        StructType([
            StructField("doc id", LongType()),
            StructField("pr", DoubleType()),
        ]),
    ),
    (
        "not_null",
        [("en", 3), ("fr", 1)],
        StructType([
            StructField("lang", StringType()),
            StructField("n_docs", LongType(), nullable=False),
        ]),
    ),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema  # names, dtypes, nullability
    assert got.collect() == want.collect()
    plan = _plan(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert "ExistingRDD" in _plan(want)
    return got, want


@pytest.mark.parametrize("rows,schema", [c[1:] for c in CASES],
                         ids=[c[0] for c in CASES])
def test_local_frame_equals_list_path(spark, rows, schema):
    _assert_same(spark, rows, schema)


def test_local_frame_keeps_row_order_and_folds_projections(spark):
    """A pre-sorted frame needs no orderBy: row order survives, and a
    projection over it still plans as a bare LocalTableScan."""
    rows = [(f"p{i:02d}", 100 - i) for i in range(40)]
    df = local_frame(spark, rows, "piece string, count long")
    proj = df.select("piece", (F.col("count") * 2).alias("c2"))
    assert [tuple(r) for r in proj.collect()] == [
        (p, 2 * c) for p, c in rows
    ]
    plan = _plan(proj)
    assert plan.lstrip().startswith("LocalTableScan"), plan


def test_local_frame_datetimes_under_non_utc_process_tz(spark):
    """DATE, TIMESTAMP (LTZ) and TIMESTAMP_NTZ rows under a hostile
    process timezone: a naive LTZ value is process-local wall clock on
    the list path (pyarrow alone would read it as UTC), so both paths
    must store the same instant and collect the same values."""
    rows = [
        (
            dt.date(2024, 3, 31),
            dt.datetime(2024, 3, 31, 1, 30, 5, 7),
            dt.datetime(2024, 3, 31, 1, 30, 5, 7),
        ),
        (
            dt.date(1969, 12, 31),
            dt.datetime(2023, 9, 24, 2, 45, tzinfo=dt.timezone.utc),
            dt.datetime(1969, 12, 31, 23, 59, 59),
        ),
        (None, None, None),
    ]
    schema = "d date, ts timestamp, ntz timestamp_ntz"
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Pacific/Chatham"
    time.tzset()
    try:
        got, want = _assert_same(spark, rows, schema)
        micros = [F.unix_micros("ts"), F.col("ntz").cast("string")]
        assert got.select(*micros).collect() == want.select(*micros).collect()
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def _outside(fn: str | None, patterns: tuple[str, ...]) -> str:
    """Lines of the package, the entry module, ``bench.py`` and
    ``tools/`` that contain one of ``patterns`` outside
    operators/util.<fn> (anywhere, when ``fn`` is None), one per
    line."""
    allowed = next(
        (
            range(node.lineno, node.end_lineno + 1)
            for node in ast.parse(UTIL.read_text()).body
            if isinstance(node, ast.FunctionDef) and node.name == fn
        ),
        (),
    )
    files = sorted((ROOT / "aws_de_final_project_spark").rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += sorted((ROOT / "tools").glob("*.py"))
    return "\n".join(
        f"{path.relative_to(ROOT)}:{no}: {line.strip()}"
        for path in files
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if any(p in line for p in patterns)
        and not (path == UTIL and no in allowed)
    )


def test_driver_rows_become_frames_only_through_local_frame():
    """One-way guard: no ``createDataFrame(`` in the package or the
    entry module outside operators/util.local_frame."""
    hits = _outside("local_frame", ("createDataFrame(",))
    assert not hits, hits


def test_frames_are_cut_only_through_util_cut():
    """One-way guard: no ``localCheckpoint(``, ``.checkpoint(`` or
    ``setCheckpointDir`` outside operators/util.cut, the one place the
    lazy/reliable choice is made."""
    hits = _outside("cut", ("localCheckpoint(", ".checkpoint(", "setCheckpointDir"))
    assert not hits, hits


def test_driver_or_cluster_is_one_rule():
    """One-way guard: the driver-vs-relational choice of union-find,
    PageRank and PCA is ``util.DRIVER_MAX_ROWS`` alone — no
    ``iter_impl`` switch and no per-operator ``driver_max_*`` cap is
    left to set."""
    hits = _outside(None, ("iter_impl", "driver_max_"))
    assert not hits, hits


def test_reliable_cut_from_session_checkpoint_dir(reliable_cut):
    """A fresh session built with ``spark.checkpoint.dir`` makes every
    ``util.cut`` a reliable ``checkpoint()``: the iterative and
    multi-consumer operators give the same rows as this (local-cut)
    session, and each writes checkpoint files under the dir — MinHash
    included, whose cuts had no fault-tolerant mode before."""
    local_rows, got = reliable_cut
    assert all(local_rows.values()), local_rows
    assert got["rows"] == local_rows
    assert all(got["wrote"].values()), got["wrote"]
