from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_de_final_project_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def reliable_cut(spark, tmp_path_factory):
    """Runs ``tests/_reliable_cut_proc.py`` once per test session: the
    operators' rows on this (local-cut) session, and the same operators'
    rows on a fresh session built with ``spark.checkpoint.dir``, plus
    which of them wrote files under that dir. A subprocess, because a
    context's checkpoint dir cannot be unset."""
    import json
    import subprocess

    from tests._reliable_cut_proc import results

    assert not spark.sparkContext.getCheckpointDir()
    local_rows, _ = results(spark)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tests", "_reliable_cut_proc.py"),
         str(tmp_path_factory.mktemp("reliable_cut"))],
        capture_output=True,
        text=True,
        timeout=420,
        env=dict(os.environ, PYTHONPATH=root),
        cwd=root,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.split("RESULTS ", 1)[1].splitlines()[0])
    return json.loads(json.dumps(local_rows)), got
