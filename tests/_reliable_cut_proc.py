"""Subprocess worker for the ``reliable_cut`` fixture (tests/conftest.py):
reliable-mode ``util.cut``.

A SparkContext's checkpoint dir cannot be unset, so reliable mode runs
in its own JVM, built with ``spark.checkpoint.dir=<root>``. Both sides
run :func:`results`; this process prints its rows, and which operators
wrote files under the dir, as one JSON line.
"""

from __future__ import annotations

import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _n_files(root):
    return sum(len(fs) for _, _, fs in os.walk(root)) if root else 0


def results(spark, root: str | None = None) -> tuple[dict, dict]:
    """Rows of the five operators whose cuts the fixture checks. The
    components run ``connected_components_iters`` and PageRank and PCA
    run under a driver cap of 0, so the relational loops' per-round
    cuts are the ones exercised (the fixtures are far below the cap)."""
    from unittest import mock

    from aws_de_final_project_spark.operators import dedup, embedlin, util
    from aws_de_final_project_spark.operators import graphrank as G
    from tests.test_embedlin import _planted

    def relational(run):
        def go():
            with mock.patch.object(util, "DRIVER_MAX_ROWS", 0):
                return run()
        return go

    df = spark.createDataFrame
    rng = random.Random(11)
    pairs = {tuple(sorted((rng.randrange(120), rng.randrange(120))))
             for _ in range(90)}
    pairs = sorted({(a, b) for a, b in pairs if a != b}
                   | {(i, i + 1) for i in range(200, 230)})
    nodes = df([(i,) for i in (1, 2, 3, 4)], "id long")
    edges = df([(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (1, 4, 0.5),
                (4, 2, 1.0)], "src long, dst long, w double")
    tri = df([(1, 2), (2, 3), (1, 3), (3, 4), (4, 1)], "a long, b long")
    vecs = df([(i, [float(v) for v in x]) for i, x in enumerate(_planted()[0])],
              "vec_id long, embedding array<double>")
    text = ("the quick brown fox jumps over the lazy dog near the old "
            "river bank while birds sing in the tall green trees above")
    docs = df([(1, text), (2, text), (3, text.replace("quick", "fast")),
               (4, "completely different content about spark shuffles")],
              "doc_id long, text string")
    runs = {
        "connected_components": lambda: dedup.connected_components_iters(
            df(pairs, ["doc_a", "doc_b"]))[0],
        "pagerank": relational(lambda: G.pagerank(nodes, edges, n_iter=6)),
        "triangle_counts": lambda: G.triangle_counts(tri, "a", "b"),
        "pca_project": relational(lambda: embedlin.pca_project(
            vecs, "embedding", "vec_id", dim=8, n_components=2, n_iter=8,
            impl="sql")),
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", 0.5),
    }
    rows, wrote = {}, {}
    for name, run in runs.items():
        before = _n_files(root)
        rows[name] = sorted(list(r) for r in run().collect())
        wrote[name] = _n_files(root) > before
    return rows, wrote


if __name__ == "__main__":
    from aws_de_final_project_spark.session import get_spark

    spark = get_spark("reliable-cut", shuffle_partitions=8,
                      extra_conf={"spark.checkpoint.dir": sys.argv[1]})
    rows, wrote = results(spark, sys.argv[1])
    print("RESULTS " + json.dumps({"rows": rows, "wrote": wrote}), flush=True)
    spark.stop()
