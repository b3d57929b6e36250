"""Distributed PCA (operators/embedlin): numpy ground truth on
planted anisotropic data, Arrow-vs-SQL Gram kernel agreement, and
end-to-end impl equivalence. Oracle parity for the registered entry
lives in tests/test_oracle_parity.py like every other entry."""

from __future__ import annotations

import numpy as np
import pytest

from aws_de_final_project_spark.operators import embedlin


def _planted(n=400, dim=8, seed=7):
    """Anisotropic Gaussian: variance 25 along a fixed direction u1,
    variance 4 along u2, unit elsewhere — a decisive eigengap so a
    truncated power iteration lands on the true components."""
    rng = np.random.default_rng(seed)
    q, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    scales = np.ones(dim)
    scales[0], scales[1] = 5.0, 2.0
    x = rng.normal(size=(n, dim)) * scales
    return (x @ q.T), q.T  # rows, true component matrix (columns)


@pytest.fixture(scope="module")
def planted(spark):
    x, q = _planted()
    rows = [(i, [float(v) for v in x[i]]) for i in range(len(x))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, x, q


def test_pca_matches_numpy_ground_truth(planted):
    df, x, _ = planted
    out = (
        embedlin.pca_project(
            df, "embedding", "vec_id", dim=8, n_components=2,
            n_iter=30, impl="sql",
        )
        .orderBy("vec_id")
        .collect()
    )
    xc = x - x.mean(axis=0)
    _, _, vt = np.linalg.svd(xc, full_matrices=False)
    ref1, ref2 = xc @ vt[0], xc @ vt[1]
    got1 = np.array([r.pc1 for r in out])
    got2 = np.array([r.pc2 for r in out])
    # eigenvector sign is arbitrary -> compare up to sign via |corr|
    c1 = abs(np.corrcoef(got1, ref1)[0, 1])
    c2 = abs(np.corrcoef(got2, ref2)[0, 1])
    assert c1 > 0.9999, c1
    assert c2 > 0.999, c2


def test_gram_arrow_matches_sql(planted):
    df, _, _ = planted
    sql_g = {
        (r.i, r.j): r.sxx
        for r in embedlin.gram_entries(
            df, "embedding", "vec_id", dim=8, impl="sql"
        ).collect()
    }
    arrow_g = {
        (r.i, r.j): r.sxx
        for r in embedlin.gram_entries(
            df, "embedding", "vec_id", dim=8, impl="arrow"
        ).collect()
    }
    assert set(sql_g) == set(arrow_g) and len(sql_g) == 64
    for k in sql_g:
        assert sql_g[k] == pytest.approx(arrow_g[k], rel=1e-12)


def test_pca_impl_equivalence_after_rounding(planted):
    df, _, _ = planted
    a = embedlin.pca_project(
        df, "embedding", "vec_id", dim=8, n_components=2,
        n_iter=12, impl="sql",
    ).orderBy("vec_id").collect()
    b = embedlin.pca_project(
        df, "embedding", "vec_id", dim=8, n_components=2,
        n_iter=12, impl="arrow",
    ).orderBy("vec_id").collect()
    # 4dp rounding absorbs partial-sum order noise between kernels on
    # well-conditioned data; allow one ulp-of-rounding slack
    for ra, rb in zip(a, b):
        assert ra.vec_id == rb.vec_id
        assert abs(ra.pc1 - rb.pc1) <= 1e-4 + 1e-12
        assert abs(ra.pc2 - rb.pc2) <= 1e-4 + 1e-12


def test_pca_validates_components(planted):
    df, _, _ = planted
    with pytest.raises(ValueError):
        embedlin.pca_project(
            df, "embedding", "vec_id", dim=8, n_components=0
        )


def test_pca_iter_impl_equivalence(planted, monkeypatch):
    """Driver-side numpy iteration and the relational iteration run
    the identical program — results agree inside the output rounding.
    The default cap takes the driver path (its components are
    LocalTableScans in the projection); a cap of 0 takes the
    relational one."""
    from aws_de_final_project_spark.operators import util

    df, _, _ = planted

    def run():
        out = embedlin.pca_project(
            df, "embedding", "vec_id", dim=8, n_components=2,
            n_iter=8, impl="sql",
        ).orderBy("vec_id")
        rows = out.collect()
        return rows, out._jdf.queryExecution().executedPlan().toString()

    a, drv_plan = run()
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    b, rel_plan = run()
    assert "LocalTableScan" in drv_plan
    assert "LocalTableScan" not in rel_plan
    assert len(a) == len(b) == 400
    for ra, rb in zip(a, b):
        assert ra.vec_id == rb.vec_id
        assert abs(ra.pc1 - rb.pc1) <= 1e-4 + 1e-12
        assert abs(ra.pc2 - rb.pc2) <= 1e-4 + 1e-12


def test_jl_projection_preserves_norms(spark):
    """JL lemma sanity on the real corpus: the 64->16 Rademacher
    projection preserves squared norms in expectation — the mean
    ratio ||Px||^2 / ||x||^2 over 500 vectors must sit near 1, and
    individual ratios within the (loose) JL distortion band for
    k=16 (eps ~ sqrt(8 ln n / k) > 1 is vacuous per-pair, so we
    assert the aggregate instead: mean within 15%, and no vector
    collapsing to near-zero)."""
    from pyspark.sql import functions as F

    from aws_de_final_project_spark.plans.extensions import (
        jl_project_embeddings,
    )
    from aws_de_final_project_spark.sources.registry import load_tables

    proj_sq = (
        jl_project_embeddings(spark, "/root/testdata/sf0.01")
        .groupBy("vec_id")
        .agg(F.sum(F.col("val") * F.col("val")).alias("p2"))
    )
    orig_sq = (
        load_tables(spark, "/root/testdata/sf0.01", ("embeddings",))[
            "embeddings"
        ]
        .select(
            "vec_id",
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ).alias("o2"),
        )
    )
    # projection scales by 1/sqrt(16) per dim but sums 16 dims of
    # +-1-weighted sums of 64 coords: E[||Px||^2] = ||x||^2
    ratios = [
        r.p2 / r.o2
        for r in proj_sq.join(orig_sq, "vec_id").collect()
        if r.o2 > 0
    ]
    mean = sum(ratios) / len(ratios)
    assert abs(mean - 1.0) < 0.15
    assert min(ratios) > 0.05


def test_pca_reliable_checkpoint_identical(reliable_cut):
    """A session checkpoint dir swaps the relational iteration's lineage
    cuts to reliable df.checkpoint() (durable on a real cluster) without
    changing a single projected value, and actually writes under the
    dir."""
    local_rows, got = reliable_cut
    assert local_rows["pca_project"]
    assert got["rows"]["pca_project"] == local_rows["pca_project"]
    assert got["wrote"]["pca_project"], (
        "reliable checkpoint wrote nothing under spark.checkpoint.dir")
