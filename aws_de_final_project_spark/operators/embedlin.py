"""Distributed linear algebra over embedding columns: covariance and
power-iteration PCA, expressed relationally (north-star extension;
reference has no embedding surface — capability implied by
BASELINE.json's training-data-pipeline north star).

The whole pipeline is engine-portable arithmetic — explode / join /
group-sum / sqrt — so the oracled entry replays bit-compatibly in
DuckDB (same fixed iteration count, same deterministic start vector),
while the wide-dim scale path swaps the O(dim^2 * n) explode-self-join
Gram for an Arrow BLAS partial-Gram kernel per batch, mirroring the
``sig_impl``/``assign_impl`` dispatch convention in
operators/similarity.py.

Why power iteration instead of a driver-side ``numpy.linalg.eigh``:
the iteration is the part that must match the oracle. A fixed number
of unrolled matvec steps from a fixed rational start vector is the
same deterministic program on both engines; an LAPACK eigensolver is
not expressible in SQL. (Convergence therefore depends on the
eigengap — ``n_iter`` trades plan size for accuracy — but BOTH
engines run the identical truncation, so parity is exact regardless.)

Scale shape at 100 TB: the only data-sized stages are the element
explode (n * dim rows, linear) and the Gram aggregate (map-side
combinable into dim^2 cells). Everything after the Gram is O(dim^2)
rows — cluster-tiny. The driver never collects vectors; it collects
the covariance and iterates in numpy when its dim^2 cells fit
``util.DRIVER_MAX_ROWS`` (the package's one driver-or-cluster rule),
and leaves the iteration distributed otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_de_final_project_spark.functions.numeric import round_half_up as rnd
from aws_de_final_project_spark.operators import util
from aws_de_final_project_spark.operators.similarity import _resolve_impl
from aws_de_final_project_spark.operators.util import cut as _cut
from aws_de_final_project_spark.operators.util import local_frame
from aws_de_final_project_spark.operators.util import spread as _spread


def _elements(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, i, x) long form of the vector column, i 1-based."""
    return _spread(df).select(
        F.col(id_col).alias("_id"),
        F.posexplode(vec_col).alias("_i0", "_x"),
    ).select("_id", (F.col("_i0") + 1).alias("i"), F.col("_x").alias("x"))


def gram_entries(
    df: DataFrame, vec_col: str, id_col: str, dim: int, impl: str = "auto"
) -> DataFrame:
    """Sum-of-outer-products table: (i, j, sxx) with
    sxx = sum over rows of x_i * x_j (both indices 1-based).

    impl='sql': explode + self-equi-join on the row id + one hash
    aggregate — engine-portable (the oracle path), but the join emits
    dim^2 rows PER INPUT ROW, so it is only the right plan at oracle
    fixture widths. impl='arrow': one float64 BLAS ``X.T @ X`` per
    Arrow batch, emitting each batch's dim^2 partial cells; the
    downstream aggregate merges batches, so shuffle volume is
    (batches * dim^2), independent of row count. 'auto' dispatches on
    dim like the signature/assign kernels in similarity.py.
    """
    if _resolve_impl(impl, dim, "impl") == "sql":
        e = _elements(df, vec_col, id_col)
        ea = e
        eb = e.select(
            F.col("_id"), F.col("i").alias("j"), F.col("x").alias("xb")
        )
        return (
            ea.join(eb, "_id")
            .groupBy("i", "j")
            .agg(F.sum(F.col("x") * F.col("xb")).alias("sxx"))
        )

    import pandas as pd  # noqa: F401  (arrow path)

    def part(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if mat.size == 0:
                continue
            g = mat.T @ mat
            ii, jj = np.meshgrid(
                np.arange(1, dim + 1), np.arange(1, dim + 1), indexing="ij"
            )
            yield pd.DataFrame(
                {
                    "i": ii.ravel().astype("int32"),
                    "j": jj.ravel().astype("int32"),
                    "sxx": g.ravel(),
                }
            )

    parts = _spread(df.select(vec_col)).mapInPandas(
        part, schema="i int, j int, sxx double"
    )
    return parts.groupBy("i", "j").agg(F.sum("sxx").alias("sxx"))


def covariance_entries(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    impl: str = "auto",
    n: int | None = None,
    means: DataFrame | None = None,
) -> DataFrame:
    """Covariance matrix as a (i, j, v) relation:
    v = sxx / n - mean_i * mean_j (population covariance). Pass ``n``
    when the caller already counted the frame (pca_project does) to
    avoid a second count job, and ``means`` (an (i, m) frame) when the
    caller shares a materialized means aggregate — without it each of
    the covariance's two mean joins plus the caller's centering pass
    re-runs the full element explode (r13)."""
    e = _elements(df, vec_col, id_col)
    if n is None:
        n = df.count()  # one count job; scalar folded into the plan
    if means is None:
        means = e.groupBy("i").agg((F.sum("x") / F.lit(n)).alias("m"))
    g = gram_entries(df, vec_col, id_col, dim, impl)
    ma = means
    mb = means.select(F.col("i").alias("j"), F.col("m").alias("mj"))
    return (
        g.join(ma, "i")
        .join(mb, "j")
        .select(
            "i",
            "j",
            (F.col("sxx") / F.lit(n) - F.col("m") * F.col("mj")).alias("v"),
        )
    )


def _start_vector(spark, dim: int) -> DataFrame:
    """Deterministic rational start vector, identical in any engine:
    v0_i = 1 + ((i * 37) mod 97) / 97. Integer arithmetic plus one
    exact IEEE division — no libm calls whose last ulp could differ
    across engines. Strictly positive, so it cannot be orthogonal to
    a nonnegative dominant direction by accident."""
    return spark.range(1, dim + 1).select(
        F.col("id").cast("int").alias("i"),
        (
            F.lit(1.0) + ((F.col("id") * 37) % 97).cast("double") / F.lit(97.0)
        ).alias("v"),
    )


def _matvec(cov: DataFrame, vec: DataFrame) -> DataFrame:
    """(cov @ vec) as join + group-sum: cov (i, j, v) x vec (i, v)."""
    return (
        cov.join(vec.select(F.col("i").alias("j"), F.col("v").alias("w")), "j")
        .groupBy("i")
        .agg(F.sum(F.col("v") * F.col("w")).alias("v"))
    )


def _normalized(vec: DataFrame) -> DataFrame:
    """vec / ||vec|| without a driver collect: the norm is a 1-row
    aggregate cross-joined back (broadcast of a scalar). sqrt is
    IEEE-correctly-rounded, hence engine-portable."""
    norm = vec.agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("_n"))
    return vec.crossJoin(F.broadcast(norm)).select(
        "i", (F.col("v") / F.col("_n")).alias("v")
    )


def power_component(
    cov: DataFrame, spark, dim: int, n_iter: int = 8
) -> DataFrame:
    """Dominant eigenvector estimate after exactly ``n_iter``
    unnormalized power steps, normalized once at the end. Unnormalized
    intermediate vectors grow as lambda^k — far inside float64 range
    for any covariance a sane embedding table produces — which keeps
    the per-step program free of aggregates-inside-recursion, so the
    DuckDB twin can unroll the identical steps as chained CTEs.

    ``cov`` should be cut (``util.cut``) by the caller: the returned
    plan references it ``n_iter`` times."""
    v = _start_vector(spark, dim)
    for _ in range(n_iter):
        v = _matvec(cov, v)
    return _normalized(v)


def deflate(cov: DataFrame, comp: DataFrame) -> DataFrame:
    """cov - lambda * v v^T where lambda = v^T cov v (Rayleigh
    quotient of the unit-norm component): removes the dominant
    direction so the next power iteration finds the runner-up."""
    lam = (
        cov.join(comp.select(F.col("i"), F.col("v").alias("vi")), "i")
        .join(comp.select(F.col("i").alias("j"), F.col("v").alias("vj")), "j")
        .agg(F.sum(F.col("v") * F.col("vi") * F.col("vj")).alias("_lam"))
    )
    outer = (
        comp.select(F.col("i"), F.col("v").alias("vi"))
        .crossJoin(comp.select(F.col("i").alias("j"), F.col("v").alias("vj")))
        .crossJoin(F.broadcast(lam))
        .select("i", "j", (F.col("_lam") * F.col("vi") * F.col("vj")).alias("_d"))
    )
    return (
        cov.join(outer, ["i", "j"])
        .select("i", "j", (F.col("v") - F.col("_d")).alias("v"))
    )


def _driver_components(
    cov_rows, dim: int, n_components: int, n_iter: int
):
    """The identical fixed-point program as power_component/deflate,
    run on the collected (dim x dim) covariance with numpy: the
    matvec summation order differs from the relational group-sum at
    ~1e-16 relative, far inside the output rounding — so either
    iteration path satisfies the same oracle."""
    import numpy as np

    c = np.zeros((dim, dim))
    for r in cov_rows:
        c[r["i"] - 1, r["j"] - 1] = r["v"]
    start = np.array(
        [1.0 + ((i * 37) % 97) / 97.0 for i in range(1, dim + 1)]
    )
    comps = []
    for _ in range(n_components):
        v = start.copy()
        for _ in range(n_iter):
            v = c @ v
        v = v / np.sqrt(float(v @ v))
        lam = float(v @ c @ v)
        c = c - lam * np.outer(v, v)
        comps.append(v)
    return comps


def pca_project(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_components: int = 2,
    n_iter: int = 8,
    impl: str = "auto",
    decimals: int = 4,
) -> DataFrame:
    """Project every vector onto the top ``n_components`` principal
    directions of the column's covariance: (id_col, pc1[, pc2, ...]),
    each score rounded floor-form to ``decimals``.

    End to end this is: one linear element explode (means), one Gram
    aggregate (impl-dispatched), then O(dim^2) algebra and a final
    broadcast of the (dim x n_components) projection back onto the
    data.

    Where the O(dim^2) fixed-point iteration runs follows
    ``util.DRIVER_MAX_ROWS``: when the dim^2 covariance cells fit the
    cap, the covariance (bounded by schema, not data, the same
    legitimacy contract as the k-means trainer's sample collect) is
    collected and iterated in numpy — ~2 cluster stages total; above
    it the iteration stays distributed (cut cov, one join+agg per
    matvec), at the cost of ~10 tiny stages per component. Both run
    the identical program (same start vector, same step count, same
    deflation) and land inside the same rounded output. The
    covariance and each iteration frame go through ``util.cut``, so a
    session with a checkpoint dir gets reliable cuts that survive
    executor loss.
    """
    if n_components < 1:
        raise ValueError("n_components must be >= 1")
    spark = df.sparkSession
    n = df.count()
    # ONE means aggregate (dim rows — broadcast-sized) shared by the
    # covariance build and the centering pass below: cut so the
    # element explode runs once for it, not once per consumer (r13;
    # measured two redundant full element passes).
    e = _elements(df, vec_col, id_col)
    means = _cut(e.groupBy("i").agg((F.sum("x") / F.lit(n)).alias("m")))
    # dim^2 rows are cluster-tiny; collapsing them to a handful of
    # partitions before the iteration turns each matvec's shuffle
    # into a near-no-op. ~1M cells per partition keeps even dim=4096
    # (16M cells) at a sane width.
    n_cov_parts = max(1, (dim * dim) // 1_000_000)
    cov = _cut(
        covariance_entries(
            df, vec_col, id_col, dim, impl, n=n, means=means
        ).coalesce(n_cov_parts)
    )
    if dim * dim <= util.DRIVER_MAX_ROWS:
        vecs = _driver_components(
            cov.collect(), dim, n_components, n_iter
        )
        comps = [
            local_frame(
                spark,
                [(i + 1, float(v[i])) for i in range(dim)],
                "i int, v double",
            )
            for v in vecs
        ]
    else:
        comps = []
        for _ in range(n_components):
            comp = _cut(power_component(cov, spark, dim, n_iter))
            comps.append(comp)
            if len(comps) < n_components:
                cov = _cut(deflate(cov, comp))

    cent = e.join(F.broadcast(means), "i").select(
        "_id", "i", (F.col("x") - F.col("m")).alias("xc")
    )
    # one broadcast of the (dim x k) projection, ONE pass over the
    # elements: all component scores come out of a single aggregate
    # instead of one join+agg (and elements rescan) per component
    wdf = comps[0].select("i", F.col("v").alias("pc1_w"))
    for k, comp in enumerate(comps[1:], start=2):
        wdf = wdf.join(comp.select("i", F.col("v").alias(f"pc{k}_w")), "i")
    scored = (
        cent.join(F.broadcast(wdf), "i")
        .groupBy("_id")
        .agg(
            *[
                rnd(
                    F.sum(F.col("xc") * F.col(f"pc{k}_w")), decimals
                ).alias(f"pc{k}")
                for k in range(1, n_components + 1)
            ]
        )
    )
    out = df.select(F.col(id_col).alias("_id")).join(scored, "_id", "left")
    cols = [F.col("_id").alias(id_col)] + [
        F.coalesce(F.col(f"pc{k}"), F.lit(0.0)).alias(f"pc{k}")
        for k in range(1, n_components + 1)
    ]
    return out.select(*cols)
