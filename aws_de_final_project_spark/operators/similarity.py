"""Similarity search over embedding columns (north-star extension).

Two tiers, per the 100 TB design rule "brute force as baseline, a
bucketed variant as the scale path":

* :func:`cosine_topk` — exact brute force. Queries are broadcast;
  the corpus is scanned once, dot products run in codegen via
  ``zip_with``/``aggregate`` (no Python, no UDF), top-k per query via
  a ranking window. Cost O(|corpus| x |queries|) — right answer for
  small query batches at any corpus size.
* :func:`lsh_ann_topk` — random-hyperplane LSH: corpus and queries
  are bucketed by sign-bit signature; candidate set = same-bucket
  rows (with multi-probe via several independent tables), exact
  re-rank inside buckets. Turns the scan into a hash-join keyed on
  the signature — shuffle-friendly and index-free.

All math is done in double precision with left-to-right array
accumulation so results are bit-stable and oracle-comparable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_de_final_project_spark.functions.numeric import round_half_up as rnd

# measured crossover (tools/measure_literal_banks.py): below this the
# SQL literal bank is fine and keeps DuckDB-oracle parity; at and
# above it the interpreted per-(row, plane/centroid) dots dominate and
# the Arrow BLAS kernels win 10-60x (270s -> 4.6s at dim 768)
ARROW_AUTO_DIM = 256

# opt-in ceiling for the exact O(n^2) paths: above this many rows the
# quadratic baseline raises unless allow_quadratic=True (r9 verdict:
# the naive caller must get the blocked plan, not the cross join)
QUADRATIC_ROW_CAP = 50_000

# 'auto' blocking target: expected rows per (table, signature) bucket.
# One extra plane per corpus doubling holds this constant, so the
# within-bucket exact-cosine verify stays O(n x BLOCK_TARGET_ROWS) —
# linear — instead of O(n^2 / 2^planes) at any fixed plane count.
BLOCK_TARGET_ROWS = 256


def auto_block_planes(n_rows: int) -> int:
    """Corpus-sized hyperplane count: one extra plane per corpus
    doubling holds expected bucket population at BLOCK_TARGET_ROWS.
    Shared by the operator's 'auto' path and the oracle builders
    (which interpolate the SAME value as a static literal bank)."""
    return max(
        4, math.ceil(math.log2(max(max(n_rows, 1) / BLOCK_TARGET_ROWS, 1)))
    )


def auto_n_clusters(n_rows: int, n_assign: int = 2) -> int:
    """Corpus-sized SemDeDup cell count: k grows linearly with n so
    expected cell population (and so the O(n^2/k) within-cell verify
    cost per row) stays constant — the paper's own regime (k ~
    10^4-10^5 at corpus scale)."""
    return max(16, math.ceil(n_assign * max(n_rows, 1) / BLOCK_TARGET_ROWS))


def _resolve_impl(impl: str, dim: int, param: str) -> str:
    """``'auto'`` -> ``'arrow'`` at real embedding widths
    (dim >= ARROW_AUTO_DIM), ``'sql'`` at oracle-fixture widths; a
    caller who never reads the docstring now gets the measured-fast
    plan by default, while the oracled entries pin ``'sql'``
    explicitly so DuckDB parity never depends on this heuristic."""
    if impl == "auto":
        return "arrow" if dim >= ARROW_AUTO_DIM else "sql"
    if impl not in ("sql", "arrow"):
        raise ValueError(
            f"{param} must be 'auto', 'sql' or 'arrow', got {impl!r}"
        )
    return impl


def _lit_array(values) -> "F.Column":
    """Literal double-array column built from ONE parsed SQL string.

    ``F.array(*[F.lit(x) for x in vec])`` issues several py4j round
    trips per element — at (tables x planes x dim) literals the
    DRIVER-side plan construction dominated whole queries (measured:
    ann_lsh build 5.7s vs 1.3s execution). One ``F.expr`` string is
    one round trip; ``repr`` round-trips float64 exactly, so results
    are bit-identical.
    """
    return F.expr(
        "array(" + ",".join(f"{float(x)!r}D" for x in values) + ")"
    )


def _dot(a, b):
    """Double-precision dot product of two array columns, in codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _lit_array_sql(values) -> str:
    """SQL text of a literal double array (same floats as
    :func:`_lit_array` — repr round-trips float64 exactly)."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in values) + ")"


def _dot_lit_sql(vec_sql: str, values) -> str:
    """SQL text of the SAME expression tree :func:`_dot` builds
    against a literal array: parse it and you get bit-identical
    arithmetic (zip_with + left-to-right aggregate, double init).

    Why text: every :func:`_dot` call is ~10 py4j round trips; a
    signature/centroid bank needs tables x planes of them and the
    DRIVER-side build dominates the query (measured 1.9 s build for
    8x4 planes vs 2.0 s execution). Concatenating strings is free;
    ONE F.expr call parses the whole bank.
    """
    return (
        f"aggregate(zip_with({vec_sql}, {_lit_array_sql(values)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must carry (query_id_col, vec_col). Self-matches
    (same id) are excluded. Output: query_id, neighbor_id, cos
    (rounded 4dp), rank — deterministic via (cos desc, id asc).
    """
    # norms are per-vector, not per-pair: compute once on each side
    # before the join instead of |corpus| x |queries| times inside it
    # (array HOFs are interpreted — hoisting them out of the pair loop
    # is a measured win, not a style point).
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            _norm(F.col(vec_col)).alias("_qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("_cid") != F.col("_qid"))
        .select(
            "_qid",
            "_cid",
            (
                _dot(F.col("_qvec"), F.col("_cvec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("_cos"),
        )
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_cid").alias("neighbor_id"),
            rnd(F.col("_cos"), 4).alias("cos"),
            "rank",
        )
    )


def hard_negatives_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the ``k`` most cosine-similar corpus vectors with a
    DIFFERENT label — the "looks alike, isn't" examples that carry
    the gradient signal in triplet/InfoNCE losses.

    ``anchors`` must carry (anchor_id_col, vec_col, label_col) and is
    the small side by contract (a per-class sample of the training
    set), so it broadcasts: the corpus is scanned exactly once with
    no shuffle, norms hoisted out of the pair loop exactly like
    :func:`cosine_topk`. Output: anchor_id, negative_id, cos (4dp),
    rank — deterministic via (cos desc, id asc).

    At anchor counts past broadcast size, compose the blocked path
    instead (hyperplane signatures -> bucket join -> this ranking
    within candidates); the scoring/ranking contract stays identical.
    """
    a = F.broadcast(
        anchors.select(
            F.col(anchor_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            F.col(label_col).alias("_qlabel"),
            _norm(F.col(vec_col)).alias("_qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        F.col(label_col).alias("_clabel"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.crossJoin(a)
        .filter(F.col("_clabel") != F.col("_qlabel"))
        .select(
            "_qid",
            "_cid",
            (
                _dot(F.col("_qvec"), F.col("_cvec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("_cos"),
        )
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("anchor_id"),
            F.col("_cid").alias("negative_id"),
            rnd(F.col("_cos"), 4).alias("cos"),
            "rank",
        )
    )


def int8_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage retrieval with int8 scalar quantization: rank by the
    quantized dot product first, exact-cosine re-rank only the top
    ``k * refine_factor`` survivors per query — the standard
    memory-bound ANN shape (a 4x-smaller quantized corpus does the
    wide scan; full-precision vectors are touched for a handful of
    candidates).

    Quantization is symmetric per-vector: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5) — every step is IEEE-exact
    arithmetic (division, floor, integer-valued products well inside
    2^53), so the candidate sets and the final ranking are
    bit-deterministic across engines and the whole two-stage pipeline
    carries a full DuckDB oracle; recall vs the exact scan is pinned
    separately in tests.

    Output: query_id, neighbor_id, cos (4dp EXACT cosine), rank —
    self-matches excluded, ties (cos desc, id asc) like cosine_topk.
    """
    if refine_factor < 1:
        raise ValueError("refine_factor must be >= 1")

    def quant(vec):
        s = (
            F.greatest(
                F.array_max(F.transform(vec, lambda x: F.abs(x))),
                F.lit(1e-30),
            )
            / F.lit(127.0)
        )
        q = F.transform(vec, lambda x: F.floor(x / s + F.lit(0.5)))
        return s, q

    qs, qq = quant(F.col(vec_col))
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            qs.alias("_qs"),
            qq.alias("_qq"),
        )
    )
    cs, cq = quant(F.col(vec_col))
    c = corpus.select(
        F.col(id_col).alias("_cid"),
        cs.alias("_cs"),
        cq.alias("_cq"),
    )
    qdot = F.aggregate(
        F.zip_with(
            F.col("_qq"),
            F.col("_cq"),
            lambda x, y: (x * y).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # stage 1 emits ID-ONLY rows: the per-query ranking window
    # shuffles (qid, cid, approx) triples, never vectors (the id-only
    # shuffle convention from the fuzzy/blocked-dedup paths)
    stage1 = (
        c.crossJoin(q)
        .filter(F.col("_cid") != F.col("_qid"))
        .select(
            "_qid",
            "_cid",
            (qdot * F.col("_qs") * F.col("_cs")).alias("_approx"),
        )
    )
    w1 = Window.partitionBy("_qid").orderBy(F.desc("_approx"), F.asc("_cid"))
    cands = (
        stage1.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k * refine_factor)
        .select("_qid", "_cid")
    )
    # re-attach full-precision vectors only for the tiny candidate
    # set: candidates broadcast against one more corpus scan, queries
    # broadcast as before -- no corpus shuffle at any point
    cv = corpus.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    qv = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            _norm(F.col(vec_col)).alias("_qn"),
        )
    )
    w2 = Window.partitionBy("_qid").orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        cv.join(F.broadcast(cands), "_cid")
        .join(qv, "_qid")
        .select(
            "_qid",
            "_cid",
            (
                _dot(F.col("_qvec"), F.col("_cvec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("_cos"),
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_cid").alias("neighbor_id"),
            rnd(F.col("_cos"), 4).alias("cos"),
            "rank",
        )
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors — Arrow/numpy twin of
    :func:`cosine_topk` (same output contract: query_id, neighbor_id,
    cos rounded 4dp, rank; tiebreak (cos desc, id asc)).

    Where :func:`cosine_topk` materializes |corpus| x |queries| pair
    ROWS and evaluates an interpreted ``aggregate``/``zip_with`` dot
    per pair, this variant streams corpus partitions through
    ``mapInPandas`` and scores each Arrow batch against the whole
    query matrix with ONE BLAS matmul — no pair rows ever exist.
    Each batch emits only its local top-k per query (a batch row can
    only reach the global top-k by being in its batch's top-k), so
    the final window merges ~k x |queries| x n_batches candidate
    rows instead of the full product.

    The query batch is collected to the driver and shipped via a
    broadcast variable — an EXPLICIT small-batch materialization
    (queries are the small side by contract, exactly like
    :func:`kmeans_centroids`'s documented train step), not a hidden
    plan-build job.

    float64 matmul sums in a different order than the left-to-right
    HOF accumulation, so last-bit differences vs :func:`cosine_topk`
    are possible; at 4dp rounding the outputs agree (asserted in
    tests/test_similarity.py).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    qrows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0.0] = 1.0
    Qn = (Q / qn[:, None]).T  # dim x n_queries, normalized once
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, Qn))

    out_schema = StructType(
        [
            StructField("query_id", queries.schema[query_id_col].dataType),
            StructField("neighbor_id", corpus.schema[id_col].dataType),
            StructField("_cos", DoubleType()),
        ]
    )

    def score_partition(batches):
        b_qids, b_Qn = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf[id_col].to_numpy()
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cn = np.linalg.norm(C, axis=1)
            cn[cn == 0.0] = 1.0
            S = (C / cn[:, None]) @ b_Qn  # batch_rows x n_queries
            out_q, out_c, out_s = [], [], []
            for j in range(S.shape[1]):
                keep = np.nonzero(cids != b_qids[j])[0]
                if keep.size == 0:
                    continue
                col = S[keep, j]
                # lexsort: primary -cos (desc), secondary cid (asc) —
                # the same deterministic tiebreak as the global window
                order = np.lexsort((cids[keep], -col))[:k]
                sel = keep[order]
                out_q.extend([b_qids[j]] * sel.size)
                out_c.extend(cids[sel])
                out_s.extend(S[sel, j])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_c, "_cos": out_s}
            )

    from aws_de_final_project_spark.operators.util import spread

    candidates = spread(
        corpus.select(F.col(id_col), F.col(vec_col))
    ).mapInPandas(score_partition, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            rnd(F.col("_cos"), 4).alias("cos"),
            "rank",
        )
    )


def _centroids(dim: int, n_centroids: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit centroids (driver-side
    literals, like :func:`_hyperplanes`). A production IVF would
    k-means these on a sample (see :func:`kmeans_centroids`); fixed
    random centroids keep the operator deterministic with no train
    step and test the same execution shape."""
    return _hyperplanes(dim, n_centroids, seed=seed)


def kmeans_centroids(
    corpus: DataFrame,
    dim: int,
    n_centroids: int,
    iters: int = 3,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> list[list[float]]:
    """Train IVF coarse-quantizer centroids: Lloyd iterations over a
    bounded deterministic sample, driver-side.

    This is the OFFLINE "train" step every real IVF has (FAISS trains
    on a sample, then assigns the full corpus): it runs one Spark job
    to collect ``sample`` vectors (ordered by id — deterministic),
    then numpy Lloyd on the driver. Pass the result to
    :func:`ivf_ann_topk`'s ``centroids`` parameter; query builds
    stay job-free because training is explicit, not hidden in the
    plan build. Spherical k-means (normalize per iteration) to match
    the cosine metric; empty cells keep their previous centroid.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy("_id")
        .limit(sample)
        .collect()
    )
    V = np.array([r._v for r in rows], dtype=np.float64)
    V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    C = np.array(_centroids(dim, n_centroids, seed=seed), dtype=np.float64)
    for _ in range(iters):
        assign = np.argmax(V @ C.T, axis=1)
        for c in range(n_centroids):
            members = V[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    C[c] = m / n
    return [[float(x) for x in c] for c in C]


def cell_assign_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list[list[float]],
    n_assign: int = 1,
) -> DataFrame:
    """(id, vec, _nrm, cell) top-``n_assign`` centroid cells per
    vector via one BLAS matmul per Arrow batch — the wide-embedding
    twin of the centroid literal bank (:func:`_top_cells_sql`), with
    the same tiebreak (dot desc, index asc). The vector and its norm
    ride the batch through, so downstream rerank joins need no
    re-attach shuffle. Same regime note as
    :func:`signature_table_arrow`: at dim 64 the literal bank is fine
    and keeps DuckDB-oracle parity; at dim >= ~256 the interpreted
    per-(row, centroid) dots dominate and this kernel is the path.
    """
    import numpy as np

    if n_assign > len(cents):
        raise ValueError(
            f"n_assign={n_assign} exceeds centroid count {len(cents)}"
        )
    C = np.asarray(cents, dtype=np.float64)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(V, axis=1)
            dots = V @ C.T  # (B, n_cents)
            # argsort by (-dot, index): lexsort on (idx, -dot)
            order = np.argsort(-dots, axis=1, kind="stable")[:, :n_assign]
            outs = []
            for j in range(n_assign):
                outs.append(
                    pd.DataFrame(
                        {
                            id_col: ids,
                            vec_col: list(V),
                            "_nrm": nrm,
                            "cell": order[:, j].astype(np.int32),
                        }
                    )
                )
            yield pd.concat(outs)

    return df.select(id_col, vec_col).mapInPandas(
        assign,
        f"{id_col} long, {vec_col} array<double>, _nrm double, cell int",
    )


def _nearest_centroid(vec_sql: str, cents: list[list[float]]):
    """Index (0-based) of the max-dot-product centroid — the whole
    centroid bank is ONE parsed SQL string (see :func:`_dot_lit_sql`)."""
    dots = F.expr(
        "array(" + ",".join(_dot_lit_sql(vec_sql, c) for c in cents) + ")"
    )
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
    assign_impl: str = "auto",
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF (inverted-file)
    partitioning: every corpus vector is assigned to its nearest
    centroid; each query probes its ``n_probe`` nearest centroid
    cells and exact-reranks only those cells.

    ``centroids``: pass :func:`kmeans_centroids` output for trained
    cells (better recall at low n_probe); default is the fixed-random
    quantizer (zero train cost, deterministic).

    At scale: the corpus is scanned once to tag cell ids (pure
    codegen arithmetic), candidates come from an equi-join on
    ``cell`` — the 1/(n_centroids/n_probe) fraction of the corpus a
    query actually touches. No index structure, no driver state;
    re-centroiding is a recompute, not a rebuild.
    """
    cents = centroids if centroids is not None else _centroids(dim, n_centroids)
    if len(cents) != n_centroids:
        raise ValueError(
            f"centroids length {len(cents)} != n_centroids {n_centroids}"
        )
    assign_impl = _resolve_impl(assign_impl, dim, "assign_impl")
    if assign_impl == "arrow":
        # wide-dim path: cell + norm from one BLAS pass, vector rides
        # the Arrow batch — no literal bank, no interpreted dots
        c = cell_assign_arrow(corpus, id_col, vec_col, cents).select(
            F.col(id_col).alias("_cid"),
            F.col(vec_col).alias("_cvec"),
            F.col("_nrm").alias("_cn"),
            "cell",
        )
    else:
        c = corpus.select(
            F.col(id_col).alias("_cid"),
            F.col(vec_col).alias("_cvec"),
            _norm(F.col(vec_col)).alias("_cn"),
            _nearest_centroid(vec_col, cents).alias("cell"),
        )
    # query side: top n_probe cells by centroid dot product — the
    # whole (negated-dot, index) struct bank as ONE parsed string
    qdots = F.expr(
        "array("
        + ",".join(
            f"struct(-({_dot_lit_sql('_qvec', cc)}) AS nd, "
            f"CAST({i} AS INT) AS i)"
            for i, cc in enumerate(cents)
        )
        + ")"
    )
    q = (
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            _norm(F.col(vec_col)).alias("_qn"),
        )
        .withColumn("_probes", F.slice(F.array_sort(qdots), 1, n_probe))
        .select(
            "_qid", "_qvec", "_qn", F.explode(F.col("_probes.i")).alias("cell")
        )
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        q.join(c, "cell")
        .filter(F.col("_cid") != F.col("_qid"))
        .select(
            "_qid",
            "_cid",
            (
                _dot(F.col("_qvec"), F.col("_cvec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("_cos"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_cid").alias("neighbor_id"),
            rnd(F.col("_cos"), 4).alias("cos"),
            "rank",
        )
    )


def cosine_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_planes: int | str = "auto",
    dim: int | None = None,
    n_tables: int = 1,
    sig_impl: str = "auto",
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with
    ``cos(a,b) >= threshold``.

    ``block_planes='auto'`` (the DEFAULT — r9 verdict: the scale-safe
    path must be what a naive caller gets) sizes the signature to the
    CORPUS (one count job): planes = max(4, ceil(log2(n /
    BLOCK_TARGET_ROWS))). At fixed planes the within-block verify
    grows as n^2/2^planes — quadratic in corpus size (measured: the
    sf1 full-suite tier put the fixed-4-plane entry at a 14.9x decade
    slope) — while one extra plane per doubling keeps expected block
    population, and so verify cost per row, CONSTANT. Oracled entries
    pin fixed planes (the DuckDB twin interpolates a static literal
    bank); production uses auto.

    With explicit ``block_planes>0`` the self-join is blocked by a
    random-hyperplane signature (vectors with cos >= ~0.9 agree on
    most sign bits), turning the cross product into an equi-join on
    the bucket, at the cost of S-curve recall; ``n_tables``
    independent signature tables recover it (miss probability
    ``(1-p^b)^T``). Both paths verify with the exact cosine, so
    precision is always 1.

    ``block_planes=0`` is the exact O(n^2) cross-join baseline
    (oracle-checkable) — OPT-IN ONLY: above QUADRATIC_ROW_CAP rows it
    raises unless ``allow_quadratic=True``, because n^2/2 exact dots
    at corpus scale is the one plan that can never finish at 100 TB.

    ``dim`` is required whenever signatures are built ('auto' or >0).
    """
    from aws_de_final_project_spark.operators.util import spread

    # per-row-heavy compute ahead (signatures + exact-cosine verify):
    # spread a small single-file scan across the cores (no-op at scale,
    # where the scan already yields >= core-count partitions)
    src = spread(corpus)
    a = src.select(
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    b = src.select(
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    if block_planes == "auto":
        if dim is None:
            raise ValueError(
                "dim is required with block_planes='auto' (the default "
                "blocked path builds hyperplane signatures); pass "
                "block_planes=0 for the exact baseline on a small corpus"
            )
        n_rows = corpus.count()
        block_planes = auto_block_planes(n_rows)
    elif block_planes == 0 and not allow_quadratic:
        n_rows = corpus.count()
        if n_rows > QUADRATIC_ROW_CAP:
            raise ValueError(
                f"block_planes=0 is the exact O(n^2) cross-join and the "
                f"corpus has {n_rows} rows (> QUADRATIC_ROW_CAP="
                f"{QUADRATIC_ROW_CAP}); use block_planes='auto' (scale-"
                f"safe default) or pass allow_quadratic=True if you "
                f"really want n^2/2 exact dots"
            )
    if block_planes > 0:
        if dim is None:
            raise ValueError("dim is required when block_planes > 0")
        sig_impl = _resolve_impl(sig_impl, dim, "sig_impl")
        tables = [
            _hyperplanes(dim, block_planes, seed=42 + 1000 * t)
            for t in range(n_tables)
        ]

        def signed(df: DataFrame, idc: str, vcol: str) -> DataFrame:
            """(id, tbl, sig) — signatures computed scan-side, vector
            DROPPED before any shuffle: the bucket join and pair dedup
            move 16-byte id rows, not embeddings. ``sig_impl='arrow'``
            swaps the SQL literal bank for the BLAS kernel
            (:func:`signature_table_arrow`) — mandatory at real
            embedding widths (dim >= ~256), where the interpreted HOF
            dots dominate (see tools/measure_literal_banks.py)."""
            if sig_impl == "arrow":
                return signature_table_arrow(df, idc, vcol, tables)
            sigs = F.expr(
                "array("
                + ",".join(
                    f"struct(CAST({t} AS INT) AS tbl, "
                    f"{lsh_signature_sql(vcol, planes)} AS sig)"
                    for t, planes in enumerate(tables)
                )
                + ")"
            )
            return df.select(
                F.col(idc), F.explode(sigs).alias("_ts")
            ).select(F.col(idc), "_ts.tbl", "_ts.sig")

        # Verify per BUCKET, not per attached pair: one (id, vec) join
        # onto the signature frame, then a chunked BLAS Gram product
        # inside each (tbl, sig) bucket scores every within-bucket
        # pair — the candidate set the bucket self-join used to
        # enumerate — and cross-table duplicates dedup AFTER scoring
        # on the tiny survivor frame. This replaces the r13 shape
        # (bucket self-join -> 813k-pair dedup -> two vector-attach
        # joins -> per-pair Arrow verify shipping ~0.9 GB at sf0.1)
        # with one n x n_tables vector shuffle (~17 MB): see
        # _verify_buckets_cosine_gram.
        sig = signed(a, "_ida", "_va")
        bucketed = sig.join(a.select("_ida", "_va"), "_ida")
        return _verify_buckets_cosine_gram(
            bucketed, ["tbl", "sig"], threshold
        )
    joined = a.crossJoin(b).filter(F.col("_ida") < F.col("_idb"))
    return (
        joined.select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            rnd(
                _dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                4,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python —
    evaluated once on the driver, shipped as literals)."""
    planes = []
    state = seed
    for p in range(n_planes):
        vec = []
        for d in range(dim):
            # xorshift64* PRNG — stable across platforms/versions.
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            u = ((state * 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF) / 2**64
            vec.append(u * 2 - 1)
        n = math.sqrt(sum(x * x for x in vec)) or 1.0
        planes.append([x / n for x in vec])
    return planes


def signature_table_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    tables: list[list[list[float]]],
) -> DataFrame:
    """(id, tbl, sig) sign-bit signatures via one BLAS matmul per
    Arrow batch — the wide-embedding twin of the SQL literal banks.

    The literal-bank path (:func:`lsh_signature_sql`) evaluates an
    INTERPRETED zip_with+aggregate dot per (row, plane): fine at
    dim 64, but at dim 768 the per-row cost is planes x 768
    interpreted ops — measured 67 s (ANN 12x4) / 349 s (blocked dedup
    8x6) for a 20k-row corpus (tools/measure_literal_banks.py). Here
    each batch does ``V @ P.T`` per table (float64 BLAS), packs the
    sign bits, and ships (id, tbl, sig) — same output schema, ~40x
    less CPU, and zero SQL-text bank (the planes ride the closure as
    a numpy array, broadcast with the task).

    Sign-bit caveat: BLAS sums in a different order than the
    left-to-right SQL aggregate, so a dot product within ~1e-13 of
    zero could flip a bit between the two paths. That cannot affect
    recall guarantees (both are valid random-hyperplane signatures);
    oracled queries keep the SQL path so DuckDB parity stays exact.
    """
    import numpy as np

    P = [np.asarray(t, dtype=np.float64) for t in tables]
    weights = [
        (np.int64(1) << np.arange(p.shape[0], dtype=np.int64)) for p in P
    ]

    def sign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            outs = []
            for t, (Pt, wt) in enumerate(zip(P, weights)):
                bits = (V @ Pt.T) >= 0  # (B, planes)
                sig = (bits.astype(np.int64) * wt).sum(axis=1)
                outs.append(
                    pd.DataFrame({id_col: ids, "tbl": t, "sig": sig})
                )
            yield pd.concat(outs)

    return df.select(id_col, vec_col).mapInPandas(
        sign, f"{id_col} long, tbl int, sig long"
    )


def lsh_signature(vec_col, planes: list[list[float]]):
    """Sign-bit signature (bigint) of a vector against hyperplanes.

    Pass the COLUMN NAME (str) when you can: the whole signature then
    builds as one SQL string -> one py4j round trip -> one parse
    (see :func:`_dot_lit_sql`); a Column falls back to per-plane
    expression construction (identical result, slower build).
    """
    if isinstance(vec_col, str):
        return F.expr(lsh_signature_sql(vec_col, planes))
    sig = None
    for i, plane in enumerate(planes):
        lit_plane = _lit_array(plane)
        bit = F.when(_dot(vec_col, lit_plane) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return sig


def lsh_signature_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """SQL text of the same sign-bit signature expression tree."""
    terms = [
        "shiftleft(CASE WHEN "
        + _dot_lit_sql(vec_sql, plane)
        + " >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, "
        + f"{i})"
        for i, plane in enumerate(planes)
    ]
    sig = terms[0]
    for t in terms[1:]:
        sig = f"({sig} | {t})"
    return sig


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 4,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    sig_impl: str = "auto",
) -> DataFrame:
    """Approximate top-k cosine neighbors via random-hyperplane LSH.

    ``n_tables`` independent signature tables (different hyperplane
    seeds); candidates = union of same-bucket matches across tables,
    exact cosine re-rank. With ``multiprobe`` the QUERY side also
    probes every hamming-1 bucket (flip each signature bit once) —
    recall per table goes from p^b to p^b + b*p^(b-1)*(1-p) at the
    cost of (b+1)x rows on the small query side only. At scale this
    is a plain equi-join on (table, signature): the 100 TB corpus is
    signed once (one narrow projection, one shuffle on the join key)
    — no broadcast of the corpus, no cross product, no index.
    """
    sig_impl = _resolve_impl(sig_impl, dim, "sig_impl")
    table_sets = [
        _hyperplanes(dim, n_planes, seed=42 + 1000 * t) for t in range(n_tables)
    ]

    def signatures(df: DataFrame, idc: str, probe: bool) -> DataFrame:
        """(id, tbl, sig) — the vector is dropped before the bucket
        join so the shuffle moves ids, not embeddings.

        Two-step projection on purpose: each table's signature is
        materialized ONCE as a column and the probe variants XOR that
        column. Inlining the signature expression into every probe
        struct copied the whole planes x dim literal tree per probe —
        (1+n_planes) x n_tables copies — and Catalyst analysis time,
        not execution, dominated the query (measured ~6s at 8x4x64).

        ``sig_impl='arrow'`` replaces the literal bank with the BLAS
        kernel; probe variants then XOR the materialized sig column —
        the expansion itself is identical in both paths.
        """
        if sig_impl == "arrow":
            base = signature_table_arrow(df, idc, vec_col, table_sets)
            if not probe:
                return base
            variants = F.array(
                F.col("sig"),
                *[
                    F.col("sig").bitwiseXOR(F.lit(1 << i))
                    for i in range(n_planes)
                ],
            )
            return base.select(
                F.col(idc), "tbl", F.explode(variants).alias("sig")
            )
        sigs = df.select(
            F.col(idc),
            *[
                lsh_signature(vec_col, planes).alias(f"_s{t}")
                for t, planes in enumerate(table_sets)
            ],
        )
        entries = []
        for t in range(n_tables):
            base = F.col(f"_s{t}")
            entries.append(
                F.struct(F.lit(t).alias("tbl"), base.alias("sig"))
            )
            if probe:
                entries.extend(
                    F.struct(
                        F.lit(t).alias("tbl"),
                        base.bitwiseXOR(F.lit(1 << i)).alias("sig"),
                    )
                    for i in range(n_planes)
                )
        return sigs.select(
            F.col(idc),
            F.explode(F.array(*entries)).alias("ts"),
        ).select(F.col(idc), "ts.tbl", "ts.sig")

    csig = signatures(corpus, id_col, probe=False).withColumnRenamed(
        id_col, "_cid"
    )
    qsig = signatures(
        queries.select(F.col(query_id_col), F.col(vec_col)),
        query_id_col,
        probe=multiprobe,
    ).withColumnRenamed(query_id_col, "_qid")
    # dedup on bare id pairs, then re-attach vectors + hoisted norms
    cand_ids = (
        qsig.join(csig, ["tbl", "sig"])
        .filter(F.col("_cid") != F.col("_qid"))
        .select("_qid", "_cid")
        .distinct()
    )
    qv = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            _norm(F.col(vec_col)).alias("_qn"),
        )
    )
    cv = corpus.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    candidates = cand_ids.join(qv, "_qid").join(cv, "_cid")
    w = Window.partitionBy("_qid").orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        candidates.select(
            "_qid",
            "_cid",
            (
                _dot(F.col("_qvec"), F.col("_cvec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("_cos"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_cid").alias("neighbor_id"),
            rnd(F.col("_cos"), 4).alias("cos"),
            "rank",
        )
    )


def _top_cells_sql(vec_sql: str, cents: list[list[float]], n_assign: int) -> str:
    """SQL text: array of the ``n_assign`` nearest-centroid ids
    (dot desc, id asc — same tiebreak as :func:`_nearest_centroid`).
    Like the signature banks, the whole centroid sweep is ONE string
    -> one parse -> pure codegen arithmetic at runtime."""
    dots = "array(" + ",".join(_dot_lit_sql(vec_sql, c) for c in cents) + ")"
    return (
        f"slice(transform(array_sort(zip_with({dots}, "
        f"sequence(0, {len(cents) - 1}), "
        "(d, i) -> named_struct('d', d, 'i', i)), "
        "(l, r) -> CASE WHEN l.d > r.d THEN -1 WHEN l.d < r.d THEN 1 "
        "WHEN l.i < r.i THEN -1 ELSE 1 END), "
        f"s -> CAST(s.i AS INT)), 1, {n_assign})"
    )


def semantic_dup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.3,
    n_clusters: int | str = "auto",
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    assign_impl: str = "auto",
) -> DataFrame:
    """SemDeDup-style clustered semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus by nearest centroid, then
    find near-duplicate pairs WITHIN clusters only — the cross-cluster
    pair space is never materialized, so cost drops from O(n^2) to
    O(sum of cluster sizes squared) ~ O(n^2 / n_clusters).

    ``n_assign > 1`` soft-assigns each vector to its top-p cells
    (multi-assignment — the dedup analog of IVF probing): a pair
    straddling a cell boundary is still caught when ANY assigned cell
    is shared. Recall vs the exact path is asserted in
    tests/test_similarity.py; with fixed deterministic centroids the
    whole pipeline (assignment included) is oracle-checkable, unlike
    hash-seeded LSH.

    Scale shape: one scan tags cells (codegen arithmetic over literal
    centroids — vectors never shuffle with their cells), candidates
    come from an equi-join on cell, pair dedup happens on bare id
    pairs BEFORE vectors re-attach for the exact-cosine verify.
    ``centroids``: pass :func:`kmeans_centroids` output for trained
    cells; default is the fixed-random quantizer.

    ``n_clusters='auto'`` (the DEFAULT — r9 verdict: the scale-safe
    sizing must be what a naive caller gets) sizes the cell count to
    the corpus (one count job): k = max(16, ceil(n_assign * n /
    BLOCK_TARGET_ROWS)), holding expected cell population constant —
    at any FIXED k the within-cell verify is O(n^2/k), quadratic in
    corpus size (measured: the sf1 tier put the fixed-16-cell entry
    at a 13.7x decade slope). SemDeDup itself scales k with n (the
    paper uses k ~ 10^4-10^5 cells for corpus-scale runs). Oracled
    entries pin fixed k (static centroid literals in the DuckDB
    twin); production uses auto.
    """
    if n_clusters == "auto":
        n_rows = corpus.count()
        n_clusters = auto_n_clusters(n_rows, n_assign)
    cents = centroids if centroids is not None else _centroids(dim, n_clusters)
    assign_impl = _resolve_impl(assign_impl, dim, "assign_impl")

    from aws_de_final_project_spark.operators.util import spread

    # per-row-heavy compute ahead (cell assignment + exact-cosine
    # verify): spread a small single-file scan across the cores
    # (no-op at scale)
    src = spread(corpus)
    a = src.select(
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    b = src.select(
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    if assign_impl == "arrow":
        # wide-dim path: cells from the BLAS kernel, ids only
        tagged = cell_assign_arrow(
            src, id_col, vec_col, cents, n_assign=n_assign
        ).select(F.col(id_col).alias("_ida"), "cell")
    else:
        cells = F.explode(F.expr(_top_cells_sql(vec_col, cents, n_assign)))
        tagged = src.select(
            F.col(id_col).alias("_ida"), cells.alias("cell")
        )
    # Verify per CELL, not per attached pair: one (id, vec) join onto
    # the cell assignment, then a chunked BLAS Gram product inside
    # each cell scores every within-cell pair (the candidate set the
    # cell self-join used to enumerate); multi-probe duplicates dedup
    # AFTER scoring on the tiny survivor frame. Replaces the r13
    # shape (cell self-join -> pair dedup -> two vector-attach joins
    # -> per-pair Arrow verify): see _verify_buckets_cosine_gram.
    bucketed = tagged.join(a.select("_ida", "_va"), "_ida")
    return _verify_buckets_cosine_gram(bucketed, ["cell"], threshold)


def _verify_buckets_cosine_gram(
    bucketed: DataFrame, bucket_cols: list[str], threshold: float
) -> DataFrame:
    """Exact-cosine verify computed PER CANDIDATE BUCKET instead of
    per attached pair: ``bucketed`` is (bucket_cols..., _ida, _va);
    every within-bucket pair (id_a < id_b) is scored by one chunked
    BLAS Gram product and pairs colliding in several buckets are
    deduplicated AFTER scoring (identical floats -> identical 4dp
    values; max() keeps the dedup deterministic regardless).

    Why (guide §8 — move heavy bytes once): the pair-attach shape
    shipped BOTH vectors per candidate pair through the Arrow
    boundary. At sf0.1's auto-blocked corpus that is ~813k pairs x
    ~1 KB ≈ 0.9 GB serialized per run, ~400x duplication of each
    vector (measured r14: the two verify stages cost ~55 s CPU/run,
    dominated by transfer + the 813k-row attach joins and pre-verify
    dedup). Here each vector crosses once per bucket it belongs to
    (n x n_tables rows total ≈ 17 MB), the attach joins disappear,
    and the pre-verify pair dedup shrinks to a survivors-only
    aggregate. Same 4dp-rounded output: floor-form rounding absorbs
    BLAS-vs-elementwise sum-order noise (the ann_cosine_topk_vec
    precedent, pinned by the oracle parity of the blocked entries).

    Skew bound: a bucket's rows land on ONE task (B x dim matrix in
    memory; the cos slab is chunked to 1024 rows so it never
    materializes B^2 doubles). The auto-plane/auto-cell sizing exists
    precisely to keep expected B constant as the corpus grows.
    """
    import pandas as pd  # noqa: F401 (Arrow batch interface)

    def gram(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"),
             "cos": pd.Series(dtype="float64")}
        )
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["_ida"].to_numpy()
        X = np.stack(pdf["_va"].to_numpy()).astype(np.float64)
        nrm = np.maximum(np.linalg.norm(X, axis=1), 1e-300)
        outs = []
        chunk = 1024
        for i0 in range(0, n, chunk):
            A = X[i0:i0 + chunk]
            cos = (A @ X.T) / (nrm[i0:i0 + chunk, None] * nrm[None, :])
            cos = np.floor(cos * 10000.0 + 0.5) / 10000.0
            ia, jb = np.nonzero(cos >= threshold)
            if not ia.size:
                continue
            vals = cos[ia, jb]
            gi, gj = ids[ia + i0], ids[jb]
            keep = gi < gj
            if keep.any():
                outs.append(pd.DataFrame(
                    {"id_a": gi[keep], "id_b": gj[keep], "cos": vals[keep]}
                ))
        return pd.concat(outs) if outs else empty

    scored = bucketed.groupBy(*bucket_cols).applyInPandas(
        gram, "id_a long, id_b long, cos double"
    )
    return scored.groupBy("id_a", "id_b").agg(F.max("cos").alias("cos"))
