"""Incremental aggregate (materialized-rollup) maintenance.

The reference recomputes its Athena views from the full table on every
query (views are virtual — ``CDK/cdk/cdk_stack.py:307-326``). At 100 TB
a daily-refreshed rollup must be maintained INCREMENTALLY: apply each
arriving delta to the stored aggregate instead of rescanning history.

This works for the self-mergeable aggregate algebra — sum, count, min,
max (and anything derived from them, e.g. avg = sum/count computed at
READ time, never stored): merge(state, partial(delta)) == full
recompute. The merge is one union + re-aggregate over |state| + |delta
groups| rows — independent of history size. Exactness is pinned in
tests/test_rollup_maint.py against a from-scratch recompute after
several deltas.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_de_final_project_spark.operators.util import cut

# measure spec: (output_col, source_col, kind) where kind in
# {"sum", "count", "min", "max", "sumsq", "hll"} or
# "hist:<lo>:<hi>:<n_bins>". count counts non-null source rows. sumsq
# stores sum(x^2), the extra moment that makes variance/stddev
# derivable at READ time (var = sumsq/n - (sum/n)^2) while staying
# sum-mergeable. hll stores a DataSketches HLL binary sketch — the
# mergeable form of COUNT(DISTINCT), whose union-merge is exactly
# associative (sketch(A) ∪ sketch(B) == sketch(A ∪ B), pinned in
# tests), estimate via hll_sketch_estimate at read. hist stores a
# dense fixed-bin count array (values clamped to the edge bins) —
# element-wise long sums, so merge == recompute EXACTLY (integer
# counts); quantile ESTIMATES derive at read via hist_quantile with
# in-bin linear interpolation, the mergeable form of
# percentile/approx_percentile state.
Measure = tuple[str, str, str]

_MERGE = {
    "sum": F.sum,
    "count": F.sum,
    "min": F.min,
    "max": F.max,
    "sumsq": F.sum,
    "hll": F.hll_union_agg,
}
_PARTIAL = {"sum": F.sum, "min": F.min, "max": F.max}


def _hist_params(kind: str) -> tuple[float, float, int]:
    _tag, lo, hi, n = kind.split(":")
    lo, hi, n = float(lo), float(hi), int(n)
    if not (hi > lo and n > 0):
        raise ValueError(f"bad hist kind {kind!r}")
    return lo, hi, n


def _hist_bin(src: str, lo: float, hi: float, n: int):
    w = (hi - lo) / n
    return F.least(
        F.greatest(
            F.floor((F.col(src) - F.lit(lo)) / F.lit(w)).cast("int"),
            F.lit(0),
        ),
        F.lit(n - 1),
    )


def _dense_hist(counts: DataFrame, keys: Sequence[str], n: int, out: str):
    """(keys..., _b, _c) sparse bin counts -> (keys..., out) dense
    array<long> of length n. map lookup inside one transform over a
    sequence — CONSTANT expression size regardless of n (the naive
    n-conditional-sums form made Catalyst analysis + codegen compile
    the dominant per-query cost: measured 4 s of 7 s at n=64)."""
    return (
        counts.groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("_b", "_c"))
            ).alias("_m")
        )
        .select(
            *keys,
            F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_m"), i), F.lit(0).cast("long")
                ),
            ).alias(out),
        )
    )


def _split_measures(measures: Sequence[Measure]):
    plain = [m for m in measures if not m[2].startswith("hist:")]
    hists = [m for m in measures if m[2].startswith("hist:")]
    return plain, hists


def partial_aggs(
    delta: DataFrame, keys: Sequence[str], measures: Sequence[Measure]
) -> DataFrame:
    """Per-key partial aggregate of one delta batch. count becomes a
    sum-mergeable long; everything else keeps its own algebra. hist
    measures aggregate sparsely on (keys, bin) then densify via the
    constant-size map assembly — never n-wide expression lists."""
    plain, hists = _split_measures(measures)
    aggs = []
    for out, src, kind in plain:
        if kind == "count":
            aggs.append(
                F.count(F.col(src)).cast("long").alias(out)
            )
        elif kind == "sumsq":
            aggs.append(F.sum(F.col(src) * F.col(src)).alias(out))
        elif kind == "hll":
            aggs.append(F.hll_sketch_agg(F.col(src)).alias(out))
        else:
            aggs.append(_PARTIAL[kind](F.col(src)).alias(out))
    base = delta.groupBy(*keys).agg(*aggs) if plain else None
    for out, src, kind in hists:
        lo, hi, n = _hist_params(kind)
        counts = (
            delta.groupBy(*keys, _hist_bin(src, lo, hi, n).alias("_b"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_b").isNotNull())  # null source rows drop
        )
        dense = _dense_hist(counts, keys, n, out)
        if base is None:
            base = dense
        else:
            zeros = F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda _i: F.lit(0).cast("long"),
            )
            base = base.join(dense, list(keys), "full").withColumn(
                out, F.coalesce(F.col(out), zeros)
            )
    return base


def merge_aggs(
    state: DataFrame, delta_partial: DataFrame,
    keys: Sequence[str], measures: Sequence[Measure],
) -> DataFrame:
    """Merge a partial aggregate into the stored state: union the two
    per-key frames and fold with each measure's merge function (sum
    and count re-sum; min/max re-min/max). Cost is proportional to
    state + delta group counts, not history."""
    plain, hists = _split_measures(measures)
    both = state.unionByName(delta_partial)
    merged = None
    if plain:
        merged = both.groupBy(*keys).agg(
            *[_MERGE[kind](F.col(out)).alias(out) for out, _s, kind in plain]
        )
    for out, _src, kind in hists:
        _lo, _hi, n = _hist_params(kind)
        # element-wise long sums via explode + re-densify: integer
        # counts, exactly mergeable, constant expression size
        summed = (
            both.select(*keys, F.posexplode(F.col(out)).alias("_b", "_c"))
            .groupBy(*keys, "_b")
            .agg(F.sum("_c").alias("_c"))
        )
        dense = _dense_hist(summed, keys, n, out)
        merged = (
            dense if merged is None else merged.join(dense, list(keys))
        )
    return merged


def maintain_rollup(
    spark: SparkSession,
    delta: DataFrame,
    path: str,
    keys: Sequence[str],
    measures: Sequence[Measure],
) -> DataFrame:
    """Apply one delta batch to the parquet rollup at ``path``
    (create if absent); returns the new state.

    Write is staged to ``path + '.staging'`` then swapped, because the
    new state is computed FROM the current files — Spark cannot
    overwrite a path it is reading in the same job. The swap keeps a
    reader-consistent snapshot at all times (rename is atomic per
    directory on a POSIX store; object stores want a manifest commit,
    same structure)."""
    part = partial_aggs(delta, keys, measures)
    if os.path.exists(path):
        new_state = merge_aggs(spark.read.parquet(path), part, keys, measures)
    else:
        new_state = part
    staging = path + ".staging"
    new_state.write.mode("overwrite").parquet(staging)
    if os.path.exists(path):
        import shutil

        shutil.rmtree(path)
    os.rename(staging, path)
    return spark.read.parquet(path)


def hist_quantiles(
    state: DataFrame,
    keys: Sequence[str],
    out: str,
    kind: str,
    qs: dict[str, float],
) -> DataFrame:
    """Multiple quantile estimates from ONE cumulative pass over the
    hist state: the explode + running-sum + totals frames are shared,
    and each requested quantile adds only a filter-agg-join over the
    (keys x bins) frame — at 2+ quantiles this halves the read plan
    vs calling :func:`hist_quantile` per q. Same estimator and
    determinism contract. Returns (keys..., *qs.keys())."""
    from pyspark.sql.window import Window

    lo, hi, n = _hist_params(kind)
    w = (hi - lo) / n
    b = state.select(*keys, F.posexplode(F.col(out)).alias("_bin", "_c"))
    wspec = Window.partitionBy(*keys).orderBy("_bin")
    cum = (
        b.withColumn("_cum", F.sum("_c").over(wspec))
        .withColumn("_cumprev", F.col("_cum") - F.col("_c"))
    )
    tot = b.groupBy(*keys).agg(F.sum("_c").alias("_n"))
    j = cut(cum.join(F.broadcast(tot), list(keys)))
    result = None
    for alias, q in qs.items():
        target = F.lit(float(q)) * F.col("_n").cast("double")
        pick = (
            j.filter(
                (F.col("_cum").cast("double") >= target) & (F.col("_c") > 0)
            )
            .groupBy(*keys)
            .agg(F.min("_bin").alias("_bin"))
        )
        est = pick.join(j, list(keys) + ["_bin"]).select(
            *keys,
            (
                F.lit(lo)
                + F.lit(w)
                * (
                    F.col("_bin").cast("double")
                    + (target - F.col("_cumprev").cast("double"))
                    / F.col("_c").cast("double")
                )
            ).alias(alias),
        )
        result = est if result is None else result.join(est, list(keys))
    return result


def hist_quantile(
    state: DataFrame,
    keys: Sequence[str],
    out: str,
    kind: str,
    q: float,
    alias: str,
) -> DataFrame:
    """Quantile ESTIMATE from a stored hist state (read-time derive,
    like avg/variance): the first bin whose cumulative count reaches
    q * N, linearly interpolated inside the bin —
    lo + w * (bin + (q*N - cum_prev) / bin_count). All arithmetic is
    deterministic given the integer bin counts, so the estimate
    replays exactly in any engine. Returns (keys..., alias) unrounded.

    Accuracy contract: error <= one bin width (exact at bin edges);
    tighten by raising n_bins — state stays n_bins longs per key."""
    from pyspark.sql.window import Window

    lo, hi, n = _hist_params(kind)
    w = (hi - lo) / n
    b = state.select(*keys, F.posexplode(F.col(out)).alias("_bin", "_c"))
    wspec = Window.partitionBy(*keys).orderBy("_bin")
    cum = (
        b.withColumn("_cum", F.sum("_c").over(wspec))
        .withColumn("_cumprev", F.col("_cum") - F.col("_c"))
    )
    tot = b.groupBy(*keys).agg(F.sum("_c").alias("_n"))
    j = cum.join(tot, list(keys)).withColumn(
        "_target", F.lit(float(q)) * F.col("_n").cast("double")
    )
    pick = (
        j.filter(
            (F.col("_cum").cast("double") >= F.col("_target"))
            & (F.col("_c") > 0)
        )
        .groupBy(*keys)
        .agg(F.min("_bin").alias("_bin"))
    )
    est = (
        pick.join(j, list(keys) + ["_bin"])
        .select(
            *keys,
            (
                F.lit(lo)
                + F.lit(w)
                * (
                    F.col("_bin").cast("double")
                    + (F.col("_target") - F.col("_cumprev").cast("double"))
                    / F.col("_c").cast("double")
                )
            ).alias(alias),
        )
    )
    return est
