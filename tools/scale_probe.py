#!/usr/bin/env python
"""Scaling-slope probe: do the event-time operators scale linearly?

The driver benches at sf0.1 (100k events). The 100 TB question is the
SLOPE, not the intercept: synthesize a 10x events table (each copy
id-shifted and time-shifted by the full span, so per-user session
structure and window cardinalities scale linearly, not degenerately)
and time the event-family queries at sf0.01 / sf0.1 / sf0.1x10.

A query whose warm time grows ~10x from sf0.1 to x10 (minus the fixed
~0.3 s action overhead, see SURVEY §6) is linear — shuffle-on-key with
no quadratic stage. Superlinear growth flags a hidden blowup.

Usage: python tools/scale_probe.py   # prints one JSON line per query
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The probed entries are tagged in __spark_entry__.ENTRIES with their
# family and top tier: events10, docs10/30/100, misc10/30/100. An
# entry is timed at every tier of its family up to the tagged one
# (probed() reads the tags), so each tier's set nests in the one below.
X10_DIR = "/tmp/scale_probe_x10"

# dedup/text family runs against the documents x10/x30 tiers built by
# build_docs_xn (per-copy cipher — see its docstring for why pair
# counts scale linearly in copies).
DOCS_X10_DIR = "/tmp/scale_probe_docs_x10"
# x30 docs tier: the families that grew fastest at x10 (winnow 4.3x,
# quality 3.2x) and the newest structures with a growth risk go one
# more decade, so superlinearity can't hide between decades. 1.5M
# docs fits the 128 GiB envelope.
X30_DIR = "/tmp/scale_probe_docs_x30"

# The misc heavies (triangle enumeration over the co-purchase graph,
# power-iteration PCA, blocked entity resolution) get their own x10
# tier of id-shifted lineitem / embeddings / ciphered customer copies
# — each copy's graph/blocks are disjoint from the others', so edge,
# Gram-row, and blocked-pair counts scale exactly linearly in copies.
MISC_X10_DIR = "/tmp/scale_probe_misc_x10"
# one more decade for the misc heavies (x30 = 18M lineitem rows /
# 30k vectors / 450k customers — fits the memory envelope): decade-
# over-decade ratios catch superlinearity hiding between tiers
MISC_X30_DIR = "/tmp/scale_probe_misc_x30"

# One FURTHER decade for the top heavies — the x30 tier caught two
# real scale bugs, and x100 (60M lineitem rows / 500k docs) is the
# largest tier the 128 GiB box holds. Docs x100 uses SEEDED
# PERMUTATION ciphers (a 100-copy Caesar family has only 36 distinct
# rotations, so copies i and i+36 would be exact cross-copy twins —
# the same aliasing bug the x10 vowel rotation had); linear baseline
# is the x30 row: t100 ~= (100/30) * (t30 - fixed) + fixed.
X100_DOCS_DIR = "/tmp/scale_probe_docs_x100"
# misc x100 holds lineitem and embeddings only (the triangle and the
# auto embedding-dedup entries); customer stops at x30
MISC_X100_DIR = "/tmp/scale_probe_misc_x100"


def probed(family: str, tier: int, only: set | None = None) -> list[str]:
    """Entries probed in ``family`` at x``tier`` (tagged ``<family>N``
    with N >= ``tier``), in registry order; ``only`` restricts them."""
    import __spark_entry__ as E

    return [
        name for name, tag in E.tagged(family).items()
        if int(tag[len(family):]) >= tier and (only is None or name in only)
    ]

_ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789"


def _copy_cipher(i: int, n: int) -> str:
    """Per-copy [a-z0-9] bijection. Caesar rotations for n <= 36
    (matches the cached x10/x30 tiers); above 36 rotations alias
    (copy i == copy i+36 — exact cross-copy twins), so larger tiers
    use a seeded permutation per copy: still bijective (within-copy
    structure exact), distinct for every i."""
    if n <= 36:
        return _ALNUM[i % 36:] + _ALNUM[: i % 36]
    import random

    chars = list(_ALNUM)
    random.Random(1234 + i).shuffle(chars)
    return "".join(chars)


def build_docs_xn(spark, src_sf: str, n: int, out_dir: str) -> None:
    """n id-shifted copies, each under a DIFFERENT character bijection
    over [a-z0-9] (translate — pure codegen; see _copy_cipher). A
    bijective per-copy cipher preserves within-copy dup/near-dup
    structure EXACTLY (equality and shingle identity are invariant
    under a character bijection that fixes separators) while
    cross-copy texts share essentially no shingles — so output pair
    counts scale linearly in n with no cross-copy cliques. Preferred
    over the x10 vowel rotation (only 5 distinct rotations -> exact
    cross-copy twins at copy i, i+5)."""
    from pyspark.sql import functions as F

    from aws_de_final_project_spark.sources.registry import load_tables

    docs = load_tables(spark, src_sf, ("documents",), register_views=False)[
        "documents"
    ]
    n_ids = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = []
    for i in range(n):
        rot = _copy_cipher(i, n)
        copies.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * n_ids)).alias("doc_id"),
                F.translate("text", _ALNUM, rot).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def build_misc_x10(spark, src_sf: str, n: int = 10,
                   out_dir: str = MISC_X10_DIR,
                   tables: tuple = ("lineitem", "embeddings",
                                    "customer")) -> None:
    """x10 tier for the graph/linear-algebra/linkage heavies.

    lineitem: shift l_orderkey AND l_partkey per copy — each copy's
    co-purchase graph is an exact isomorphic replica disjoint from
    the others, so edges and triangles are exactly 10x. embeddings:
    shift vec_id (Gram accumulation is row-linear; identical vectors
    are fine). customer: shift c_custkey and apply the per-copy
    [a-z0-9] cipher to c_name — a per-char bijection preserves
    within-copy edit-distance structure exactly while cross-copy
    names share no delete-variants, so blocked pair counts are 10x,
    not 100x."""
    from pyspark.sql import functions as F

    from aws_de_final_project_spark.sources.registry import load_tables

    t = load_tables(spark, src_sf, tables, register_views=False)
    os.makedirs(out_dir, exist_ok=True)

    if "lineitem" in tables:
        li = t["lineitem"]
        n_ord = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
        n_part = li.agg(F.max("l_partkey")).collect()[0][0] + 1
        li_cols = [
            c for c in li.columns if c not in ("l_orderkey", "l_partkey")
        ]
        copies = [
            li.select(
                (F.col("l_orderkey") + F.lit(i * n_ord)).alias(
                    "l_orderkey"
                ),
                (F.col("l_partkey") + F.lit(i * n_part)).alias(
                    "l_partkey"
                ),
                *li_cols,
            )
            for i in range(n)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, "lineitem.parquet")
        )

    if "embeddings" not in tables:
        return
    em = t["embeddings"]
    n_vec = em.agg(F.max("vec_id")).collect()[0][0] + 1
    em_cols = [c for c in em.columns if c != "vec_id"]
    copies = [
        em.select(
            (F.col("vec_id") + F.lit(i * n_vec)).alias("vec_id"), *em_cols
        )
        for i in range(n)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )

    if "customer" not in tables:
        return
    cu = t["customer"]
    n_cust = cu.agg(F.max("c_custkey")).collect()[0][0] + 1
    cu_cols = [c for c in cu.columns if c not in ("c_custkey", "c_name")]
    copies = [
        cu.select(
            (F.col("c_custkey") + F.lit(i * n_cust)).alias("c_custkey"),
            F.translate(
                "c_name", _ALNUM, _ALNUM[i % 36:] + _ALNUM[: i % 36]
            ).alias("c_name"),
            *cu_cols,
        )
        for i in range(n)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(8).write.mode("overwrite").parquet(
        os.path.join(out_dir, "customer.parquet")
    )


def build_x10(spark, src_sf: str) -> None:
    from pyspark.sql import functions as F

    from aws_de_final_project_spark.sources.registry import load_tables

    ev = load_tables(spark, src_sf, ("events",), register_views=False)[
        "events"
    ]
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    span_us = int((hi - lo).total_seconds() * 1_000_000) + 3_600_000_000
    n_ids = ev.agg(F.max("event_id")).collect()[0][0] + 1
    copies = [
        ev.select(
            (F.col("event_id") + F.lit(i * n_ids)).alias("event_id"),
            (
                F.col("ts")
                + F.expr(f"INTERVAL {i * span_us} MICROSECONDS")
            ).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        for i in range(10)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    os.makedirs(X10_DIR, exist_ok=True)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(X10_DIR, "events.parquet")
    )


def main() -> None:
    # The x30 misc tier holds two generations of localCheckpoint
    # blocks (90M-edge canonical + oriented frames) in the SAME heap
    # the 32 task threads compute in — 16g OOMs marginally depending
    # on how much of the previous query's block cleanup has run.
    # The probe box has 128 GiB; size the probe JVM for its biggest
    # tier instead of timing GC-thrash. (Engine defaults unchanged —
    # this is probe-process-only.)
    # (x100 triangle holds ~3.3x the x30 checkpoint blocks: 72g)
    os.environ.setdefault("SPARK_DRIVER_MEM", "72g")

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from aws_de_final_project_spark.session import get_spark

    # --only a,b,c restricts the probe to those queries and MERGES
    # the new rows into the existing SCALING_PROBE.json instead of
    # rebuilding the whole artifact (a full probe is ~45 min).
    only: set | None = None
    if len(sys.argv) > 2 and sys.argv[1] == "--only":
        only = set(sys.argv[2].split(","))
    ev_queries = probed("events", 10, only)
    doc_queries = probed("docs", 10, only)
    x30_queries = probed("docs", 30, only)
    misc_queries = probed("misc", 10, only)

    spark = get_spark()
    spark.range(10).count()
    if ev_queries and not os.path.exists(os.path.join(X10_DIR, "events.parquet")):
        build_x10(spark, "/root/testdata/sf0.1")
    # docs x10 uses the SAME cipher builder as x30 — the old vowel
    # rotation had only 5 distinct rotations, so copies i and i+5 were
    # exact cross-copy twins: 30k pairs over 50k docs vs the clean
    # 7.7k over 150k, which made decade-over-decade slopes compare
    # structurally different graphs
    if doc_queries and not os.path.exists(
        os.path.join(DOCS_X10_DIR, "documents.parquet")
    ):
        build_docs_xn(spark, "/root/testdata/sf0.1", 10, DOCS_X10_DIR)
    if misc_queries and not os.path.exists(
        os.path.join(MISC_X10_DIR, "customer.parquet")
    ):
        build_misc_x10(spark, "/root/testdata/sf0.1")

    def drive(df):
        df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns)))).collect()

    Q = E.queries()
    from bench import measure_action_overhead

    fixed = measure_action_overhead(spark)
    rows = []
    for name in ev_queries + doc_queries + misc_queries:
        if name in ev_queries:
            big = X10_DIR
        elif name in doc_queries:
            big = DOCS_X10_DIR
        else:
            big = MISC_X10_DIR
        tiers = {
            "sf0.01": "/root/testdata/sf0.01",
            "sf0.1": "/root/testdata/sf0.1",
            "x10": big,
        }
        row = {"query": name}
        for tier, d in tiers.items():
            # settle the JVM between tiers: the previous query's heap
            # churn (GBs at x10/x30) otherwise bleeds into this one's
            # wall-clock — measured 2-3x inflation on winnow when it
            # ran right after the span self-join (bench.py does the
            # same between trials)
            spark.sparkContext._jvm.System.gc()
            drive(Q[name](spark, d))  # cold/warmup
            reps = []
            for _ in range(3):
                t0 = time.perf_counter()
                drive(Q[name](spark, d))
                reps.append(time.perf_counter() - t0)
            # min-of-N: single-rep numbers swing 1.5-2x under GC /
            # page-cache noise at the big tiers (measured), which is
            # enough to fake a superlinear slope
            row[tier] = round(min(reps), 3)
        # slope net of the measured fixed action overhead; when both
        # tiers are within ~overhead of zero a single-shot ratio is
        # division noise — re-measure with a 10-action loop so the
        # variable cost is amplified 10x against the same per-action
        # overhead, and report the looped slope (non-null for every
        # probed entry, VERDICT r6 #3) with the loop factor recorded
        num = max(row["x10"] - fixed, 1e-3)
        den = max(row["sf0.1"] - fixed, 1e-3)
        if num < 0.25 and den < 0.25:
            loops = 10
            looped = {}
            for tier, d in (("sf0.1", tiers["sf0.1"]), ("x10", tiers["x10"])):
                spark.sparkContext._jvm.System.gc()
                drive(Q[name](spark, d))  # warmup
                reps = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    for _i in range(loops):
                        # REBUILD the frame each drive: re-driving one
                        # DataFrame object lets Spark skip still-
                        # materialized shuffle map stages on the
                        # identical lineage, so the loop would amplify
                        # only post-shuffle work and understate the
                        # slope for shuffle-bearing entries (ADVICE r7)
                        drive(Q[name](spark, d))
                    reps.append(time.perf_counter() - t0)
                looped[tier] = min(reps)
            # same floor both sides: asymmetric floors bias the ratio
            lnum = max(looped["x10"] - loops * fixed, 0.05)
            lden = max(looped["sf0.1"] - loops * fixed, 0.05)
            row["slope_x10_vs_sf0.1"] = round(lnum / lden, 2)
            row["slope_loop_factor"] = loops
            row["looped_sf0.1"] = round(looped["sf0.1"], 3)
            row["looped_x10"] = round(looped["x10"], 3)
        else:
            row["slope_x10_vs_sf0.1"] = round(num / den, 2)
        print(json.dumps(row))
        rows.append(row)

    # one more decade for the fastest-growing doc families: x30 vs
    # x10 is 3x data, so the linear expectation is
    # t30 ~= 3 * (t10 - fixed) + fixed; ratio_vs_linear > 1.2 means
    # superlinear growth was hiding between decades
    if x30_queries and not os.path.exists(
        os.path.join(X30_DIR, "documents.parquet")
    ):
        build_docs_xn(spark, "/root/testdata/sf0.1", 30, X30_DIR)
    by_name = {r["query"]: r for r in rows}
    for name in x30_queries:
        row = by_name[name]
        spark.sparkContext._jvm.System.gc()
        drive(Q[name](spark, X30_DIR))  # cold/warmup
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            drive(Q[name](spark, X30_DIR))
            reps.append(time.perf_counter() - t0)
        # report min (the structural cost), the median, AND the
        # spread: a ratio whose residual is attributed to JVM noise
        # must show the noise (VERDICT r6 #3 on containment's 1.85)
        reps.sort()
        row["x30"] = round(reps[0], 3)
        row["x30_median"] = round(reps[1], 3)
        row["x30_spread"] = [round(reps[0], 3), round(reps[-1], 3)]
        linear = 3.0 * max(row["x10"] - fixed, 1e-3)
        row["x30_ratio_vs_linear"] = round(
            max(row["x30"] - fixed, 1e-3) / linear, 2
        )
        row["x30_ratio_vs_linear_median"] = round(
            max(row["x30_median"] - fixed, 1e-3) / linear, 2
        )
        print(json.dumps({k: row[k] for k in
                          ("query", "x10", "x30", "x30_median",
                           "x30_ratio_vs_linear",
                           "x30_ratio_vs_linear_median")}))

    misc_x30 = probed("misc", 30, only)
    # the misc x30 loop needs the x10 row for the linear baseline
    misc_x30 = [q for q in misc_x30 if q in by_name]
    if misc_x30 and not os.path.exists(
        os.path.join(MISC_X30_DIR, "customer.parquet")
    ):
        build_misc_x10(spark, "/root/testdata/sf0.1", 30, MISC_X30_DIR)
    for name in misc_x30:
        row = by_name[name]
        spark.sparkContext._jvm.System.gc()
        drive(Q[name](spark, MISC_X30_DIR))  # cold/warmup
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            drive(Q[name](spark, MISC_X30_DIR))
            reps.append(time.perf_counter() - t0)
        reps.sort()
        row["x30"] = round(reps[0], 3)
        row["x30_median"] = round(reps[1], 3)
        row["x30_spread"] = [round(reps[0], 3), round(reps[-1], 3)]
        linear = 3.0 * max(row["x10"] - fixed, 1e-3)
        row["x30_ratio_vs_linear"] = round(
            max(row["x30"] - fixed, 1e-3) / linear, 2
        )
        row["x30_ratio_vs_linear_median"] = round(
            max(row["x30_median"] - fixed, 1e-3) / linear, 2
        )
        print(json.dumps({k: row[k] for k in
                          ("query", "x10", "x30", "x30_median",
                           "x30_ratio_vs_linear",
                           "x30_ratio_vs_linear_median")}))

    # round-8: x100 decade for the top-3 heavies — linear baseline is
    # the x30 row (t100 ~= (100/30)(t30 - fixed) + fixed). Only runs
    # for queries that have an x30 measurement this invocation.
    def measure_x100(name: str, d: str) -> None:
        row = by_name[name]
        if "x30" not in row:
            print(json.dumps({"query": name,
                              "x100": "skipped (no x30 baseline)"}))
            return
        spark.sparkContext._jvm.System.gc()
        drive(Q[name](spark, d))  # cold/warmup
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            drive(Q[name](spark, d))
            reps.append(time.perf_counter() - t0)
        reps.sort()
        row["x100"] = round(reps[0], 3)
        row["x100_median"] = round(reps[1], 3)
        row["x100_spread"] = [round(reps[0], 3), round(reps[-1], 3)]
        linear = (100.0 / 30.0) * max(row["x30"] - fixed, 1e-3)
        row["x100_ratio_vs_linear"] = round(
            max(row["x100"] - fixed, 1e-3) / linear, 2
        )
        row["x100_ratio_vs_linear_median"] = round(
            max(row["x100_median"] - fixed, 1e-3) / linear, 2
        )
        print(json.dumps({k: row[k] for k in
                          ("query", "x30", "x100", "x100_median",
                           "x100_ratio_vs_linear",
                           "x100_ratio_vs_linear_median")}))

    x100_docs = [q for q in probed("docs", 100, only) if q in by_name]
    if x100_docs and not os.path.exists(
        os.path.join(X100_DOCS_DIR, "documents.parquet")
    ):
        build_docs_xn(spark, "/root/testdata/sf0.1", 100, X100_DOCS_DIR)
    for name in x100_docs:
        measure_x100(name, X100_DOCS_DIR)

    x100_misc = [q for q in probed("misc", 100, only) if q in by_name]
    for table in ("lineitem", "embeddings"):
        if x100_misc and not os.path.exists(
            os.path.join(MISC_X100_DIR, f"{table}.parquet")
        ):
            build_misc_x10(spark, "/root/testdata/sf0.1", 100,
                           MISC_X100_DIR, tables=(table,))
    for name in x100_misc:
        measure_x100(name, MISC_X100_DIR)

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING_PROBE.json",
    )
    queries_map = by_name
    if only is not None and os.path.exists(out_path):
        with open(out_path) as fh:
            prior = json.load(fh)
        merged = prior.get("queries", {})
        merged.update(by_name)
        queries_map = merged
    artifact = {
        "note": (
            "warm wall-clock (s) at each tier; x10 events = 10 "
            "id+time-shifted copies; x10/x30 documents = 10/30 "
            "id-shifted copies each under a distinct [a-z0-9] Caesar "
            "cipher (bijective: within-copy dup structure exact, "
            "cross-copy shingle overlap nil, so pair counts scale "
            "linearly in copies); x10 misc = id-shifted lineitem/"
            "embeddings + ciphered customer copies (disjoint graphs/"
            "blocks per copy); x100 docs = 100 seeded-permutation "
            "cipher copies (Caesar aliases past 36), x100 misc = 100 "
            "id-shifted lineitem copies (60M rows); x100 linear "
            "baseline is the x30 row at 100/30; slopes are net of "
            "the measured fixed action overhead"
        ),
        "action_overhead_sec": fixed,
        "queries": queries_map,
    }
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
