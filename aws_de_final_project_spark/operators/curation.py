"""Training-corpus curation operators: benchmark decontamination and
deterministic mixture sampling.

These are the two pipeline steps every LLM pretraining run does after
dedup (reference scope: the AWS_DE_Final_Project pipeline stops at
ingest->clean->aggregate; these extend the same documents table the
dedup/quality operators already cover):

* :func:`decontaminate` — flag documents sharing any word-n-gram with
  a benchmark/eval set (the GPT-3/Llama "13-gram overlap" rule,
  parameterized). Scale shape: shingles are md5-hashed to 8-byte ints
  scan-side, the benchmark side is distinct-reduced and broadcast
  (eval sets are small by definition), and the probe is one
  broadcast-hash-join — the 100 TB corpus is never shuffled.
* :func:`mixture_sample` — deterministic per-group sampling to target
  mixture rates (e.g. downweight over-represented languages).
  Keep/drop is a pure hash of (salt, doc_id) — no RNG state, no
  ordering dependence, reproducible across runs/partitionings, and
  portable (md5) so the oracle can replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_de_final_project_spark.functions.numeric import round_half_up as rnd
from aws_de_final_project_spark.operators.dedup import _shingle_sets
from aws_de_final_project_spark.operators.util import cut, release, spread


def _md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint — bit-identical
    in DuckDB (('0x' || substr(md5(x),1,15))::BIGINT), unlike
    xxhash64."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
) -> DataFrame:
    """Per-document benchmark-overlap report: how many of the doc's
    distinct word-``ngram`` shingles appear anywhere in ``benchmark``.

    Output: (id_col, n_shingles, n_hits, hit_frac 4dp,
    contaminated = any hit). Shingling/normalization matches the
    dedup operators (same normalized_text -> word split -> n-gram
    slices), so "shares a 5-gram with the eval set" means the same
    thing as "near-dup" does elsewhere in the engine.

    Scale: doc shingles go md5->bigint while still scan-local (~8 B
    each instead of ~40 B strings); the benchmark's distinct hash set
    is broadcast; the count is a map-side broadcast join + partial
    agg on id. No full-corpus shuffle, no cross join.
    """
    # explode_outer + a post-generate null filter instead of a plain
    # explode: InferFiltersFromGenerate would infer `size(_words) > 0`
    # for an inner explode and — because `_words` is a computed
    # expression, not a stored column — substitute the ENTIRE shingle
    # pipeline into that Filter, which then pushes below the spread
    # repartition onto the (possibly single-partition) pre-spread side.
    # Measured at sf0.1: a 4.9 s single-task stage re-shingling the
    # whole corpus serially before the 32-way shingle projection ran
    # again. The outer generate infers nothing; the cheap IsNotNull on
    # the generated column drops the same empty-set rows.
    doc_sh = (
        _shingle_sets(spread(docs), text_col, id_col, ngram)
        .select("_id", F.explode_outer("_words").alias("_sh"))
        .filter(F.col("_sh").isNotNull())
        .select("_id", _md5_long(F.col("_sh")).alias("_h"))
    )
    bench_sh = F.broadcast(
        _shingle_sets(benchmark, text_col, id_col, ngram)
        .select(F.explode("_words").alias("_sh"))
        .select(_md5_long(F.col("_sh")).alias("_h"))
        .distinct()
    )
    # One corpus pass: mark each shingle via a broadcast LEFT join
    # (multiplicity 1 — both sides are distinct per key) and take
    # totals + hits from a single aggregate, instead of evaluating the
    # shingle subtree twice (semi-join hit counts + separate totals)
    # and outer-joining two aggregates back together.
    marked = doc_sh.join(
        bench_sh.withColumn("_hit", F.lit(1)), "_h", "left"
    )
    report = marked.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("_hit").alias("n_hits"),
    )
    return report.select(
        F.col("_id").alias(id_col),
        "n_shingles",
        "n_hits",
        rnd(
            F.col("n_hits") / F.col("n_shingles").cast("double"), 4
        ).alias("hit_frac"),
        (F.col("n_hits") > 0).alias("contaminated"),
    )


#: Default Bloom geometry: 2^23 bits (1 MiB mask) x 3 hash functions.
#: At 10 bits per element that holds ~800k benchmark shingles under
#: ~1% false positives; FP rate = (set_bits / m)^k, with NO false
#: negatives ever.
BLOOM_M_BITS = 1 << 23
BLOOM_K = 3


def bloom_positions(
    col: Column, k: int = BLOOM_K, m_bits: int = BLOOM_M_BITS
) -> Column:
    """The ``k`` Bloom bit positions of a shingle as array<int>:
    position_i = md5_60('b{i}:' || shingle) mod m. Same portable md5
    family as every hash in this module — DuckDB replays it
    bit-identically, so the Bloom verdicts are FULL-oracle-checkable
    (unlike an engine-internal bloom_filter_agg sketch)."""
    return F.array(
        *[
            F.pmod(
                _md5_long(F.concat(F.lit(f"b{i}:"), col)), F.lit(m_bits)
            ).cast("int")
            for i in range(k)
        ]
    )


def bloom_build_mask(
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
    k: int = BLOOM_K,
    m_bits: int = BLOOM_M_BITS,
) -> bytes:
    """Build the benchmark's Bloom bitmask: shingle -> k positions
    (computed scan-side in the JVM), one distinct-reduce, and a
    bounded collect into an m/8-byte numpy bitmask.

    The collect is the POINT, not a compromise: distinct positions are
    capped at ``m_bits`` (2^23 ~ 8.4M at the default) regardless of
    benchmark size, and the returned mask is m/8 bytes (1 MiB) —
    versus an 8-byte-per-shingle exact hash set that grows without
    bound. A 10M-shingle eval suite is an 80 MB broadcast exact but
    still 1 MiB as a Bloom; that compression is what makes
    decontamination against a large benchmark family viable on every
    executor at 100 TB. The positions stream through
    ``toLocalIterator`` partition-by-partition, so even a saturated
    mask (all 8.4M positions distinct) never materializes the full
    Row list on the driver — peak driver overhead is one partition.
    """
    import numpy as np

    sh = _shingle_sets(benchmark, text_col, id_col, ngram).select(
        F.explode("_words").alias("_sh")
    )
    pos = sh.select(
        F.explode(bloom_positions(F.col("_sh"), k, m_bits)).alias("p")
    ).distinct()
    arr = np.fromiter(
        (r.p for r in pos.toLocalIterator()), dtype=np.int64
    )
    mask = np.zeros(m_bits // 8, dtype=np.uint8)
    if arr.size:
        np.bitwise_or.at(
            mask, arr >> 3, (1 << (arr & 7)).astype(np.uint8)
        )
    return mask.tobytes()


def bloom_decontaminate(
    docs: DataFrame,
    mask: bytes,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
    k: int = BLOOM_K,
    m_bits: int = BLOOM_M_BITS,
) -> DataFrame:
    """Probe every document's shingles against a benchmark Bloom mask
    (:func:`bloom_build_mask`): a shingle "hits" iff ALL ``k`` of its
    bit positions are set. Output: (id, n_shingles, n_bloom_hits,
    flagged). One-sided by construction — every truly contaminated
    shingle hits (no false negatives), a clean one false-positives at
    ~(set_bits/m)^k — so ``flagged`` is a superset of
    :func:`decontaminate`'s ``contaminated`` and safe as a DROP rule.

    Scale shape: shingling and the k md5 positions stay in the scan
    stage (JVM codegen); the only Python is a vectorized numpy
    BIT-TEST over Arrow batches against the broadcast 1 MiB mask —
    no join node, no corpus shuffle, nothing driver-side. This is the
    documented Arrow-kernel exception pattern (similarity.py BLAS,
    multimodal codecs): the built-ins can express set-membership joins
    but not membership in an 8-million-bit broadcast bitmask.
    """
    import pandas as pd  # noqa: F401  (kernel-local import below)

    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(mask)
    feats = _shingle_sets(spread(docs), text_col, id_col, ngram).select(
        F.col("_id"),
        F.size("_words").cast("long").alias("n_shingles"),
        F.flatten(
            F.transform(
                "_words", lambda w: bloom_positions(w, k, m_bits)
            )
        ).alias("_pos"),
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        m = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            lens = np.fromiter(
                (len(x) for x in pdf["_pos"]), dtype=np.int64, count=n
            )
            total = int(lens.sum())
            hits = np.zeros(n, dtype=np.int64)
            if total:
                flat = np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in pdf["_pos"]]
                )
                bits = (m[flat >> 3] >> (flat & 7)) & 1
                ok = bits.reshape(-1, k).all(axis=1)
                sh_lens = lens // k
                nz = sh_lens > 0
                offs = np.concatenate(
                    ([0], np.cumsum(sh_lens)[:-1])
                )[nz]
                if offs.size:
                    hits[nz] = np.add.reduceat(
                        ok.astype(np.int64), offs
                    )
            yield pd.DataFrame(
                {
                    id_col: pdf["_id"],
                    "n_shingles": pdf["n_shingles"],
                    "n_bloom_hits": hits,
                    "flagged": hits > 0,
                }
            )

    schema = (
        f"{id_col} long, n_shingles long, n_bloom_hits long, "
        "flagged boolean"
    )
    return feats.mapInPandas(kernel, schema)


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix1",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic mixture sampling: keep each row with probability
    ``rates[group]`` (fallback ``default_rate``), decided by a pure
    hash of (salt, id) — u = md5_60(salt ':' id) % 1e6 < rate * 1e6.

    Rows, not RNG draws: the same (salt, id) always gets the same
    verdict, independent of partitioning, task retries, or row order —
    the property a 1000-executor sampling job needs for exactly-once
    semantics under speculative execution. Changing ``salt`` redraws
    the sample. ``rates`` ships as a literal CASE chain (groups are
    few by construction: langs, sources, buckets).

    A production run derives ``rates`` from a per-group token-count
    aggregate vs the target mixture; that aggregate is one groupBy —
    kept out of this operator so sampling stays a zero-job transform.
    """
    u = _md5_long(
        F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
    ) % 1_000_000
    rate = None
    for g, r in sorted(rates.items()):
        cond = F.col(group_col) == g
        rate = (
            F.when(cond, F.lit(float(r)))
            if rate is None
            else rate.when(cond, F.lit(float(r)))
        )
    rate_col = (
        rate.otherwise(F.lit(float(default_rate)))
        if rate is not None
        else F.lit(float(default_rate))
    )
    return docs.filter(u < (rate_col * 1_000_000).cast("long"))


def quantile_quality_filter(
    docs: DataFrame,
    group_col: str = "source",
    q: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Keep each group's top-(1-q) fraction of documents by quality
    score — the per-source percentile gate every curation pipeline
    runs after scoring (e.g. "drop the worst half of each crawl").

    Scale shape: the threshold comes from ONE per-group exact
    ``percentile`` aggregate (|groups| rows — tiny), broadcast-joined
    back, then a scan-stage filter. The tempting alternative — a
    ``percent_rank`` window partitioned by group — would funnel each
    group's entire 100 TB share through a single partition; the
    aggregate+broadcast form keeps the big side embarrassingly
    parallel. Both engines interpolate percentiles identically
    (Spark ``percentile`` / DuckDB ``quantile_cont``), and the score
    itself is 4dp-rounded before comparison, so the boundary is
    hash-stable cross-engine.

    Ref parity note: the reference has no curation stage at all
    (its Glue job only derives date parts —
    ``Glue Script/process_crime_data.py:19-41``); this belongs to the
    training-data extension surface.
    """
    from aws_de_final_project_spark.functions.text import quality_score

    scored = spread(docs).select(
        F.col("doc_id"),
        F.col(group_col),
        quality_score(text_col).alias("quality"),
    )
    thresholds = scored.groupBy(group_col).agg(
        F.percentile("quality", F.lit(float(q))).alias("_thr")
    )
    return (
        scored.join(F.broadcast(thresholds), group_col)
        .filter(F.col("quality") >= F.col("_thr"))
        .select("doc_id", group_col, "quality")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    stratum_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "aes1",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-ES): keep the ``k`` items per stratum with
    the largest key u^(1/w), where u is a uniform derived from the
    md5 of (salt, id). Inclusion probability is proportional to
    weight, the selection is reproducible across engines, runs, and
    partitionings (no RNG state), and changing ``salt`` redraws the
    sample.

    Ranking uses the monotone-equivalent key ln(u)/w (u in (0,1) so
    ln(u) < 0; larger weight pulls the key toward 0): one window per
    stratum, no global sort. ln may differ by an ulp between engines,
    but keys of distinct items differ by ~1/n -- ordering is stable,
    which is why the key itself is not part of the output contract.

    Scale: one shuffle on the stratum key. A stratum's candidate set
    streams through its window partition; for very hot strata compose
    with a pre-filter (e.g. per-partition local top-(k + slack) via
    the same key) before the global window -- top-k is an associative
    selection so the composition is lossless.
    """
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(salt), F.col(id_col).cast("string")
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("double")
            + F.lit(0.5)
        )
        / F.lit(float(1 << 52))
    )
    key = F.log(u) / F.col(weight_col).cast("double")
    from pyspark.sql.window import Window

    part = [stratum_col] if stratum_col else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy(
        F.desc("_aes_key"), F.asc(id_col)
    )
    out_cols = ([stratum_col] if stratum_col else []) + [id_col, weight_col]
    return (
        spread(df)
        .withColumn("_aes_key", key)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(*out_cols)
    )


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    out_dir: str,
    quality_q: float = 0.5,
    max_hit_frac: float = 0.0,
    shard_budget: int = 2000,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> dict:
    """The whole training-data curation pipeline as one call, in the
    canonical order a production corpus build runs it:

      1. exact dedup (first-id-wins fingerprint groups),
      2. per-source quality gate (keep each source's top (1-q)
         quantile of the 4dp quality score),
      3. benchmark decontamination (drop docs whose word-5-gram
         overlap with the eval set exceeds ``max_hit_frac``),
      4. token-budget-balanced shard export with manifest.

    Every stage is one of the individually-oracled operators — the
    composition adds no new math, just the stage ordering (dedup
    before quality so near-identical copies don't vote on the
    quantile thresholds; decontaminate after the gates so the
    broadcast shingle join runs on the smallest surviving set).

    Returns the export manifest plus per-stage survivor counts (each
    count is one action over an already-needed frame, and fills that
    stage's cut). Each cut is released once the next stage's cut is
    filled, so the call leaves no persisted frame behind.
    """
    from aws_de_final_project_spark.operators.dedup import exact_dedup
    from aws_de_final_project_spark.operators.segments import (
        write_token_shards,
    )

    stage_counts = {"input": docs.count()}
    deduped = cut(exact_dedup(docs, text_col, id_col))
    stage_counts["after_exact_dedup"] = deduped.count()

    gated_ids = quantile_quality_filter(
        deduped, group_col=group_col, q=quality_q
    ).select(id_col)
    gated = cut(deduped.join(gated_ids, id_col, "left_semi"))
    stage_counts["after_quality_gate"] = gated.count()
    release(deduped)

    overlap = decontaminate(gated, benchmark, text_col, id_col)
    clean_ids = overlap.filter(
        F.col("hit_frac") <= F.lit(float(max_hit_frac))
    ).select(id_col)
    clean = cut(gated.join(clean_ids, id_col, "left_semi"))
    stage_counts["after_decontamination"] = clean.count()
    release(gated)

    manifest = write_token_shards(
        clean, out_dir, id_col, text_col, budget=shard_budget
    )
    release(clean)
    return {"stages": stage_counts, "manifest": manifest}


def heavy_hitter_keys(
    df: DataFrame,
    key_col: str,
    support: float,
    n_counters: int | None = None,
) -> DataFrame:
    """EXACT heavy hitters — every key with ``count > support * N`` —
    in two scans and **no full-key shuffle** (Misra-Gries partial
    summaries, Agarwal et al. "Mergeable Summaries", PODS'12).

    The naive plan (``groupBy(key).count().filter(...)``) shuffles one
    row per *distinct key*. Over 100 TB of tokens/URLs/fingerprints
    that key cardinality is billions — the shuffle dwarfs the answer
    (a handful of frequent keys). Two-pass shape instead:

    1. **Candidates**: each partition keeps a Misra-Gries summary of
       ``k = n_counters`` counters (vectorized per Arrow batch:
       exact ``value_counts`` merged into the summary, pruned by
       subtracting the (k+1)-th largest count). Guarantee: a key with
       global count ``> N/k`` survives in at least one partition's
       summary (local undercount is ``<= n_p/k``; the deficits sum to
       ``<= N/k < count``), so with ``k >= 1/support`` the union of
       partition summaries is a *superset* of every answer key. Output
       is ``<= k`` keys per partition — tiny.
    2. **Exact recount**: broadcast-semi-join the candidates back and
       aggregate only matching rows. Map-side partial aggregation
       collapses each partition to ``<= k`` rows pre-shuffle, so the
       shuffle is O(k * partitions), independent of key cardinality.
       The final ``count > support * N`` filter discards superset
       noise — the output is exactly the brute-force answer.

    NULL keys are excluded (SQL GROUP BY would keep them; a heavy
    NULL is a data-quality signal, not a heavy hitter — count them
    with a DQ check instead). Returns ``(key_col, cnt)``.
    """
    if not (0.0 < support < 1.0):
        raise ValueError(f"support must be in (0, 1), got {support}")
    k = n_counters if n_counters is not None else int(2.0 / support) + 1
    if k < int(1.0 / support):
        raise ValueError(
            f"n_counters={k} breaks the superset guarantee for "
            f"support={support} (need >= {int(1.0 / support)})"
        )
    key_type = dict(df.dtypes)[key_col]

    def mg_partition(batches):
        import pandas as pd

        acc = None
        for pdf in batches:
            s = pdf[key_col].value_counts()  # exact, NaN dropped
            acc = s if acc is None else acc.add(s, fill_value=0)
            if len(acc) > k:
                cut = acc.nlargest(k + 1).iloc[-1]
                acc = acc - cut
                acc = acc[acc > 0]
        if acc is not None and len(acc):
            yield pd.DataFrame({key_col: acc.index})

    keyed = spread(df.select(key_col).where(F.col(key_col).isNotNull()))
    cands = keyed.mapInPandas(
        mg_partition, schema=f"{key_col} {key_type}"
    ).distinct()
    counts = (
        keyed.join(F.broadcast(cands), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = keyed.agg(F.count(F.lit(1)).alias("_n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt").cast("double") > F.lit(support) * F.col("_n"))
        .drop("_n")
    )


def mixture_plan_rates(
    avail: DataFrame,
    budget,
    group_col: str = "source",
    avail_col: str = "avail_tokens",
    weight_col: str = "target_weight",
    decimals: int = 6,
) -> DataFrame:
    """The planner that derives :func:`mixture_sample`'s rates: given
    per-source available token counts, target mixture weights (sum 1,
    each > 0), and a total token budget, compute the achievable
    per-source take and sampling rate by WATER-FILLING — a source
    whose target share exceeds its supply is capped at its supply and
    its deficit is redistributed to the uncapped sources in proportion
    to their weights (the standard max-min fair allocation).

    Fully relational — no driver loop: sources sorted by
    ``ratio = avail/weight`` ascending saturate in that order, so the
    capped set is a PREFIX of the sort and one monotone predicate per
    row selects it exactly:
    ``ratio·(totW − prefW) <= budget − prefA`` (prefix sums exclude
    the current row). The water level is then
    ``λ = (budget − Σ_capped avail) / (totW − Σ_capped weight)`` and
    ``take = avail`` if capped else ``weight·λ``. Conservation
    (Σ take = min(budget, Σ avail)) and rate ∈ [0, 1] are property-
    pinned in tests/test_curation.py against a numpy reference.

    The frame is ONE ROW PER SOURCE (mixture sources are inherently
    few), so the single-partition windows are driver-cheap by
    construction — the data-sized work is the upstream count
    aggregate the caller runs.

    ``budget`` may be a float or a Column evaluated against the
    aggregated frame (e.g. ``floor(0.6 * sum(avail) over ())`` for a
    fraction-of-corpus budget). Determinism note: with integer avails
    and binary-fraction weights every prefix/total sum is exact, so
    the capped set and λ replay bit-identically in the DuckDB twin.
    """
    from pyspark.sql.window import Window

    ga = F.col(avail_col).cast("double")
    gw = F.col(weight_col).cast("double")
    b = budget if isinstance(budget, Column) else F.lit(float(budget))
    whole = (
        Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    base = avail.select(
        group_col,
        avail_col,
        weight_col,
        b.cast("double").alias("_budget"),
        (ga / gw).alias("_ratio"),
    )
    prev = Window.orderBy("_ratio", group_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    s2 = base.select(
        "*",
        F.coalesce(F.sum(ga).over(prev), F.lit(0.0)).alias("_prefA"),
        F.coalesce(F.sum(gw).over(prev), F.lit(0.0)).alias("_prefW"),
        F.sum(gw).over(whole).alias("_totW"),
    )
    s3 = s2.select(
        "*",
        (
            F.col("_ratio") * (F.col("_totW") - F.col("_prefW"))
            <= F.col("_budget") - F.col("_prefA")
        ).alias("capped"),
    )
    s4 = s3.select(
        "*",
        F.sum(F.when(F.col("capped"), ga).otherwise(F.lit(0.0)))
        .over(whole)
        .alias("_cappedA"),
        F.sum(F.when(F.col("capped"), gw).otherwise(F.lit(0.0)))
        .over(whole)
        .alias("_cappedW"),
    )
    lam = (F.col("_budget") - F.col("_cappedA")) / (
        F.col("_totW") - F.col("_cappedW")
    )
    take = F.when(F.col("capped"), ga).otherwise(gw * lam)
    rate = F.when(ga > 0, take / ga).otherwise(F.lit(0.0))
    return s4.select(
        group_col,
        F.col(avail_col).cast("long").alias(avail_col),
        weight_col,
        rnd(take, 4).alias("take_tokens"),
        rnd(rate, decimals).alias("rate"),
        "capped",
    ).orderBy(group_col)


def fluency_buckets(
    scores: DataFrame,
    score_col: str,
    group_col: str,
    id_col: str,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet-style per-group fluency bucketing (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data"): split each group's documents into len(labels)
    equal-population buckets by a fluency score (higher = better),
    the head/middle/tail partition CCNet cuts on per-language LM
    perplexity so downstream training can sample buckets at different
    rates (no curation stage exists in the reference —
    zcauchon/AWS_DE_Final_Project ships only the Glue date-derivation
    ETL; training-data extension surface).

    Bucketing is DETERMINISTIC INTEGER RANK, not percentile
    interpolation: a document lands in bucket i (0 = best) when the
    count of STRICTLY better-scoring documents in its group has
    reached ceil(n*i/b) but not ceil(n*(i+1)/b). All ties share one
    bucket (the best one the tied score qualifies for), so the split
    is reproducible across engines bit-for-bit — no cross-engine
    quantile-interpolation arithmetic to drift at a boundary ulp
    (the r9-advice failure class). Feed it 4dp-quantized scores.

    Scale shape: one hash aggregate builds the (group, score)
    HISTOGRAM — its row count is bounded by distinct quantized scores
    per group (a few 10^5 at 4dp), NOT by corpus size — so the
    cumulative window runs over the tiny histogram and the per-doc
    bucket arrives by a broadcast join back on (group, score). The
    tempting percent_rank window over raw documents would funnel each
    group's whole 100 TB share through one partition; this never
    touches a per-doc sort.
    """
    b = len(labels)
    if b < 2:
        raise ValueError("need at least 2 bucket labels")
    from pyspark.sql.window import Window

    hist = spread(scores).groupBy(group_col, score_col).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.desc(score_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = hist.groupBy(group_col).agg(F.sum("_cnt").alias("_n"))
    ranked = hist.select(
        group_col,
        score_col,
        F.coalesce(F.sum("_cnt").over(w), F.lit(0)).alias("_gt"),
    ).join(F.broadcast(totals), group_col)
    # bucket index = number of boundaries ceil(n*i/b) already passed
    # by the strictly-better count; integer arithmetic is exact in
    # doubles far past any real corpus size (n*i < 2^53)
    idx = None
    for i in range(1, b):
        passed = (
            F.col("_gt")
            >= F.floor((F.col("_n") * i + (b - 1)) / F.lit(b)).cast("long")
        ).cast("int")
        idx = passed if idx is None else idx + passed
    lab = F.array(*[F.lit(x) for x in labels])
    buckets = ranked.select(
        group_col,
        score_col,
        F.element_at(lab, idx + 1).alias("bucket"),
    )
    return scores.join(F.broadcast(buckets), [group_col, score_col]).select(
        id_col, group_col, score_col, "bucket"
    )
