"""Curation operator tests: benchmark decontamination and
deterministic mixture sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_de_final_project_spark.operators import curation
from aws_de_final_project_spark.operators import webcrawl as WC
from aws_de_final_project_spark.functions import text as TX
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_decontaminate_flags_planted_overlap(spark):
    bench = _docs(
        spark, [(100, "the quick brown fox jumps over the lazy dog", "en")]
    )
    docs = _docs(
        spark,
        [
            # contains the benchmark 5-gram "the quick brown fox jumps"
            (1, "intro text the quick brown fox jumps away today", "en"),
            # shares words but no 5-gram
            (2, "quick dog brown lazy fox the over jumps spread out", "en"),
            (3, "completely unrelated sentence about spark engines", "en"),
        ],
    )
    out = {
        r.doc_id: r
        for r in curation.decontaminate(docs, bench, ngram=5).collect()
    }
    assert out[1].contaminated and out[1].n_hits >= 1
    assert not out[2].contaminated and out[2].n_hits == 0
    assert not out[3].contaminated
    for r in out.values():
        assert r.n_shingles >= 1 and 0.0 <= r.hit_frac <= 1.0


def test_decontaminate_short_doc_whole_shingle(spark):
    """Docs shorter than the n-gram collapse to one whole-doc shingle
    (same rule as the dedup shinglers) — an exact short match is
    caught, a different short doc is not."""
    bench = _docs(spark, [(100, "tiny doc", "en")])
    docs = _docs(spark, [(1, "tiny doc", "en"), (2, "other doc", "en")])
    out = {
        r.doc_id: r
        for r in curation.decontaminate(docs, bench, ngram=5).collect()
    }
    assert out[1].contaminated and out[1].n_shingles == 1
    assert not out[2].contaminated


def test_bloom_decontaminate_no_false_negatives(spark):
    """The contract that makes a Bloom verdict usable as a DROP rule:
    every exactly-contaminated doc is flagged (no false negatives),
    hit counts bound the exact counts from above, and on this planted
    fixture the big default mask has no false positives either."""
    bench = _docs(
        spark, [(100, "the quick brown fox jumps over the lazy dog", "en")]
    )
    docs = _docs(
        spark,
        [
            (1, "intro text the quick brown fox jumps away today", "en"),
            (2, "quick dog brown lazy fox the over jumps spread out", "en"),
            (3, "completely unrelated sentence about spark engines", "en"),
        ],
    )
    exact = {
        r.doc_id: r
        for r in curation.decontaminate(docs, bench, ngram=5).collect()
    }
    mask = curation.bloom_build_mask(bench, ngram=5)
    bloom = {
        r.doc_id: r
        for r in curation.bloom_decontaminate(docs, mask, ngram=5).collect()
    }
    assert set(bloom) == set(exact)
    for did, e in exact.items():
        b = bloom[did]
        assert b.n_shingles == e.n_shingles
        assert b.n_bloom_hits >= e.n_hits  # one-sided error only
        if e.contaminated:
            assert b.flagged
    # 2^23 bits vs ~6 set shingles: FP chance ~(18/8.4M)^3 — none here
    assert bloom[2].n_bloom_hits == exact[2].n_hits == 0
    assert not bloom[3].flagged


def test_bloom_mask_bits_match_python_md5(spark):
    """Cross-implementation pin: the mask bits Spark sets are exactly
    the md5-derived positions recomputed in pure Python, and nothing
    else is set."""
    import hashlib

    bench = _docs(spark, [(100, "a b c d e f", "en")])
    mask = curation.bloom_build_mask(bench, ngram=5)
    # shingles of the 6-word doc at ngram=5: two sliding windows
    shingles = ["a b c d e", "b c d e f"]
    want = set()
    for sh in shingles:
        for i in range(curation.BLOOM_K):
            h = hashlib.md5(f"b{i}:{sh}".encode()).hexdigest()
            want.add(int(h[:15], 16) % curation.BLOOM_M_BITS)
    got = {
        byte_i * 8 + bit
        for byte_i, byte in enumerate(mask)
        if byte
        for bit in range(8)
        if byte >> bit & 1
    }
    assert got == want


def test_bloom_saturated_mask_flags_everything(spark):
    """Degenerate geometry (m=8 bits) saturates: every probe hits —
    the false-positive direction is still one-sided (flag, never
    miss), and the kernel handles the tiny-mask path."""
    docs = _docs(spark, [(1, "totally different words here now", "en")])
    mask = bytes([0xFF])  # all 8 bits set — every probe must hit
    out = curation.bloom_decontaminate(
        docs, mask, ngram=5, m_bits=8
    ).collect()[0]
    assert out.flagged and out.n_bloom_hits == out.n_shingles


def test_bloom_probe_plan_has_no_join_or_exchange(spark):
    """The probe is scan-side + Arrow kernel: no join node, no keyed
    shuffle of the document side. (The only exchange allowed is
    spread()'s round-robin fan-out, which is a no-op at scale — it
    fires only below defaultParallelism.)"""
    docs = _docs(spark, [(1, "some text for the plan check", "en")])
    mask = bytes(curation.BLOOM_M_BITS // 8)
    plan = (
        curation.bloom_decontaminate(docs, mask)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "HashPartitioning" not in plan
    assert "RangePartitioning" not in plan


def test_bloom_mask_or_equals_union_mask(spark):
    """mask(A) | mask(B) == mask(A ∪ B) byte-for-byte — the contract
    that lets a new eval set fold into the decontamination registry
    without rebuilding history."""
    import numpy as np

    a = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta", "en")])
    b = _docs(spark, [(2, "one two three four five six seven", "en")])
    u = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta", "en"),
            (2, "one two three four five six seven", "en"),
        ],
    )
    ma = curation.bloom_build_mask(a, ngram=5)
    mb = curation.bloom_build_mask(b, ngram=5)
    mu = curation.bloom_build_mask(u, ngram=5)
    merged = (
        np.frombuffer(ma, np.uint8) | np.frombuffer(mb, np.uint8)
    ).tobytes()
    assert merged == mu


def test_cap_docs_per_host(spark):
    """Per-domain cap keeps the K lowest ids, messy URL variants of
    one host collapse first, and the only keyed exchange is the
    domain window."""
    rows = [(i, f"http://{'a' if i % 2 else 'B'}.com/x/{i}") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = WC.cap_docs_per_host(df, "url", "doc_id", 2)
    got = sorted((r.domain, r.rank_in_host, r.doc_id) for r in out.collect())
    assert got == [
        ("a.com", 1, 1),
        ("a.com", 2, 3),
        ("b.com", 1, 0),
        ("b.com", 2, 2),
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "domain#" in line, line


def test_bpe_pair_counts_match_python(spark, tmp_path):
    """BPE merge-candidate counting equals a pure-Python reference on
    a tiny corpus (corpus-weighted adjacent char pairs over the
    normalized vocabulary, len-1 words excluded)."""
    import collections
    import re

    from aws_de_final_project_spark.plans.extensions import (
        bpe_merge_candidates,
    )

    texts = ["the cat sat", "the cat ran", "a bat sat"]
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, t, "en", len(t), "src0") for i, t in enumerate(texts)],
        ["doc_id", "text", "lang", "n_chars", "source"],
    ).write.parquet(d + "/documents.parquet")

    want: collections.Counter = collections.Counter()
    vocab: collections.Counter = collections.Counter()
    for t in texts:
        norm = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9]+", " ", t.lower())).strip()
        for w in norm.split(" "):
            if len(w) >= 2:
                vocab[w] += 1
    for w, c in vocab.items():
        for i in range(len(w) - 1):
            want[w[i : i + 2]] += c

    got = {
        r.pair: r.freq
        for r in bpe_merge_candidates(spark, d).collect()
    }
    assert got == dict(want)
    # 'at' appears in cat(x2) + sat(x2) + bat + ran? no — exactly 5
    assert got["at"] == 5


def test_mixture_sample_deterministic_and_partition_invariant(spark):
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("zh").alias("lang"),
    )
    rates = {"en": 0.25, "zh": 0.75}
    kept1 = {r.doc_id for r in curation.mixture_sample(docs, rates).collect()}
    kept2 = {
        r.doc_id
        for r in curation.mixture_sample(docs.repartition(13), rates).collect()
    }
    assert kept1 == kept2  # pure function of (salt, id) — no RNG state
    # rates are approximately honored (hash is uniform-ish)
    n_en = sum(1 for d in kept1 if d % 3 == 0)
    n_zh = len(kept1) - n_en
    assert 0.15 < n_en / (2000 / 3) < 0.35
    assert 0.65 < n_zh / (2000 * 2 / 3) < 0.85
    # a different salt redraws; a subset survives both draws
    kept3 = {
        r.doc_id
        for r in curation.mixture_sample(docs, rates, salt="mix2").collect()
    }
    assert kept3 != kept1


def test_mixture_sample_default_rate_keeps_unlisted_groups(spark):
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), F.lit("fr").alias("lang")
    )
    kept = curation.mixture_sample(docs, {"en": 0.1}).count()
    assert kept == 300  # default_rate=1.0 -> unlisted groups untouched
    none = curation.mixture_sample(
        docs, {"en": 0.1}, default_rate=0.0
    ).count()
    assert none == 0


def test_quantile_quality_filter_semantics_and_broadcast(spark):
    """Per-source median gate: every kept doc's quality >= its
    source's median; every source keeps at least half its docs
    (>= on an interpolated median can't drop more than half); and the
    threshold attaches via a BROADCAST join — the scale posture (no
    per-source window funneling a source's whole share through one
    partition)."""
    from pyspark.sql import functions as F

    from aws_de_final_project_spark.operators.curation import (
        quantile_quality_filter,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = quantile_quality_filter(docs, group_col="source", q=0.5)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    from aws_de_final_project_spark.functions.text import quality_score

    scored = docs.select(
        "doc_id", "source", quality_score("text").alias("q")
    )
    med = {
        r.source: r.m
        for r in scored.groupBy("source")
        .agg(F.percentile("q", F.lit(0.5)).alias("m"))
        .collect()
    }
    n_by_src = {r.source: r.n for r in scored.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
    kept_rows = kept.collect()
    assert all(r.quality >= med[r.source] for r in kept_rows)
    kept_by_src = {}
    for r in kept_rows:
        kept_by_src[r.source] = kept_by_src.get(r.source, 0) + 1
    for src, n in n_by_src.items():
        assert kept_by_src.get(src, 0) >= n // 2, (src, kept_by_src.get(src), n)


def test_weighted_sample_deterministic_across_partitionings(spark):
    from aws_de_final_project_spark.operators.curation import weighted_sample

    rows = [(i, "s%d" % (i % 3), float(1 + i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    a = weighted_sample(
        df.repartition(1), "w", k=5, stratum_col="source"
    ).collect()
    b = weighted_sample(
        df.repartition(17, "doc_id"), "w", k=5, stratum_col="source"
    ).collect()
    sa = sorted((r.source, r.doc_id) for r in a)
    sb = sorted((r.source, r.doc_id) for r in b)
    assert sa == sb and len(sa) == 15


def test_weighted_sample_prefers_heavy_items(spark):
    """Inclusion frequency tracks weight: over many salts, an item
    with 20x the weight of the rest is selected far more often."""
    from aws_de_final_project_spark.operators.curation import weighted_sample

    rows = [(i, 20.0 if i == 0 else 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    hits = 0
    n_salts = 12
    for s in range(n_salts):
        got = {
            r.doc_id
            for r in weighted_sample(df, "w", k=4, salt=f"t{s}").collect()
        }
        assert len(got) == 4
        hits += 0 in got
    # P(select doc0 | uniform) = 0.1; with w=20 vs 39 unit weights the
    # A-ES inclusion probability is ~0.8+ -- 12 salts clear 1/2 easily
    assert hits >= n_salts // 2, hits


def test_curate_corpus_end_to_end(spark, tmp_path):
    """One-call pipeline: dedup -> quality gate -> decontaminate ->
    shard export. Each stage's survivor set is checkable by
    construction: planted exact dups collapse, the contaminated doc
    (verbatim benchmark 5-gram) is dropped, counts are monotone, and
    the manifest totals match the survivors. The stage cuts are
    released: the call leaves no new persisted RDD behind."""
    from aws_de_final_project_spark.operators.curation import curate_corpus

    good = "the quiet library holds many well organized shelves of books "
    rows = []
    for i in range(40):
        rows.append((i, f"doc {i} " + good * 3 + f"tail {i}", "web"))
    rows.append((100, rows[0][1], "web"))  # exact dup of doc 0
    rows.append(
        (101, "contaminated doc contains the secret benchmark answer "
              "phrase exactly here " + good * 3, "web")
    )
    rows.append((102, "x", "web"))  # near-empty -> low quality
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(1, "the secret benchmark answer phrase exactly")],
        "doc_id long, text string",
    )
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs())
    out = curate_corpus(
        docs, bench, str(tmp_path / "corpus"),
        quality_q=0.05, shard_budget=500,
    )
    leaked = set(spark.sparkContext._jsc.getPersistentRDDs()) - persisted
    assert not leaked, leaked
    st = out["stages"]
    assert st["input"] == 43
    assert st["after_exact_dedup"] == 42  # dup 100 collapsed
    assert st["after_quality_gate"] < 42  # the near-empty doc gated
    assert st["after_decontamination"] == st["after_quality_gate"] - 1
    kept = spark.read.parquet(str(tmp_path / "corpus"))
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 101 not in ids and 100 not in ids and 102 not in ids
    assert sum(s["n_docs"] for s in out["manifest"]["shards"]) == len(ids)


def test_heavy_hitters_match_brute_force(spark):
    """Two-pass MG == groupBy/filter exactly, at two supports, and
    with n_counters forced to the guarantee floor (the tightest k
    where the superset theorem still holds)."""
    from aws_de_final_project_spark.operators.curation import heavy_hitter_keys
    from aws_de_final_project_spark.sources.registry import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001", ("documents",))
    toks = t["documents"].select(
        F.explode(F.split(TX.normalized_text("text"), " ")).alias("token")
    )
    n = toks.count()
    for support, k in ((0.003, None), (0.01, 101), (0.02, 51)):
        got = {
            (r["token"], r["cnt"])
            for r in heavy_hitter_keys(
                toks, "token", support, n_counters=k
            ).collect()
        }
        want = {
            (r["token"], r["cnt"])
            for r in toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") > support * n)
            .collect()
        }
        assert got == want, f"support={support} k={k}"
        assert got, f"support={support}: fixture should have stopword hitters"


def test_heavy_hitters_null_keys_and_validation(spark):
    from aws_de_final_project_spark.operators.curation import heavy_hitter_keys

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 2 + [(None,)] * 10, "k string"
    )
    out = heavy_hitter_keys(df, "k", support=0.5).collect()
    # N counts non-null rows only (8); a@6 > 4 qualifies, b@2 does not
    assert [(r["k"], r["cnt"]) for r in out] == [("a", 6)]
    with pytest.raises(ValueError):
        heavy_hitter_keys(df, "k", support=1.5)
    with pytest.raises(ValueError):
        heavy_hitter_keys(df, "k", support=0.01, n_counters=10)


def test_bigram_lm_scores_gibberish_below_natural_text(spark, tmp_path):
    """The bigram LM must separate token-shuffled gibberish from
    natural text built of the SAME tokens — the exact signal a
    unigram LM is blind to (identical token multiset => identical
    unigram score)."""
    import os

    from aws_de_final_project_spark.plans.extensions import (
        bigram_logprob_scores,
    )

    natural = "the cat sat on the mat and the dog sat on the rug"
    shuffled = "mat the dog rug on cat the sat and on the sat the"
    rows = [(i, natural) for i in range(20)] + [(99, shuffled)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: r.avg_logprob for r in
           bigram_logprob_scores(spark, d).collect()}
    assert got[99] < got[0] - 1.0, got


def test_mixture_plan_rates_properties(spark):
    """Water-filling planner vs a numpy reference on randomized
    supply/weight/budget draws: rates in [0,1], conservation
    (sum take == min(budget, sum avail)), capped sources take exactly
    their supply, uncapped takes proportional to weights (deficit
    redistribution conserves the total)."""
    import random

    from aws_de_final_project_spark.operators.curation import (
        mixture_plan_rates,
    )

    rng = random.Random(13)
    for trial in range(6):
        n = rng.randint(2, 9)
        avails = [rng.randint(0, 10_000) for _ in range(n)]
        # exact binary weights summing to 1 (k/64 split)
        ks = [1] * n
        left = 64 - n
        for _ in range(left):
            ks[rng.randrange(n)] += 1
        weights = [k / 64.0 for k in ks]
        budget = float(rng.randint(0, sum(avails) + 5_000))
        rows = [
            (f"s{i:02d}", avails[i], weights[i]) for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "source string, avail_tokens long, target_weight double"
        )
        got = {
            r.source: r
            for r in mixture_plan_rates(df, budget).collect()
        }
        assert len(got) == n
        # numpy-free reference water-filling (exact same math)
        order = sorted(range(n), key=lambda i: (avails[i] / weights[i],
                                                f"s{i:02d}"))
        capped, remB, remW = set(), budget, 1.0
        for i in order:
            if avails[i] / weights[i] * remW <= remB:
                capped.add(i)
                remB -= avails[i]
                remW -= weights[i]
            else:
                break
        lam = remB / remW if remW > 0 else 0.0
        total_take = 0.0
        for i in range(n):
            r = got[f"s{i:02d}"]
            want = avails[i] if i in capped else weights[i] * lam
            assert abs(r.take_tokens - want) <= 1e-3, (trial, i, r, want)
            assert r.capped == (i in capped)
            assert 0.0 <= r.rate <= 1.0 + 1e-9, r
            if avails[i]:
                assert abs(r.rate - want / avails[i]) <= 1e-5
            total_take += r.take_tokens
        assert abs(total_take - min(budget, sum(avails))) <= 1e-2, trial


def test_bpe_train_merges_match_python_reference(spark):
    """The full merge LOOP equals a pure-Python Sennrich-style BPE
    trainer: same all-adjacent (overlap-counting) pair statistics,
    same (freq DESC, lhs, rhs) argmax tie-break, same greedy
    left-to-right non-overlapping application — exercised on runs
    ('aaaa' under an 'aa' merge) and prefix ambiguity ('he' vs a
    (t, h) merge candidate inside 'the')."""
    from aws_de_final_project_spark.functions.text import (
        bpe_train_merges,
    )

    vocab = {
        "the": 10, "he": 7, "hehe": 3, "there": 4,
        "aaaa": 5, "aaa": 2, "banana": 6, "bandana": 1,
        "low": 5, "lower": 2, "lowest": 1, "newer": 6,
    }

    def py_bpe(vocab, k):
        syms = {w: list(w) for w in vocab}
        merges = []
        for step in range(1, k + 1):
            counts = {}
            for w, c in vocab.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = (
                        counts.get((s[i], s[i + 1]), 0) + c
                    )
            if not counts:
                break
            (l, r), f = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            merges.append((step, l, r, f))
            for w, s in syms.items():
                out, i = [], 0
                while i < len(s):
                    if i < len(s) - 1 and s[i] == l and s[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                syms[w] = out
        return merges

    want = py_bpe(vocab, 12)
    df = spark.createDataFrame(list(vocab.items()), ["w", "c"])
    got = [
        (r.step, r.lhs, r.rhs, r.freq)
        for r in bpe_train_merges(df, 12).orderBy("step").collect()
    ]
    assert got == want, (got, want)


def test_bpe_encode_matches_python_reference(spark):
    """Corpus-scale BPE encoding equals a pure-Python application of
    the same ordered merge table (greedy left-to-right per merge,
    merges never crossing word boundaries)."""
    from aws_de_final_project_spark.functions.text import (
        BPE_VENDORED_MERGES,
        bpe_encode_symbol_count,
    )
    import re

    def py_count(text):
        norm = re.sub(
            r"\s+", " ", re.sub(r"[^a-z0-9]+", " ", text.lower())
        ).strip()
        enc = re.sub(r"([a-z0-9])", r"<\1>", norm)
        for l, r in BPE_VENDORED_MERGES:
            enc = enc.replace(f"<{l}><{r}>", f"<{l}{r}>")
        return enc.count("<")

    texts = [
        "The theater was there, and the thing ended.",
        "singing and standing, in touring order",
        "",
        "punctuation!!! only???",
        "aaa ttthhh ththth",  # runs + overlapping merge candidates
        "to be or not to be, that is the question",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["i", "text"]
    )
    got = {
        r.i: r.n
        for r in df.select(
            "i", bpe_encode_symbol_count("text").alias("n")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_count(t), (t, got[i], py_count(t))

    plan = (
        df.select(bpe_encode_symbol_count("text").alias("n"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_fluency_buckets_integer_rank_terciles(spark):
    """CCNet head/middle/tail bucketing: deterministic integer-rank
    terciles per group — hand-computed boundaries on a non-divisible
    group size, ties sharing the best qualifying bucket, and group
    independence."""
    from aws_de_final_project_spark.operators import curation

    # group g1: 7 docs, scores descending 7..1 -> ceil(7/3)=3,
    # ceil(14/3)=5: head = top 3, middle = next 2, tail = last 2
    rows = [(i, "g1", float(8 - i)) for i in range(1, 8)]
    # group g2: 5 docs with a 3-way tie at the top: strictly-better
    # count for the tied score is 0 < ceil(5/3)=2 -> ALL THREE head
    rows += [(10, "g2", 9.0), (11, "g2", 9.0), (12, "g2", 9.0),
             (13, "g2", 5.0), (14, "g2", 1.0)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "score"])
    got = {
        r.doc_id: r.bucket
        for r in curation.fluency_buckets(
            df, "score", "grp", "doc_id"
        ).collect()
    }
    assert [got[i] for i in range(1, 8)] == [
        "head", "head", "head", "middle", "middle", "tail", "tail"
    ]
    assert got[10] == got[11] == got[12] == "head"
    # gt for 5.0 is 3 >= ceil(5/3)=2 -> not head; 3 < ceil(10/3)=4 -> middle
    assert got[13] == "middle"
    assert got[14] == "tail"


def test_fluency_buckets_histogram_not_percent_rank(spark):
    """The 100 TB posture pin: bucket assignment must come from the
    histogram aggregate + broadcast join back — NO window over the
    raw per-document frame (a percent_rank would funnel each group
    through one partition). The executed plan's window operates on
    the aggregated histogram, so the doc-side frame shows no Window
    node before the final join."""
    from aws_de_final_project_spark.operators import curation

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") % 11).cast("double").alias("score"),
    )
    out = curation.fluency_buckets(df, "score", "grp", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only sort feeding a Window must be over the histogram: in
    # the printed tree (children below parents) the first node under
    # the Window must be the aggregate, reached before any raw scan
    assert "Window" in plan
    w = plan.index("Window")
    assert plan.index("HashAggregate", w) < plan.index("Range", w)
    # population check: equal-population terciles over 100 rows
    counts = {
        (r.grp, r.bucket): r.n
        for r in out.groupBy("grp", "bucket").count()
        .withColumnRenamed("count", "n").collect()
    }
    for g in ("0", "1", "2"):
        tot = sum(v for (gg, _), v in counts.items() if gg == g)
        assert tot in (33, 34)


def test_kneser_ney_matches_python_ground_truth(spark, tmp_path):
    """Interpolated KN bigram scoring vs a from-the-definition Python
    replay on a small corpus: per-doc mean ln p_KN matches to 4dp, and
    KN's continuation probability separates the collocation-bound word
    case from add-alpha (the 'san francisco' effect: a word frequent
    only after one history gets a LOW continuation count)."""
    import math
    import os
    from collections import Counter

    from aws_de_final_project_spark.plans.extensions import (
        kneser_ney_logprob_docs,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the rug"),
        (3, "san francisco san francisco san francisco"),
        (4, "a cat and a dog and a mat"),
        (5, "one-token"),  # < 2 tokens -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    # ground truth straight from the definition
    doc_bg = {
        i: [
            (ts[k], ts[k + 1])
            for k in range(len(ts) - 1)
        ]
        for i, text in rows
        if len(ts := text.lower().strip().split()) >= 2
    }
    c12 = Counter(b for bgs in doc_bg.values() for b in bgs)
    c1 = Counter()
    n1p_w1 = Counter()
    n1p_w2 = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1p_w1[w1] += 1
        n1p_w2[w2] += 1
    n1p_all = len(c12)
    D = 0.75

    def pkn(w1, w2):
        return max(c12[(w1, w2)] - D, 0.0) / c1[w1] + (
            (D * n1p_w1[w1]) / c1[w1]
        ) * (n1p_w2[w2] / n1p_all)

    got = {
        r.doc_id: r
        for r in kneser_ney_logprob_docs(spark, d).collect()
    }
    assert 5 not in got
    for i, bgs in doc_bg.items():
        want = sum(math.log(pkn(*b)) for b in bgs) / len(bgs)
        want = math.floor(want * 10000.0 + 0.5) / 10000.0
        assert got[i].n_bigrams == len(bgs), i
        assert abs(got[i].avg_logprob_kn - want) < 1e-9, (
            i, got[i].avg_logprob_kn, want)
    # sanity on probabilities: every p_KN in (0, 1]
    for (w1, w2) in c12:
        assert 0.0 < pkn(w1, w2) <= 1.0 + 1e-12
    # the collocation-bound word: 'francisco' follows only 'san', so
    # its continuation count is 1 -> tiny continuation probability
    assert n1p_w2[("francisco")] == 1


def test_temperature_mixture_upsamples_low_resource(spark, tmp_path):
    """alpha=0.25 temperature sampling: probabilities sum to ~1, the
    head language's sampling share drops below natural, the rarest
    language's rises above it, and ordering by size is preserved."""
    import os

    from aws_de_final_project_spark.plans.extensions import (
        temperature_mixture_rates_docs,
    )

    rows = (
        [(i, "x", "en") for i in range(800)]
        + [(1000 + i, "x", "de") for i in range(150)]
        + [(2000 + i, "x", "zh") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r.lang: r for r in temperature_mixture_rates_docs(spark, d).collect()}
    assert abs(sum(r.p_sampling for r in got.values()) - 1.0) < 1e-3
    assert got["en"].boost_vs_natural < 1.0
    assert got["zh"].boost_vs_natural > 1.0
    assert got["en"].p_sampling > got["de"].p_sampling > got["zh"].p_sampling
    # exact ground truth: w = round(n^0.25 * 1e4) ints
    want_w = {lang: round((got[lang].n_docs ** 0.25) * 10000)
              for lang in got}
    tw = sum(want_w.values())
    import math
    for lang in got:
        want = math.floor(want_w[lang] / tw * 10000.0 + 0.5) / 10000.0
        assert abs(got[lang].p_sampling - want) < 1e-12, lang


def test_repetition_signals_hand_computed(spark, tmp_path):
    """Gopher repetition signals vs hand-computed char masses: top
    2/3-gram fractions, duplicated-5-gram fraction (incl. the
    documented >1 overlap overcount on a stamped loop), and the
    zero-signal short-doc paths."""
    import os

    from aws_de_final_project_spark.plans.extensions import (
        repetition_signals_docs,
    )

    rows = [
        (1, "a b a b a b"),            # chars 11
        (2, "x y z w"),                # chars 7, no 5-grams
        (3, "p q r s t " * 3),         # 15 tokens, chars 29
        (4, "solo"),                   # 1 token -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: r for r in repetition_signals_docs(spark, d).collect()}
    assert 4 not in got

    r1 = got[1]
    assert r1.n_chars == 11
    assert abs(r1.top_2gram_char_frac - round(9 / 11, 4)) < 6e-5   # "a b" x3
    assert abs(r1.top_3gram_char_frac - round(10 / 11, 4)) < 6e-5  # "a b a" x2
    assert r1.dup_5gram_char_frac == 0.0  # both 5-grams unique

    r2 = got[2]
    assert r2.n_chars == 7
    assert abs(r2.top_2gram_char_frac - round(3 / 7, 4)) < 6e-5
    assert r2.dup_5gram_char_frac == 0.0  # too short for 5-grams

    r3 = got[3]
    assert r3.n_chars == 29
    # "p q" (and three other bigrams) occur 3x: mass 9
    assert abs(r3.top_2gram_char_frac - round(9 / 29, 4)) < 6e-5
    # stamped loop: (3 + 2*4) occurrences x 9 chars = 99 -> >1 by the
    # documented overlapping-occurrence overcount
    assert abs(r3.dup_5gram_char_frac - round(99 / 29, 4)) < 6e-5


def test_unigram_train_matches_python_reference(spark):
    """Unigram-LM tokenizer training (r10 verdict item 6): the trained
    (piece, count, logp) table carries the in-memory EM loop's bank
    and counts, and its Spark-side logp quantization agrees with the
    Python one — including >10-char words (truncated) and words
    forcing the single-char fallback path. The trained values
    themselves are checked independently by the DuckDB oracle
    (unigram_lm_vocab)."""
    wc = {
        "the": 30, "then": 9, "there": 6, "cat": 12, "that": 8,
        "hat": 5, "hatter": 2, "internationalization": 3,
        "zq": 1, "data": 14, "database": 4, "dates": 6,
    }
    vocab = spark.createDataFrame(list(wc.items()), ["w", "c"])
    train = TX.unigram_train(vocab)
    assert train.dtypes == [
        ("piece", "string"), ("count", "bigint"), ("logp", "double")
    ]
    got = {r.piece: (r["count"], r.logp) for r in train.collect()}
    want = TX.py_unigram_trained_counts(wc)
    want_s = TX._py_quantize_scores(want)
    assert set(got) == set(want)
    for p, c in want.items():
        assert got[p][0] == c, (p, got[p], c)
        assert abs(got[p][1] - want_s[p] / 10000.0) < 2e-4, (p, got[p])
    # whole-word high-frequency pieces must out-rank their parts
    assert got["the"][0] > got["th"][0]
    # every single char of the corpus is in the bank (fallback path)
    assert {ch for w in wc for ch in w[:10]} <= set(got)

    counts = TX.unigram_trained_counts(vocab)
    assert counts.dtypes == [("piece", "string"), ("c", "bigint")]
    assert {r.piece: r.c for r in counts.collect()} == want


def test_unigram_word_stats_matches_python_reference(spark):
    """The encoding side of the unigram model: per-word piece counts
    and quantized log-prob sums under the FINAL trained scores match
    the Python reference exactly, and agree with the word's pieces
    summed under the trained table's logp."""
    wc = {
        "the": 30, "then": 9, "cat": 12, "that": 8, "hat": 5,
        "internationalization": 3, "data": 14, "dates": 6,
    }
    vocab = spark.createDataFrame(list(wc.items()), ["w", "c"])
    stats = TX.unigram_word_stats(vocab)
    assert stats.dtypes == [
        ("w10", "string"), ("n_pieces", "bigint"), ("sum_s", "bigint")
    ]
    got = {r.w10: (r.n_pieces, r.sum_s) for r in stats.collect()}
    want = TX.py_unigram_word_stats(wc)
    assert got == want, {
        k: (got.get(k), want.get(k))
        for k in set(got) | set(want)
        if got.get(k) != want.get(k)
    }

    score = {
        r.piece: round(r.logp * 10000)
        for r in TX.unigram_train(vocab).collect()
    }
    pieces = {
        r.w10: list(r.pieces)
        for r in TX.unigram_word_pieces(vocab).collect()
    }
    assert set(pieces) == set(got)
    for w10, (n, s) in got.items():
        ps = pieces[w10]
        assert (n, s) == (len(ps), sum(score[p] for p in ps)), (w10, ps)


def test_unigram_word_pieces_roundtrip_identity(spark):
    """decode(encode(w)) == w for every vocabulary word within
    max_word_len: pieces come back in BACKTRACK order, so
    ''.join(reversed(pieces)) must rebuild the (truncated) word —
    including the truncation path (the 20-char word rebuilds its
    first 10 chars) and the single-char-fallback path ('zq')."""
    wc = {
        "the": 30, "then": 9, "cat": 12, "that": 8, "hat": 5,
        "internationalization": 3, "zq": 1, "data": 14, "dates": 6,
    }
    vocab = spark.createDataFrame(list(wc.items()), ["w", "c"])
    pieces_df = TX.unigram_word_pieces(vocab)
    assert pieces_df.dtypes == [
        ("w10", "string"), ("pieces", "array<string>")
    ]
    got = {r.w10: list(r.pieces) for r in pieces_df.collect()}
    assert set(got) == {w[:10] for w in wc}
    for w10, pieces in got.items():
        assert "".join(reversed(pieces)) == w10, (w10, pieces)


def test_tokenizer_training_collects_vocab_once(spark, tmp_path):
    """Every trainer collects the (w, c) vocabulary in ONE Spark job
    and trains in memory; export collects it once for both families
    (the vocabulary's plan is evaluated exactly once) and then runs
    only its two artifact writes."""
    sc = spark.sparkContext
    wc = {
        "the": 30, "then": 9, "cat": 12, "that": 8, "hat": 5,
        "data": 14, "dates": 6, "ingest": 4,
    }
    scanned = sc.accumulator(0)

    def bump(row):
        scanned.add(1)
        return row

    vocab = spark.createDataFrame(
        sc.parallelize(list(wc.items()), 2).map(bump), "w string, c long"
    )

    def jobs(group, fn, *args):
        sc.setJobGroup(group, "tokenizer training")
        try:
            fn(*args)
        finally:
            sc.setJobGroup(f"{group}-done", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for fn in (
        TX.bpe_train_merges,
        TX.unigram_train,
        TX.unigram_word_stats,
        TX.unigram_word_pieces,
    ):
        assert jobs(f"tok-{fn.__name__}", fn, vocab) == 1, fn.__name__
    before = scanned.value
    # one vocabulary collect + one write per artifact; the manifest's
    # checksums run no job
    assert jobs(
        "tok-export", TX.export_tokenizer_model, vocab, str(tmp_path)
    ) == 3
    assert scanned.value - before == len(wc)


def test_bpe_boundary_roundtrip_and_symbol_count(spark):
    """Stripping the boundary encoding recovers the normalized text
    for every merge table (merges only concatenate symbol contents),
    and the symbol count still matches the original counter."""
    from aws_de_final_project_spark.functions.text import (
        bpe_boundary_decode,
        bpe_boundary_encode,
        bpe_encode_symbol_count,
        normalized_text,
    )
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "The cat, and THEN the hat!"), (2, "ingesting data 42"),
         (3, ""), (4, "zq")],
        ["i", "t"],
    )
    rows = df.select(
        "i",
        (bpe_boundary_decode(bpe_boundary_encode("t"))
         == normalized_text("t")).alias("ok"),
        bpe_encode_symbol_count("t").alias("n"),
        F.length(F.regexp_replace(
            bpe_boundary_encode("t"), "[^<]", "")).alias("n2"),
    ).collect()
    assert all(r.ok for r in rows)
    assert all(r.n == r.n2 for r in rows)


def test_export_tokenizer_model_deterministic(spark, tmp_path):
    """Exporting twice from the same vocabulary yields byte-identical
    manifests; each parquet artifact re-reads row for row, in order,
    to the in-memory trainer's output (logp the 4dp quantization),
    and the manifest's driver-side checksums equal the Spark md5/XOR
    fold over the written rows; checksums CHANGE when the corpus
    changes."""
    from aws_de_final_project_spark.functions.text import (
        _py_quantize_scores,
        export_tokenizer_model,
        py_bpe_train_merges,
        py_unigram_trained_counts,
    )

    wc = {
        "the": 30, "then": 9, "cat": 12, "that": 8, "hat": 5,
        "data": 14, "dates": 6, "ingest": 4,
    }
    vocab = spark.createDataFrame(list(wc.items()), ["w", "c"])
    d1, d2, d3 = (str(tmp_path / n) for n in ("a", "b", "c"))
    m1 = export_tokenizer_model(vocab, d1)
    m2 = export_tokenizer_model(vocab, d2)
    b1 = open(f"{d1}/_manifest.json", "rb").read()
    b2 = open(f"{d2}/_manifest.json", "rb").read()
    assert b1 == b2 and m1 == m2

    merges = spark.read.parquet(f"{d1}/bpe_merges")
    assert merges.dtypes == [
        ("step", "int"), ("lhs", "string"), ("rhs", "string"),
        ("freq", "bigint"),
    ]
    assert [tuple(r) for r in merges.collect()] == py_bpe_train_merges(wc)
    uni = spark.read.parquet(f"{d1}/unigram_vocab")
    assert uni.dtypes == [
        ("piece", "string"), ("count", "bigint"), ("logp", "double")
    ]
    cnts = py_unigram_trained_counts(wc)
    s = _py_quantize_scores(cnts)
    assert [tuple(r) for r in uni.collect()] == [
        (p, c, s[p] / 10000.0)
        for p, c in sorted(cnts.items(), key=lambda t: (-t[1], t[0]))
    ]

    def spark_xor(df, *cols):
        r = df.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.conv(F.substring(F.md5(F.concat_ws(
                "|", *(F.col(c).cast("string") for c in cols)
            )), 1, 15), 16, 10).cast("long")).alias("x"),
        ).first()
        return {"n_rows": r.n, "checksum_xor": r.x}

    want = {
        "bpe_merges": spark_xor(merges, "step", "lhs", "rhs", "freq"),
        "unigram_vocab": spark_xor(uni, "piece", "count"),
    }
    for a in m1["artifacts"]:
        assert {k: a[k] for k in ("n_rows", "checksum_xor")} == want[
            a["artifact"]
        ], a
    vocab2 = spark.createDataFrame(
        [(w, c + (w == "cat")) for w, c in wc.items()], ["w", "c"]
    )
    m3 = export_tokenizer_model(vocab2, d3)
    assert [a["checksum_xor"] for a in m3["artifacts"]] != [
        a["checksum_xor"] for a in m1["artifacts"]
    ]
