"""Deduplication operators for large-scale corpus curation.

The reference pipeline has a real dedup gap: its ingest re-fetches
rows whose ``updated_on`` changed (``Additional_Data_Function/
get_data_api.py:10-13``), so the raw zone accumulates multiple
versions of the same ``id`` and nothing ever drops them (SURVEY.md
§2.10). These operators close that gap and extend it to the
near-duplicate detection an LLM-data pipeline needs.

Scale design (the whole point — 100 TB posture):

* **exact**: one shuffle on a 128-bit content fingerprint. Never on
  raw text — grouping on md5 keeps shuffle rows ~40 bytes.
* **MinHash + LSH banding**: turns the O(n^2) pairwise problem into
  a per-band hash-join. Candidates per band bucket only; exact
  Jaccard verification runs on candidates, not the cross product.
  One hash family (md5 base hash, then ``MINHASH_K`` affine maps),
  which DuckDB replays exactly, so the whole pipeline has an oracle.
* **SimHash**: 60-bit signature over the same md5 shingle hashes as
  MinHash, hamming<=k via pigeonhole banding — 4 band-equality joins
  instead of a cross join. The Hamming join
  (:func:`hamming_band_pairs`) is shared with the image, video-frame
  and audio near-dup operators in ``multimodal``.
* everything is DataFrame-native (explode/groupBy/join) — no Python
  in the hot path, no driver-side collection.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_de_final_project_spark.functions.numeric import round_half_up as rnd

from aws_de_final_project_spark.functions.text import fingerprint, normalized_text


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group exact duplicates by content fingerprint.

    Returns one row per distinct content: ``fingerprint, n_copies,
    keeper_id`` (min id = the canonical survivor — deterministic).
    """
    return (
        _spread(df)
        .select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Drop exact duplicates, keeping the min-id row per content."""
    keepers = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


from aws_de_final_project_spark.operators import util
from aws_de_final_project_spark.operators.util import cut as _cut
from aws_de_final_project_spark.operators.util import local_frame
from aws_de_final_project_spark.operators.util import release as _release
from aws_de_final_project_spark.operators.util import spread as _spread


def _word_sets(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """id -> distinct lowercase word set (array<string>)."""
    return _spread(df).select(
        F.col(id_col).alias("_id"),
        F.array_distinct(F.split(normalized_text(text_col), " ")).alias("_words"),
    )


def _shingle_expr(words_col, ngram: int):
    """Distinct word-n-gram shingles (array<string>) of a word array.

    Docs shorter than ``ngram`` words collapse to one whole-doc
    shingle (slice caps at the array end). Pure sequence/transform/
    slice — stays in whole-stage codegen.
    """
    idx = F.sequence(
        F.lit(1), F.greatest(F.size(words_col) - (ngram - 1), F.lit(1))
    )
    return F.array_distinct(
        F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(words_col, i, ngram))
        )
    )


def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, ngram: int
) -> DataFrame:
    """id -> distinct word-n-gram shingle set (array<string>).

    Word-level sets (ngram=1) make every pair of documents drawn from
    a small shared vocabulary look similar — near-dup detection MUST
    shingle (ngram>=2) so unrelated docs share ~no features. This is
    the 100 TB criticality: with unigrams the LSH candidate set
    degenerates toward the cross product; with 3-gram shingles it
    stays proportional to the true duplicate count.
    """
    if ngram <= 1:
        return _word_sets(df, text_col, id_col)
    # Materialize the word array in its OWN projection before the
    # higher-order shingle transform. HOFs are interpreted with no
    # subexpression elimination: if the lambda's child is the raw
    # split(regex(regex(...))) expression, that whole pipeline re-runs
    # per array ELEMENT (measured ~10ms/doc); against a bound column
    # reference it runs once per row. CollapseProject keeps the two
    # selects separate because the reference is non-cheap and used
    # multiple times.
    words = _spread(df).select(
        F.col(id_col).alias("_id"),
        F.split(normalized_text(text_col), " ").alias("_w"),
    )
    return words.select(
        "_id",
        _shingle_expr(F.col("_w"), ngram).alias("_words"),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    block_col: str | None = None,
    ngram: int = 1,
) -> DataFrame:
    """Exact n-gram-set Jaccard similarity join: all pairs (a < b)
    with ``J(a,b) >= threshold``. ``ngram=1`` compares word sets;
    ``ngram>=2`` compares word-n-gram shingle sets (the right
    definition for near-dup detection — see :func:`_shingle_sets`).

    This is the *verification* primitive: O(n^2) within a block, so
    only run it on candidate sets (LSH output) or with a blocking
    column. Kept exact + oracle-checkable; the scale path is
    :func:`minhash_lsh_pairs`, which feeds candidates into the same
    Jaccard verify.
    """
    a = _shingle_sets(df, text_col, id_col, ngram)
    if block_col is not None:
        a = a.join(
            df.select(F.col(id_col).alias("_id"), F.col(block_col).alias("_blk")),
            "_id",
        )
    b = a.select(
        F.col("_id").alias("_id_b"),
        F.col("_words").alias("_words_b"),
        *([F.col("_blk").alias("_blk_b")] if block_col else []),
    )
    cond = F.col("_id") < F.col("_id_b")
    if block_col is not None:
        cond = cond & (F.col("_blk") == F.col("_blk_b"))
    inter = F.size(F.array_intersect(F.col("_words"), F.col("_words_b")))
    union = (
        F.size(F.col("_words")) + F.size(F.col("_words_b")) - inter
    )
    return (
        a.join(b, cond)
        .select(
            F.col("_id").alias("doc_a"),
            F.col("_id_b").alias("doc_b"),
            rnd(inter.cast("double") / union.cast("double"), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    block_col: str | None = None,
    ngram: int = 3,
) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs — the ground truth
    that :func:`minhash_lsh_pairs` approximates (same shingle
    definition, same threshold semantics)."""
    return jaccard_pairs(df, text_col, id_col, threshold, block_col, ngram)


# The MinHash family, defined once: minhash_lsh_pairs below and its
# DuckDB oracle (__spark_entry__._minhash_sql) both read these.
# MINHASH_P is the Mersenne prime 2^31 - 1, so a_i * base < 2^62 and
# the affine maps never overflow a BIGINT in either engine. The
# (a_i, b_i) pairs come from md5 of the map index: fixed, and
# reproducible without this table.
MINHASH_P = (1 << 31) - 1
MINHASH_K = 64
MINHASH_BANDS = 16
MINHASH_COEFFS: tuple[tuple[int, int], ...] = tuple(
    (1 + d % (MINHASH_P - 1), (d >> 64) % MINHASH_P)
    for d in (
        int(hashlib.md5(str(i).encode()).hexdigest(), 16)
        for i in range(MINHASH_K)
    )
)


def _md5_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, ngram: int
) -> DataFrame:
    """id -> distinct set of 60-bit shingle hashes (array<bigint>):
    the first 15 hex digits of each shingle's md5. One digest per
    distinct shingle, bit-identical in every engine."""
    sets = _shingle_sets(df, text_col, id_col, ngram)
    return sets.select(
        "_id",
        F.expr(
            "array_distinct(transform(_words, s -> "
            "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))) "
            "AS _words"
        ),
    )


def _minhash_mins(sets: DataFrame) -> DataFrame:
    """(_id, _m0 .. _m{K-1}) over a :func:`_md5_shingle_sets` frame:
    ``_m{i} = min((a_i * (h mod P) + b_i) mod P)`` over the doc's
    hashes ``h``.

    explode -> hash aggregate with K min buffers: all whole-stage
    codegen, and partial aggregation collapses the explode to one row
    per doc before the exchange (docs x K x 8 B of shuffle).
    explode_outer, NOT explode: plain explode makes the optimizer
    infer a size(_words)>0 filter and push it below the repartition,
    re-running the shingle pipeline on the un-spread input. Shingle
    arrays are never empty, so outer semantics are identical.

    Each min is one parsed SQL string: built from Column objects, the
    K expressions cost several py4j round trips each, and that plan
    build took as long as the aggregate's execution at sf0.1.
    """
    base = sets.select(
        "_id", F.explode_outer("_words").alias("_h")
    ).select("_id", (F.col("_h") % MINHASH_P).alias("_x"))
    return base.groupBy("_id").agg(
        *[
            F.expr(f"min((_x * {a} + {b}) % {MINHASH_P}) AS _m{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    ngram: int = 3,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, exact-Jaccard verified.

    Pipeline: shingle (word ``ngram``-grams) -> one md5 per distinct
    shingle, first 60 bits ``h`` -> signature of ``MINHASH_K`` = 64
    mins of ``(a_i * (h mod P) + b_i) mod P``, P = 2^31 - 1 (the
    universal-hash MinHash of Broder, Charikar, Frieze, Mitzenmacher,
    "Min-wise independent permutations", STOC 1998) -> 16 bands of
    4 rows, each band keyed by md5 of its 4 mins joined by '-' ->
    self-join per (band, key) bucket -> candidate pairs -> exact
    Jaccard verify >= threshold on the 60-bit sets. Every step is
    replayed by the DuckDB oracle, so the driver checks the whole
    approximate pipeline, not just its recall.

    S-curve (b=16, r=4): P(candidate | J) = 1 - (1 - J^4)^16, which is
    0.64 at J=0.5, 0.989 at J=0.7 and 1 - 4e-8 at J=0.9. No false
    positives: every output pair passed the verify, so the output is
    :func:`ngram_jaccard_pairs` minus S-curve misses.

    Collision bound: over N distinct shingles the 31-bit base
    ``h mod P`` collides about N^2/2^32 times (about 16 at sf0.1). A
    base collision only perturbs a signature. The verify compares the
    60-bit values (about N^2/2^61 collisions), so a base collision
    cannot create a false pair.

    At 100 TB the only shuffles are the signature aggregate (docs x K
    mins), the band explode (docs x bands, ~50-byte rows) and the
    bucket self-join; no cross product anywhere, provided features are
    shingles, not unigrams (unigram sets over a shared vocabulary
    collide everything into the same buckets).
    """
    rows_per_band = MINHASH_K // MINHASH_BANDS
    # ONE hashed-shingle pass feeds the signature aggregate AND both
    # verify sides: the cut stores the ~8 B/shingle sets at the first
    # action instead of re-running the normalize+shingle+md5 pipeline
    # once per consumer (3x without it).
    sets = _cut(_md5_shingle_sets(df, text_col, id_col, ngram))
    mins = _minhash_mins(sets)
    # one parsed SQL string for the same py4j reason as the mins
    bands = ", ".join(
        f"named_struct('band', {b}, 'bh', md5(concat_ws('-', "
        + ", ".join(f"_m{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")))"
        for b in range(MINHASH_BANDS)
    )
    banded = mins.select(
        "_id", F.expr(f"explode(array({bands})) AS bb")
    ).select("_id", "bb.band", "bb.bh")
    # both bucket-join sides carry the IDENTICAL banded signatures:
    # the cut runs the K-min aggregate once and both join sides scan
    # the stored blocks. An alias self-join only shares the pipeline
    # when both sides shuffle; at broadcast-sized inputs the planner
    # broadcast one side and re-evaluated the whole signature for it.
    banded = _cut(banded)
    bx, by = banded.alias("_bx"), banded.alias("_by")
    candidates = (
        bx.join(
            by,
            (F.col("_bx.band") == F.col("_by.band"))
            & (F.col("_bx.bh") == F.col("_by.bh"))
            & (F.col("_bx._id") < F.col("_by._id")),
        )
        .select(
            F.col("_bx._id").alias("_id"),
            F.col("_by._id").alias("_id_b"),
        )
        .distinct()
    )
    # candidate id pairs are tiny in BYTES, so AQE coalesces them to a
    # couple of partitions — but each row then pays a set intersect
    # after the re-attach. Re-spread explicitly: per-row compute, not
    # byte count, is the budget.
    candidates = candidates.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    wb = sets.select(
        F.col("_id").alias("_id_b"), F.col("_words").alias("_words_b")
    )
    inter = F.size(F.array_intersect(F.col("_words"), F.col("_words_b")))
    union = F.size(F.col("_words")) + F.size(F.col("_words_b")) - inter
    return (
        candidates.join(sets, "_id")
        .join(wb, "_id_b")
        .select(
            F.col("_id").alias("doc_a"),
            F.col("_id_b").alias("doc_b"),
            rnd(inter.cast("double") / union.cast("double"), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    char ``n``-gram of the normalized text, slide a ``window``-gram
    window, keep each window's minimum hash, dedupe.

    Sliding (not tumbling) windows make the selection
    self-synchronizing: an edit only perturbs fingerprints within
    ``window + n`` chars of the change — any shared substring of
    length >= window+n-1 contributes at least one shared fingerprint
    regardless of global position shifts.

    Output is flat (doc_id, fp) so it joins/aggregates like any
    relation and is oracle-checkable; hash = first 60 bits of md5
    (engine-portable, unlike xxhash64).

    Scale shape: one shuffle on doc_id for the per-doc ordered window
    (state = ``window`` rows), then distinct. Rows between explode and
    distinct are ~doc-length small ints.
    """
    from pyspark.sql.window import Window

    norm = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        normalized_text(text_col).alias("_t"),
    )
    idx = F.sequence(F.lit(1), F.greatest(F.length("_t") - (n - 1), F.lit(1)))
    grams = norm.select(
        "doc_id",
        F.posexplode_outer(
            F.transform(idx, lambda i: F.col("_t").substr(i, F.lit(n)))
        ).alias("_pos", "_g"),
    )
    h = F.conv(F.substring(F.md5("_g"), 1, 15), 16, 10).cast("long")
    w_min = (
        Window.partitionBy("doc_id")
        .orderBy("_pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    w_doc = Window.partitionBy("doc_id")
    return (
        grams.select("doc_id", "_pos", h.alias("_h"))
        .withColumn("_fp", F.min("_h").over(w_min))
        .withColumn("_cnt", F.count(F.lit(1)).over(w_doc))
        # only full windows — except short docs, which keep window 0
        .filter(
            F.col("_pos") <= F.greatest(F.col("_cnt") - window, F.lit(0))
        )
        .select("doc_id", F.col("_fp").alias("fp"))
        .distinct()
    )


# The SimHash signature and the Hamming band join, defined once:
# simhash_near_pairs, multimodal's image/video/audio near-dup operators
# and the SimHash DuckDB oracle (__spark_entry__._simhash_sql) all read
# these. HAMMING_BANDS bands give exact recall for max_hamming <=
# HAMMING_BANDS - 1 (pigeonhole).
SIMHASH_BITS = 60
HAMMING_BANDS = 4


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    ngram: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``:
    (doc_a, doc_b, hamming), doc_a < doc_b.

    Signature (Charikar, "Similarity estimation techniques from
    rounding algorithms", STOC 2002): the features are the doc's
    distinct 60-bit shingle hashes, the ones MinHash uses
    (:func:`_md5_shingle_sets`, first 15 hex digits of each word-
    ``ngram`` shingle's md5); bit i of the ``SIMHASH_BITS`` = 60-bit
    signature is set iff more features have bit i set than clear. One
    explode -> 60 conditional sums -> bit reassembly, one shuffle on
    the doc id; the signature is carried as ``HAMMING_BANDS`` = 4
    bands of 15 bits, band j holding bits [15j, 15j + 15).

    Join: :func:`hamming_band_pairs`, the pigeonhole-banded search of
    Manku, Jain, Das Sarma, "Detecting Near-Duplicates for Web
    Crawling" (WWW 2007), with no frequency cap, so recall is exact:
    the output is every pair within ``max_hamming``. Identical
    signatures (boilerplate copies) enter the band join once.

    Within-doc collisions: two of one doc's shingles whose 60-bit
    hashes collide merge into one feature. The DuckDB twin hashes the
    distinct shingle strings, so it counts both; the engines agree
    barring about n^2/2^61 such collisions per doc of n shingles.
    """
    sigs = _simhash_bands(_md5_shingle_sets(df, text_col, id_col, ngram))
    pairs = hamming_band_pairs(sigs, max_hamming, max_band_freq=None)
    return pairs.select(
        F.col("_id").alias("doc_a"), F.col("_id_b").alias("doc_b"), "hamming"
    )


def _simhash_bands(sets: DataFrame) -> DataFrame:
    """(_id, _b) over a :func:`_md5_shingle_sets` frame: the SimHash
    signature as ``array<bigint>`` of ``HAMMING_BANDS`` bands, band j
    = bits [15j, 15j + 15) of the 60-bit signature.

    explode_outer for the same inferred-filter-pushdown reason as in
    :func:`_minhash_mins` (shingle arrays are never empty); the sums
    and the reassembly are parsed SQL strings for the same py4j
    reason as its mins.
    """
    width = SIMHASH_BITS // HAMMING_BANDS
    mask = (1 << width) - 1
    sums = (
        sets.select("_id", F.explode_outer("_words").alias("_h"))
        .groupBy("_id")
        .agg(
            *[
                F.expr(f"sum(IF(shiftright(_h, {i}) & 1 = 1, 1, -1)) AS _s{i}")
                for i in range(SIMHASH_BITS)
            ]
        )
    )
    sig = " | ".join(
        f"IF(_s{i} > 0, {1 << i}L, 0L)" for i in range(SIMHASH_BITS)
    )
    bands = ", ".join(
        f"shiftright(_sig, {j * width}) & {mask}L" for j in range(HAMMING_BANDS)
    )
    return sums.select("_id", F.expr(f"{sig} AS _sig")).select(
        "_id", F.expr(f"array({bands}) AS _b")
    )


def _hamming_band_candidates(
    reps: DataFrame, max_band_freq: int | None
) -> DataFrame:
    """Candidate signature pairs from the pigeonhole band equi-joins
    over one-row-per-DISTINCT-signature ``reps`` (_rep, _b), with the
    per-(band_idx, value) frequency cap applied to BOTH join sides.
    Split out so tests can pin the candidate volume bound directly
    (the planted-hot-band test)."""
    banded = reps.select(
        "_rep", "_b", F.posexplode("_b").alias("chunk", "key")
    )
    if max_band_freq is not None:
        cold = (
            banded.groupBy("chunk", "key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_band_freq)
            .select("chunk", "key")
        )
        banded = banded.join(cold, ["chunk", "key"])
    other = banded.select(
        F.col("_rep").alias("_rep_b"), F.col("_b").alias("_b_b"),
        "chunk", "key",
    )
    return (
        banded.join(other, ["chunk", "key"])
        .filter(F.col("_rep") < F.col("_rep_b"))
        .select("_rep", "_rep_b", "_b", "_b_b")
        .distinct()
    )


def hamming_band_pairs(
    sigs: DataFrame, max_hamming: int, max_band_freq: int | None
) -> DataFrame:
    """All pairs within Hamming distance ``max_hamming`` of
    ``sigs`` (_id, _b), ``_b`` an ``array<bigint>`` of
    ``HAMMING_BANDS`` band values: (_id, _id_b, hamming), _id < _id_b.

    Pigeonhole banding: any pair within hamming <= HAMMING_BANDS - 1
    agrees exactly on at least one band, so candidates come from
    equality joins on (band_idx, band_value) — shuffles on narrow
    keys, NO cartesian — then the exact popcount verify runs per
    candidate. Beyond that bound a qualifying pair can disagree in
    every band and be silently missed, hence the ValueError.

    Scale shape — HOT-BAND GUARD (the containment_pairs hot-shingle
    recipe): near-constant inputs (blank thumbnails, tracking pixels,
    boilerplate pages) collapse to a handful of band values, and a
    (band, value) bucket shared by k rows yields k^2/2 candidate
    rows — quadratic in exactly the skewed case that matters at
    100 TB. Two defenses, in order:

    1. EXACT-GROUP PRE-COLLAPSE (lossless, always on): rows are
       first grouped by their FULL signature; only one representative
       per DISTINCT signature enters the band join. Identical
       copies — the dominant hot case — therefore contribute ONE row
       per bucket regardless of copy count. Hamming-0 pairs are
       emitted directly from a self-equi-join on the full signature
       (volume = true output size), and each verified representative
       pair is expanded back to all member pairs (every member of
       sig_a is at the same hamming from every member of sig_b), so
       the output is IDENTICAL to the unguarded join.
    2. PER-(band, value) FREQUENCY CAP (``max_band_freq``, the only
       recall-loss channel): a band value still shared by more than
       ``max_band_freq`` DISTINCT signatures is dropped from the
       banding on both sides, bounding candidate volume per bucket at
       max_band_freq^2/2. A qualifying pair is missed ONLY if every
       band it agrees on is over-cap — the deliberate
       quadratic-blowup trade (exact_span_pairs' max_anchor_docs,
       containment_pairs' prefix filter). ``None`` disables the cap.
       Candidate bound + recall-unchanged pins live in
       tests/test_multimodal.py (planted hot-band fixture)."""
    if max_hamming > HAMMING_BANDS - 1:
        raise ValueError(
            f"max_hamming ({max_hamming}) > bands-1 ({HAMMING_BANDS - 1}):"
            " pigeonhole banding cannot guarantee recall"
        )
    # (id, signature) is consumed FIVE times below (reps, both sides
    # of the hamming-0 self-join, both expansion joins) — materialize
    # it once or the whole upstream subtree re-runs per consumer
    # (measured 3.5 s -> 5.9 s for the image join at sf0.1 before this
    # cut). The frame is tiny: one id + four band values per row.
    sigs = _cut(sigs)
    # 1. exact-group collapse: one representative per distinct signature
    reps = sigs.groupBy("_b").agg(F.min("_id").alias("_rep"))
    # hamming-0 pairs straight off the signature equality (no banding)
    intra = (
        sigs.join(
            sigs.select(
                F.col("_id").alias("_id_b"), F.col("_b").alias("_b_i")
            ),
            F.col("_b") == F.col("_b_i"),
        )
        .filter(F.col("_id") < F.col("_id_b"))
        .select("_id", "_id_b", F.lit(0).cast("int").alias("hamming"))
    )
    # 2. banded join on representatives only, under the frequency cap
    cand = _hamming_band_candidates(reps, max_band_freq)
    hamming = sum(
        F.bit_count(
            F.element_at("_b", j + 1).bitwiseXOR(
                F.element_at("_b_b", j + 1)
            )
        )
        for j in range(HAMMING_BANDS)
    )
    rep_pairs = cand.select(
        "_b", "_b_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)
    # 3. expand each verified signature pair back to member pairs
    ma = sigs.select(F.col("_id").alias("_ma"), F.col("_b").alias("_sig_a"))
    mb = sigs.select(F.col("_id").alias("_mb"), F.col("_b").alias("_sig_b"))
    cross = (
        rep_pairs.join(ma, F.col("_b") == F.col("_sig_a"))
        .join(mb, F.col("_b_b") == F.col("_sig_b"))
        .select(
            F.least("_ma", "_mb").alias("_id"),
            F.greatest("_ma", "_mb").alias("_id_b"),
            "hamming",
        )
    )
    return intra.unionAll(cross)


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Labels-only connected components: node -> min id of its
    component. The pair list is cut and counted once; at most
    ``util.DRIVER_MAX_ROWS`` pairs (16 bytes each) run union-find over
    the collected pairs, more run :func:`connected_components_iters`
    (pointer-doubling rounds, raises if ``max_iter`` rounds don't
    converge) on the cut pairs. Both paths give the same labels.
    """
    # drop pairs with NULL (or non-numeric -> NULL-cast) ids up
    # front: the relational path's equi-joins drop them implicitly,
    # and an uncaught None here would raise an opaque TypeError
    # inside the union-find min/max
    cleaned = pairs.select(
        F.col(id_a).cast("long").alias("a"),
        F.col(id_b).cast("long").alias("b"),
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    # Bound check via checkpoint + count, NOT .limit(cap+1).collect():
    # CollectLimit's incremental escalation (1 -> 4 -> 16 -> ... of
    # spark.sql.limit.scaleUpFactor) re-ran the expensive candidate
    # pipeline's final stage once per escalation round when the pair
    # list is smaller than the cap — the common case — costing ~1.65x
    # the pipeline plus a driver round-trip per round (measured on the
    # entity-resolution entry, r13). The cut materializes the
    # pipeline exactly once at the count; the collect (or, over the
    # cap, the relational rounds) then reads the stored frame, and the
    # count keeps the driver pull bounded before any row moves.
    cleaned = _cut(cleaned)
    n_pairs = cleaned.count()
    if n_pairs > util.DRIVER_MAX_ROWS:
        labels, _ = connected_components_iters(cleaned, "a", "b", max_iter)
        # the iteration's convergence counts consumed the blocks
        _release(cleaned)
        return labels
    rows = cleaned.collect()
    _release(cleaned)
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = sorted((n, find(n)) for n in parent)
    return local_frame(
        pairs.sparkSession, labels, "node long, component long"
    )


def connected_components_iters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> tuple[DataFrame, int]:
    """Connected components over a near-duplicate pair list: the step
    that turns "these documents are similar" into "keep one per
    cluster". Output: (node, component) with component = min node id
    in the cluster — the canonical keeper.

    Algorithm: iterative min-label propagation with pointer doubling
    (path halving — the DataFrame form of the star-contraction family;
    Kiveris et al., "Connected Components in MapReduce"). Each round
    every node takes the min label over itself and its neighbors, then
    shortcuts through its label's label (``comp = label[comp]`` — every
    component id IS a node id, so the self-join always resolves). The
    shortcut halves chain distances each round, so convergence is
    O(log diameter), not O(diameter): a 1000-hop chain — which plain
    propagation would silently mislabel under any practical max_iter —
    lands in ~10 rounds (pinned by tests/test_dedup.py's path-graph
    iteration bound). Per round: one edges-to-labels join, one
    min-aggregate, one labels self-join — all shuffle-on-key, no
    driver data movement; the driver loop only checks the converged
    flag (a 1-row count), and that count is the action that fills each
    round's cuts. ``util.cut`` keeps plan size constant across rounds
    (reliable when the session has a checkpoint dir); superseded
    per-round checkpoints are dropped by the ContextCleaner as their
    DataFrames go out of scope (verified: persisted-RDD count stays
    flat across repeated invocations).

    Returns ``(labels, n_rounds)`` — the round count rides the return
    value (no shared mutable function-attribute, so concurrent calls
    on one driver can't race each other's counters).
    """
    edges = _cut(
        pairs.select(
            F.col(id_a).cast("long").alias("src"),
            F.col(id_b).cast("long").alias("dst"),
        )
        .union(
            pairs.select(
                F.col(id_b).cast("long").alias("src"),
                F.col(id_a).cast("long").alias("dst"),
            )
        )
        # NULL (or NULL-cast) ids can't join anyway; dropping them
        # here keeps the node set — and thus the output rows — equal
        # to the driver union-find path's
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    labels = _cut(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    iters = 0
    for it in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # checkpointed: propagated feeds BOTH sides of the pointer-
        # doubling self-join below — without the cut, the edges-to-
        # labels join and min-aggregate above replay twice per round
        propagated = _cut(
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.col("component").alias("_old"),
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_min", F.col("component")),
                ).alias("component"),
            )
        )
        # pointer doubling: comp = label[comp]; halves chain distance
        lut = propagated.select(
            F.col("node").alias("_c_node"),
            F.col("component").alias("_c_comp"),
        )
        # the convergence flag rides the checkpointed frame (computed
        # against _old carried through the round) — checking it is a
        # filter over cached blocks, NOT an extra old-vs-new join job
        stepped = _cut(
            propagated.join(
                lut, propagated.component == lut._c_node, "left"
            )
            .select(
                "node",
                F.coalesce("_c_comp", "component").alias("component"),
                (
                    F.coalesce("_c_comp", "component") != F.col("_old")
                ).alias("_chg"),
            )
        )
        changed = stepped.filter("_chg").limit(1).count()
        labels = stepped.drop("_chg")
        iters = it + 1
        if changed == 0:
            break
    else:
        # NEVER return silently-wrong labels: min-label propagation
        # distance is graph-shaped (a blocked entity graph at sf0.1
        # needed 26 rounds — past the old default, which would have
        # returned mislabeled components with no signal). Loud
        # failure tells the caller to raise max_iter.
        raise RuntimeError(
            f"connected components did not converge in {max_iter} "
            f"rounds; raise max_iter (diameter-bound)"
        )
    return labels, iters


def dedup_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Component assignment for EVERY document: docs in some near-dup
    cluster get the cluster's min id, singletons get themselves.
    Output: (id_col, component, is_keeper); the components step is
    :func:`connected_components` (driver union-find up to the cap)."""
    comps = connected_components(pairs, id_a, id_b)
    return (
        df.select(F.col(id_col).cast("long").alias("node"))
        .join(comps, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", F.col("node")).alias("component"),
            (
                F.coalesce("component", F.col("node")) == F.col("node")
            ).alias("is_keeper"),
        )
    )


def dedup_against_state(
    new_docs: DataFrame,
    state: DataFrame,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup against a persisted fingerprint
    registry — the daily-batch form of :func:`exact_dedup`. At 100 TB
    the historical corpus is NEVER rescanned: the registry holds one
    compact (fp, keeper_id) row per distinct content ever admitted,
    the new batch reduces to its per-fingerprint first row (min id —
    one batch-sized hash aggregate) and anti-joins the registry on the
    16-byte fingerprint, so shuffle volume is batch-sized + |registry
    keys touched|, independent of history depth.

    Returns ``(kept, new_state)``: ``kept`` = (id_col, fp) rows of the
    batch that survive (content never seen before, first-in-batch
    wins); ``new_state`` = registry plus the kept fingerprints. First
    arrival wins across batches — the durable-registry analog of
    streaming ``dropDuplicatesWithinWatermark``, without a watermark
    bound because the registry persists. Production folds write
    ``new_state`` to parquet between batches (same staged-swap
    pattern as operators/rollup_maint.py); the oracle entry folds
    in-memory and proves fold == one-shot arrival-order dedup.
    """
    fps = _spread(new_docs).select(
        F.col(id_col), fingerprint(text_col).alias("fp")
    )
    batch_first = fps.groupBy("fp").agg(F.min(id_col).alias(id_col))
    kept = batch_first.join(
        state.select("fp"), "fp", "left_anti"
    ).select(id_col, "fp")
    new_state = state.unionByName(
        kept.select("fp", F.col(id_col).alias("keeper_id"))
    )
    return kept, new_state


def exact_span_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_span_tokens: int = 12,
    max_anchor_docs: int = 50,
) -> DataFrame:
    """Exact shared-substring dedup pairs — the relational shape of
    suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): find document pairs that
    share a verbatim run of >= ``min_span_tokens`` normalized tokens,
    and report the longest shared run per pair.

    This catches a duplication mode the set-similarity family
    (jaccard/minhash/simhash) misses by construction: a long copied
    passage inside two otherwise-different documents moves set Jaccard
    barely at all but is exactly the thing substring dedup exists to
    remove from LLM training data.

    Plan shape (all codegen + one equi-join, no O(n^2) stage):
      1. every ``k``-token window of the normalized text -> md5 anchor
         (rows ~= total token count — linear in corpus size);
      2. drop anchors present in > ``max_anchor_docs`` documents
         (boilerplate guard: a ubiquitous phrase would otherwise make
         the self-join quadratic in its document frequency — same
         motivation as stop-anchor lists in the paper's implementation);
      3. self-equi-join on the anchor hash (doc_a < doc_b) — candidate
         volume is bounded by anchor collisions, not corpus size^2;
      4. shared windows at consecutive positions on one (doc_a, doc_b,
         pos_a - pos_b) diagonal form a single longer run: classic
         gaps-and-islands (pos - row_number grouping) turns each
         diagonal's consecutive stretch into run_len + k - 1 tokens.

    Output: (doc_a, doc_b, shared_windows, max_span_tokens), one row
    per pair whose longest shared run >= ``min_span_tokens``.

    100 TB posture: shuffles are (a) one hash agg on anchor for the
    document-frequency guard, (b) the anchor equi-join, (c) one window
    on (doc_a, doc_b, diag) whose partitions are per-pair-diagonal
    (small by the anchor guard). Anchor skew is capped by construction
    in step 2.

    Recall bound vs a true suffix-array oracle (r9 verdict item 8,
    quantified in tests/test_dedup.py::
    test_exact_span_recall_bound_vs_suffix_oracle): a shared run of
    ``s`` normalized tokens contains ``s - k + 1`` k-windows, so the
    MIN DETECTABLE SPAN IS EXACTLY ``k`` — for ``k <=
    min_span_tokens`` (the shipped default, 8 <= 12) every qualifying
    span is fully anchored and ``max_span_tokens`` equals the true
    longest shared token run: recall 1.0, zero approximation. Spans
    shorter than ``k`` produce no window and are invisible (they can
    never reach ``min_span_tokens`` anyway while ``k <=
    min_span_tokens``). The ONLY recall loss channel is the
    ``max_anchor_docs`` boilerplate guard: dropping a ubiquitous
    window can split a run, truncating the detected span to (longest
    surviving consecutive-window stretch) + k - 1; a span whose every
    window is ubiquitous is dropped entirely — the deliberate
    quadratic-blowup trade, tuned via ``max_anchor_docs``.
    """
    from pyspark.sql.window import Window

    toks = _spread(df).select(
        F.col(id_col).alias("_id"),
        F.split(normalized_text(text_col), " ").alias("_toks"),
    ).filter(F.size("_toks") >= k)
    idx = F.sequence(F.lit(1), F.size("_toks") - (k - 1))
    # anchors are the FIRST 60 md5 bits as a bigint, not the hex
    # string: window rows are ~the token count of the corpus, and an
    # 8-byte join/agg key quarters the anchor shuffle width vs the
    # 32-char hex (collisions at 2^-60 would need 5 consecutive
    # colliding windows to fake a pair; the oracle uses the identical
    # truncation, so parity is unaffected either way)
    windows = toks.select(
        "_id",
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.conv(
                    F.substring(
                        F.md5(F.concat_ws(" ", F.slice("_toks", i, k))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias("_pos", "_h"),
    )
    # Boilerplate guard: document frequency per anchor, computed once.
    anchor_df = windows.groupBy("_h").agg(
        F.countDistinct("_id").alias("_docs")
    )
    rare = windows.join(
        anchor_df.filter(F.col("_docs") <= max_anchor_docs).select("_h"),
        "_h",
    )
    a = rare.select(
        F.col("_id").alias("doc_a"), F.col("_pos").alias("_pa"), "_h"
    )
    b = rare.select(
        F.col("_id").alias("doc_b"), F.col("_pos").alias("_pb"), "_h"
    )
    hits = a.join(b, "_h").filter(F.col("doc_a") < F.col("doc_b"))
    diag = (F.col("_pa") - F.col("_pb")).alias("_diag")
    w_run = Window.partitionBy("doc_a", "doc_b", "_diag").orderBy("_pa")
    runs = (
        hits.select("doc_a", "doc_b", diag, "_pa", "_h")
        .withColumn("_grp", F.col("_pa") - F.row_number().over(w_run))
        .groupBy("doc_a", "doc_b", "_diag", "_grp")
        .agg(F.count(F.lit(1)).alias("_run"))
    )
    per_pair_span = runs.groupBy("doc_a", "doc_b").agg(
        (F.max("_run") + F.lit(k - 1)).alias("max_span_tokens")
    )
    # countDistinct is one shuffle (partial distinct map-side);
    # distinct().count() would be two
    per_pair_windows = hits.groupBy("doc_a", "doc_b").agg(
        F.countDistinct("_h").alias("shared_windows")
    )
    return (
        per_pair_span.join(per_pair_windows, ["doc_a", "doc_b"])
        .filter(F.col("max_span_tokens") >= min_span_tokens)
        .select("doc_a", "doc_b", "shared_windows", "max_span_tokens")
    )


def _prefix_filter_candidates(sets: DataFrame, threshold: float) -> DataFrame:
    """Candidate (``_id``, ``_id_b``) pairs for the prefix-filter join
    over a ``(_id, _words)`` set frame — the part whose size IS the
    operator's scale claim, exposed so tests can measure it against
    n(n-1)/2 directly.

    Global token document-frequency gives the total order (ties broken
    by the token value — string or hashed int — so the order is
    deterministic across runs and partitionings); each set keeps its
    ``|x| - ceil(t*|x|) + 1``
    rarest tokens; candidates are the prefix equi-join on the token,
    pruned by the size condition before the distinct.
    """
    sized = sets.select("_id", "_words", F.size("_words").alias("_sz"))
    tok_df = (
        sized.select(F.explode("_words").alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_dfreq"))
    )
    # the prefix frame feeds BOTH sides of the self-join below;
    # without a checkpoint Spark recomputes the whole
    # shingle->explode->df-join->sort pipeline twice (measured: the
    # recompute, not any shuffle, dominated the operator at sf0.1)
    # ceil(t*|x|) computed with a tiny downward nudge: if t*|x| is an
    # exact integer that float rounding pushed to 3.0000000000000004,
    # a naive ceil SHRINKS the prefix and silently drops pairs. The
    # nudge can only lengthen the prefix (more candidates, never
    # fewer) - correctness is one-sided.
    alpha = F.ceil(F.col("_sz") * F.lit(threshold) - F.lit(1e-9))
    plen = F.greatest(F.col("_sz") - alpha + 1, F.lit(1)).cast("int")
    # prefix selection via ONE streaming rank window, NOT
    # collect_list + slice: both need the same per-id shuffle+sort,
    # but row_number emits rows as they stream past while
    # collect_list buffers every set's (dfreq, token) structs on-heap
    # before slicing — the same buffer whose GC churn produced the
    # containment operator's 25-42 s x30 rep spread (fixed there in
    # r7; this is the identical fix for the symmetric-Jaccard family;
    # _sz is the pre-explode set size, so no count window is needed)
    from pyspark.sql.window import Window

    wr = Window.partitionBy("_id").orderBy("_dfreq", "_tok")
    prefixes = _cut(
        sized.select("_id", "_sz", F.explode("_words").alias("_tok"))
        .join(tok_df, "_tok")
        .select(
            "_id",
            "_sz",
            "_tok",
            F.row_number().over(wr).alias("_rn"),
        )
        .where(F.col("_rn") <= plen)
        .select("_id", "_sz", "_tok")
    )
    right = prefixes.select(
        F.col("_id").alias("_id_b"),
        F.col("_sz").alias("_sz_b"),
        "_tok",
    )
    return (
        prefixes.join(right, "_tok")
        .where(
            (F.col("_id") < F.col("_id_b"))
            & (
                F.least("_sz", "_sz_b").cast("double")
                >= F.lit(threshold) * F.greatest("_sz", "_sz_b")
            )
        )
        .select("_id", "_id_b")
        .distinct()
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    ngram: int = 1,
    exact_verify: bool = False,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin candidate scheme — Bayardo et al., WWW'07;
    Chaudhuri et al., ICDE'06): all pairs (a < b) with word-shingle
    Jaccard >= ``threshold``, with NO quadratic step and no recall
    knob (exact up to 64-bit anchor-hash collisions by default;
    ``exact_verify=True`` removes even that caveat at the cost of
    string-compares on every candidate).

    This is the third leg of the near-dup family:
    :func:`jaccard_pairs` is the quadratic ground truth,
    :func:`minhash_lsh_pairs` trades recall for speed — this one is
    exact AND sub-quadratic. Scheme:

    1. order the token universe by ascending document frequency
       (rarest first) — one aggregate over exploded tokens;
    2. each set keeps only its PREFIX under that order:
       ``p = |x| - ceil(t*|x|) + 1`` tokens. Theorem: any pair with
       ``J >= t`` must share at least one token inside both prefixes
       (a qualifying pair overlaps in ``>= ceil(t*max(|a|,|b|))``
       elements, and dropping the ``|x| - p`` suffix elements cannot
       consume the whole overlap);
    3. candidates = equi-join of the exploded prefixes on the token,
       pruned by the size condition ``least(|a|,|b|) >=
       t*greatest(|a|,|b|)`` BEFORE the distinct;
    4. exact Jaccard verify on candidates only (sets re-attached by
       id — the candidate shuffle moves id pairs, not token arrays).

    100 TB posture: the prefix prefers globally RARE tokens, so the
    equi-join key distribution is anti-skewed by construction —
    frequent tokens (the skew risk) are precisely the ones pushed out
    of prefixes. Candidate volume scales with the true near-dup count,
    not n^2. All shuffles are key-partitioned aggregates/joins.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # One materialization of the expensive shingling (the raw-text
    # regex+HOF pipeline): everything downstream — hashed candidate
    # sets, the hashed verify, and the exact string verify — reads
    # the checkpoint instead of re-deriving from text (measured: the
    # re-derivations, not shuffles, dominated before).
    sets = _cut(_shingle_sets(df, text_col, id_col, ngram))
    # Candidate generation + first verify run over 64-bit-HASHED
    # shingles: the prefix theorem only needs a consistent total
    # order over a set family, and the hashed sets are one. A hash
    # collision merges two shingles; depending on which sides hold
    # them this can nudge a pair's hashed Jaccard EITHER way, so the
    # hashed stages are exact only up to 64-bit collisions (a drop
    # needs two colliding shingles inside one candidate pair AND the
    # pair within one rounding step of the threshold — P ~ S_pair/2^64
    # per pair; the 3-scale oracle-equality gate is the operational
    # proof). Callers needing unconditional exactness set
    # exact_verify=True to run the string verify on every candidate.
    # Payoff of the hashed path: candidate shuffles move 8-byte ints,
    # and the per-candidate verify compares longs, not strings.
    hsets = _cut(
        sets.select(
            "_id",
            F.array_distinct(
                F.transform(F.col("_words"), lambda s: F.xxhash64(s))
            ).alias("_words"),
        )
    )
    # candidates generated at threshold - one 4dp rounding step, for
    # the same reason as the verify slack below: the final filter is
    # on the ROUNDED string Jaccard. Lowering t only lengthens
    # prefixes and loosens the size filter — strictly more candidates.
    cand = _prefix_filter_candidates(hsets, max(threshold - 1e-4, 1e-9))
    # candidate id pairs are tiny in BYTES, so AQE coalesces them to a
    # couple of partitions — but each row then pays a hashed-set
    # intersect after the (broadcast-sized) re-attach. Re-spread
    # explicitly: per-row compute, not byte count, is the budget.
    cand = cand.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    h_b = hsets.select(
        F.col("_id").alias("_id_b"), F.col("_words").alias("_words_b")
    )
    h_inter = F.size(F.array_intersect(F.col("_words"), F.col("_words_b")))
    h_union = F.size(F.col("_words")) + F.size(F.col("_words_b")) - h_inter
    if exact_verify:
        survivors = cand
    else:
        survivors = (
            cand.join(hsets, "_id")
            .join(h_b, "_id_b")
            .where(
                # slack of one 4dp rounding step: the FINAL filter is
                # on the half-up-rounded string Jaccard, which can sit
                # up to 0.00005 above the raw value the hashed J
                # bounds — without the slack a pair at raw
                # J = t - 1e-5 (rounded to t) would be dropped here
                # but kept by the oracle
                h_inter.cast("double")
                >= F.lit(threshold - 1e-4) * h_union.cast("double")
            )
            .select("_id", "_id_b")
        )
    # Exact string-level verify on the (tiny) hashed survivors: the
    # output Jaccard is computed on true shingle sets, so a 2^-64
    # collision can inflate a candidate's hashed J but never the
    # reported value — collisions cost a wasted verify, not accuracy.
    b_sets = sets.select(
        F.col("_id").alias("_id_b"), F.col("_words").alias("_words_b")
    )
    inter = F.size(F.array_intersect(F.col("_words"), F.col("_words_b")))
    union = F.size(F.col("_words")) + F.size(F.col("_words_b")) - inter
    # the survivor id-pair frame is tiny in BYTES, so AQE coalesces it
    # to a couple of partitions — but each row then pays a full
    # string-set intersect after the (broadcast-sized) set re-attach.
    # Re-spread explicitly: per-row compute, not byte count, is the
    # budget (measured 2.3 s wall on 2 tasks at sf0.1 before this).
    survivors = survivors.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return (
        survivors.join(sets, "_id")
        .join(b_sets, "_id_b")
        .select(
            F.col("_id").alias("doc_a"),
            F.col("_id_b").alias("doc_b"),
            rnd(inter.cast("double") / union.cast("double"), 4).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _containment_hashed_sets(
    df: DataFrame, text_col: str, id_col: str, ngram: int
) -> DataFrame:
    """id -> (string-set size ``_n``, distinct 60-bit md5 hash set
    ``_h``) for the containment join, checkpointed once (the subtree
    feeds the df aggregate, the prefix build, and both verify sides —
    without a cut Spark recomputes the normalize/split/shingle
    pipeline per consumer; cutting took the sf0.1 entry from 8.6 s to
    ~threefold less). 60-bit md5 prefixes, not the ~30 B shingle
    string, keep shuffle keys at 8 bytes (same recipe as curation's
    decontamination join); per-doc hash sets are array_distinct'ed,
    mirrored by DISTINCT in the DuckDB twin, so the
    count == intersect-size equivalence is unconditional.

    Only the HASHED frame is checkpointed: the string shingle subtree
    now has exactly one consumer (this select), so a second cut there
    would just double the executor-resident block footprint — at the
    x30 probe tier the stacked string+hash checkpoints were ~3 GB of
    dead blocks per build, the main source of the 25-42 s rep
    spread."""
    s = _shingle_sets(df, text_col, id_col, ngram)
    return _cut(
        s.select(
            "_id",
            F.size("_words").cast("long").alias("_n"),
            F.array_distinct(
                F.transform(
                    F.col("_words"),
                    lambda w: F.conv(
                        F.substring(F.md5(w), 1, 15), 16, 10
                    ).cast("long"),
                )
            ).alias("_h"),
        )
    )


def _containment_candidates(
    hs: DataFrame, threshold_pct: int
) -> DataFrame:
    """Candidate (``doc_a``, ``doc_b``) pairs for the asymmetric
    containment prefix filter over a ``(_id, _n, _h)`` hashed-set
    frame — exposed (like :func:`_prefix_filter_candidates`) so tests
    can measure the candidate count against the unguarded Σdf² join
    directly.

    Probe side keeps each set's ``|H| − ceil(t·n) + 1`` rarest hashes
    (global document frequency ascending, ties by hash value); the
    index side keeps all; the size prune ``n_b·100 ≥ n_a·t_pct``
    (containment forces |B| ≥ t·|A|) runs before the distinct. The
    filter is lossless for the threshold — see
    :func:`containment_pairs` for the argument.
    """
    tok_df = (
        hs.select(F.explode("_h").alias("_sh"))
        .groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_dfreq"))
    )
    # ceil(n_a·t_pct/100) in pure integer arithmetic — no float nudge
    alpha = F.floor(
        (F.col("_n") * F.lit(threshold_pct) + F.lit(99)) / F.lit(100)
    ).cast("long")
    # prefix selection via ONE streaming rank window, NOT
    # collect_list + slice: both need the same per-doc shuffle+sort,
    # but row_number emits rows as they stream past while
    # collect_list buffers every doc's (dfreq, hash) structs on-heap
    # before slicing (the r7 probe's 25-42 s x30 spread was that
    # buffer's GC churn). |H_a| is taken as size(_h) BEFORE the
    # explode so no second (whole-partition-buffering) count window
    # is needed — a count-over-partition frame would hold each doc's
    # rows until group end and give the buffering right back.
    from pyspark.sql.window import Window

    wr = Window.partitionBy("_id").orderBy("_dfreq", "_sh")
    plen = F.greatest(
        F.col("_hn") - alpha + F.lit(1), F.lit(1).cast("long")
    )
    probe = (
        hs.select(
            "_id",
            "_n",
            F.size("_h").cast("long").alias("_hn"),
            F.explode("_h").alias("_sh"),
        )
        .join(tok_df, "_sh")
        .select(
            "_id",
            "_n",
            "_sh",
            F.row_number().over(wr).alias("_rn"),
            plen.alias("_plen"),
        )
        .where(F.col("_rn") <= F.col("_plen"))
        .select(
            F.col("_id").alias("doc_a"),
            F.col("_n").alias("n_a"),
            "_sh",
        )
    )
    index = hs.select(
        F.col("_id").alias("doc_b"),
        F.col("_n").alias("n_b"),
        F.explode("_h").alias("_sh"),
    )
    return (
        probe.join(index, "_sh")
        .where(
            (F.col("doc_a") != F.col("doc_b"))
            & (
                F.col("n_b") * F.lit(100)
                >= F.col("n_a") * F.lit(threshold_pct)
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_pct: int = 90,
    ngram: int = 3,
) -> DataFrame:
    """Ordered containment pairs: C(a, b) = |S(a) ∩ S(b)| / |S(a)|
    >= threshold_pct/100 over word-``ngram`` shingle sets — the
    ASYMMETRIC near-dup relation Jaccard misses: a short document
    pasted inside a much larger one has tiny J but C(short, long)
    ≈ 1, and MinHash cannot estimate it (the denominator is one
    side's set size, not the union). This is the quote/boilerplate-
    wrap detector a curation pipeline runs next to symmetric dedup.

    The threshold compares in INTEGER arithmetic
    (``n_common·100 >= n_a·threshold_pct``) so the boundary is exact
    in every engine — no 0.9-is-not-binary float edge.

    Scale shape — HOT-SHINGLE GUARD (the asymmetric prefix filter,
    Bayardo et al. "Scaling Up All Pairs"): a naive shingle equi-join
    has volume Σ_g df(g)² over shingle doc-frequencies, which explodes
    quadratically on boilerplate shingles (a header shingle with
    df=10⁶ alone creates a 10¹²-row join). Instead the PROBE side
    (doc_a) contributes only its ``|H_a| − ceil(t·n_a) + 1`` RAREST
    hashed shingles (ascending global document frequency, ties by
    hash value): if C(a,b) ≥ t then |H_a ∩ H_b| ≥ ceil(t·n_a), and a
    set missing every prefix element retains only ceil(t·n_a) − 1
    elements — too few to cover the intersection — so the filter is
    LOSSLESS for the threshold regardless of the chosen order; the
    rarest-first order is what makes it cheap (a hot shingle sorts
    last and enters a prefix only for documents so small the prefix
    is the whole set). The index side (doc_b) keeps all shingles, so
    candidate volume is Σ_g df_prefix(g)·df(g) with df_prefix ≈ 0 on
    hot shingles; a ``n_b·100 ≥ n_a·t_pct`` size prune (containment
    forces |B| ≥ t·|A|) runs before the distinct. Exact intersection
    counts are then recomputed per CANDIDATE pair via
    ``array_intersect`` on the hashed sets — output is identical to
    the unfiltered join. Planted-hot-shingle bound + recall pinned in
    tests/test_dedup.py.
    """
    hs = _containment_hashed_sets(df, text_col, id_col, ngram)
    cand = _containment_candidates(hs, threshold_pct)
    # candidate id pairs are tiny in BYTES, so AQE coalesces them to a
    # couple of partitions — but each row then pays a hashed-set
    # intersect after the re-attach. Re-spread explicitly: per-row
    # compute, not byte count, is the budget.
    cand = cand.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    ha = hs.select(
        F.col("_id").alias("doc_a"),
        F.col("_n").alias("n_a"),
        F.col("_h").alias("_h_a"),
    )
    hb = hs.select(
        F.col("_id").alias("doc_b"),
        F.col("_n").alias("n_b"),
        F.col("_h").alias("_h_b"),
    )
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_h_a", "_h_b"))
            .cast("long")
            .alias("n_common"),
            "n_a",
            "n_b",
        )
        .where(
            F.col("n_common") * F.lit(100)
            >= F.col("n_a") * F.lit(threshold_pct)
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            rnd(
                F.col("n_common").cast("double") / F.col("n_a"), 4
            ).alias("containment"),
        )
    )
