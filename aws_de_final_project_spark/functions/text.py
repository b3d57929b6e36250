"""Text-analysis column builders (north-star extension, SURVEY.md §7.6).

All pure built-in ``pyspark.sql.functions`` expressions — JVM-side,
whole-stage-codegen'd, no Python in the hot path. Each builder returns
a Column so it composes into any plan.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from aws_de_final_project_spark.functions.numeric import round_half_up as rnd
from aws_de_final_project_spark.operators.util import local_frame

# Tiny per-language stopword lists for the heuristic language ID.
# Deliberately short + fixed: the point is a deterministic, cheap,
# JVM-side classifier shape, not linguistic accuracy.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en", "los"],
    "fr": ["le", "la", "de", "et", "que", "les", "des"],
    "de": ["der", "die", "das", "und", "zu", "den", "ist"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text -> array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), "\\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(tokens(c))
    )


# Conservative BPE-style pre-tokenization classes (letter runs, digit
# runs, punctuation runs) — the split a GPT-2-style regex performs
# before merges. Deliberately restricted to constructs RE2 (DuckDB)
# and java.util.regex (Spark) interpret identically, so the operator
# stays oracle-checkable.
BPE_SPLIT_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"


def bpe_ish_tokens(col: Column | str) -> Column:
    """GPT-2-style pre-tokenization -> array<string>: runs of letters,
    runs of digits, runs of punctuation (whitespace delimits)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_SPLIT_RE), F.lit(0))


def bpe_ish_token_count(col: Column | str) -> Column:
    return F.size(bpe_ish_tokens(col))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_count(col: Column | str) -> Column:
    """Number of non-alphanumeric, non-space characters."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))


def stopword_hits(col: Column | str, lang: str) -> Column:
    """How many *distinct* stopwords of ``lang`` occur in the text."""
    toks = F.array_distinct(tokens(F.lower(F.col(col) if isinstance(col, str) else col)))
    vocab = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(toks, vocab))


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits,
    ``'und'`` (undetermined) when nothing matches. Ties broken by the
    fixed language order en > es > fr > de (greatest() + reverse-check
    keeps it deterministic)."""
    hits = {lang: stopword_hits(col, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    out = F.lit("und")
    # Reverse order so earlier languages win ties (last when() wins in
    # a chain built back-to-front).
    for lang in reversed(list(STOPWORDS)):
        out = F.when((best > 0) & (hits[lang] == best), F.lit(lang)).otherwise(out)
    return out


def quality_score(col: Column | str) -> Column:
    """Cheap document-quality score in [0, 1]: rewards moderate
    length, penalizes punctuation soup — the shape of a C4-style
    heuristic filter, all JVM-side. Rounded to 4dp so the value is
    hash-stable across engines."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    n_chr = char_count(c).cast("double")
    punct_ratio = F.when(n_chr > 0, punct_count(c).cast("double") / n_chr).otherwise(
        F.lit(0.0)
    )
    length_component = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    return rnd(
        F.greatest(F.lit(0.0), length_component * (1 - punct_ratio)), 4
    )


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, strip
    non-alphanumerics to spaces, collapse runs of whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "), "\\s+", " "
        )
    )


def fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit document fingerprint: md5 of the
    normalized text. md5 is bit-identical across Spark and any ANSI
    oracle, unlike engine-specific hash64s."""
    return F.md5(normalized_text(col))


def mean_word_len(col: Column | str) -> Column:
    """Mean characters per whitespace token (0 for empty docs) — a
    Gopher-rule signal: real prose sits ~3-10; OCR noise and code
    fall outside."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    total = F.aggregate(
        F.transform(toks, lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.when(
        F.size(toks) > 0, total.cast("double") / F.size(toks).cast("double")
    ).otherwise(F.lit(0.0))


def symbol_ratio(col: Column | str) -> Column:
    """Non-alphanumeric, non-whitespace characters / all characters
    (0 for empty docs)."""
    c = F.col(col) if isinstance(col, str) else col
    n_chr = char_count(c).cast("double")
    return F.when(n_chr > 0, punct_count(c).cast("double") / n_chr).otherwise(
        F.lit(0.0)
    )


def dup_line_frac(col: Column | str) -> Column:
    """Fraction of lines that are duplicates of an earlier line —
    boilerplate/template pages repeat themselves; prose doesn't."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, "\n")
    return (
        F.size(lines) - F.size(F.array_distinct(lines))
    ).cast("double") / F.size(lines).cast("double")


def gopher_keep(
    col: Column | str,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_mean_word: float = 3.0,
    max_mean_word: float = 12.0,
    max_symbol_ratio: float = 0.1,
    max_dup_line_frac: float = 0.3,
) -> Column:
    """Gopher-style quality gate (Rae et al. 2021, §A1.1 repetition +
    quality rules, re-expressed as one boolean column): token-count
    window, mean-word-length window, symbol-ratio cap, duplicate-line
    cap. Pure built-ins — the filter runs in the scan stage and rows
    drop before any shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    mwl = mean_word_len(c)
    return (
        (n_tok >= min_tokens)
        & (n_tok <= max_tokens)
        & (mwl >= min_mean_word)
        & (mwl <= max_mean_word)
        & (symbol_ratio(c) <= max_symbol_ratio)
        & (dup_line_frac(c) <= max_dup_line_frac)
    )


# Conservative PII patterns restricted to constructs java.util.regex
# and RE2 (DuckDB) interpret identically — keeps the transform
# oracle-checkable. Order matters: emails first (their local part
# would otherwise half-match the number patterns).
PII_PATTERNS = (
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", "<PHONE>"),
    ("[0-9]{9,}", "<ID>"),
)


def redact_pii(col: Column | str) -> Column:
    """Replace email / phone / long-id spans with typed placeholders —
    the scrubbing pass a training-data pipeline runs before anything
    else sees the text. Chained JVM regexp_replace: scan-stage, no
    Python, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def sentence_count(col: Column | str) -> Column:
    """Sentence count ~ runs of terminal punctuation, floored at 1
    (a fragment with no terminator is one sentence)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))


def syllable_count(col: Column | str) -> Column:
    """Syllable approximation: vowel groups (incl. y). The standard
    cheap estimator — exact syllabification needs a dictionary; vowel
    runs are within ~10% on English prose and deterministic."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(r"[aeiouy]+"))


def flesch_reading_ease(col: Column | str) -> Column:
    """Flesch reading ease (Flesch 1948): 206.835 - 1.015*(words/
    sentences) - 84.6*(syllables/words). Higher = easier. All three
    counts are single-pass regex expressions — the whole score stays
    in whole-stage codegen, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    words = token_count(c).cast("double")
    sents = sentence_count(c).cast("double")
    sylls = syllable_count(c).cast("double")
    return (
        F.lit(206.835)
        - F.lit(1.015) * (words / sents)
        - F.lit(84.6) * (sylls / words)
    )


def phrase_occurrences(col: Column | str, phrase: str) -> Column:
    """Occurrences of an exact word sequence in the normalized text,
    counted entirely in codegen: the space-padded normalized text is
    scanned for the space-padded normalized phrase via the
    length-difference-after-replace identity. Matches are
    non-overlapping, left-to-right (``replace`` semantics — identical
    in ANSI engines, so the count is oracle-portable); back-to-back
    repeats that share a boundary space count as one fewer, which is
    the standard non-overlapping convention. Word padding prevents
    substring false positives ('data model' never matches inside
    'bigdata model')."""
    import re as _re

    c = F.col(col) if isinstance(col, str) else col
    norm_phrase = _re.sub(
        r"\s+", " ", _re.sub(r"[^a-z0-9]+", " ", phrase.lower())
    ).strip()
    if not norm_phrase:
        raise ValueError("phrase normalizes to empty")
    needle = f" {norm_phrase} "
    hay = F.concat(F.lit(" "), normalized_text(c), F.lit(" "))
    return (
        (F.length(hay) - F.length(F.replace(hay, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def nfc_normalize(col: Column | str) -> Column:
    """Unicode NFC normalization — the canonical-composition pass a
    multilingual corpus needs before ANY hash-keyed dedup (the same
    visible string can arrive as composed U+00E9 or decomposed
    e+U+0301; md5/shingle/minhash keys then disagree on equal text
    and every dedup family silently under-merges).

    Spark has NO built-in Unicode normalizer, so this is the
    documented exception to the all-JVM rule: an Arrow-vectorized
    pandas UDF (one ``unicodedata.normalize`` call per Arrow batch
    column — pandas .str is C-backed; NOT a row-at-a-time Python
    UDF). The DuckDB twin is the built-in ``nfc_normalize`` — both
    implement the Unicode-standard NFC, so the oracle hash-checks
    the vectorized-UDF path itself. At 100 TB this runs inside the
    scan stage like any projection; the only cost is the Arrow
    serialize/deserialize of the text column.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        # pandas' vectorized normalizer (NaN/None pass through); the
        # unicodedata ground-truth equivalence is pinned in
        # tests/test_webcrawl.py
        return s.str.normalize("NFC")

    c = F.col(col) if isinstance(col, str) else col
    return _nfc(c)


def _mojibake_form(ch: str) -> str:
    """The mojibake rendering of ``ch``: its UTF-8 bytes re-read as
    "sloppy cp1252" (Windows-1252 with a Latin-1 fallback for the five
    unmapped bytes — the de-facto decoding browsers and ftfy model).
    Generated, not hand-typed, so the pair table cannot contain a
    transcription error."""
    out = []
    for b in ch.encode("utf-8"):
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


#: Characters whose UTF-8-read-as-cp1252 forms dominate real-world
#: mojibake: Latin-1 letters common in European text, cp1252
#: punctuation (curly quotes, dashes, ellipsis), and a few symbols.
MOJIBAKE_CHARS = (
    "éèêëàáâäåçíìîïóòôöøúùûüñýßœæ"
    "ÉÈÀÄÅÖÜÑÇ"
    "“”‘’–—…€™°«»"
)

#: (bad, good) pairs, LONGEST bad form first so a 3-byte sequence is
#: never half-claimed by a 2-byte prefix rule.
MOJIBAKE_PAIRS: tuple[tuple[str, str], ...] = tuple(
    sorted(
        ((_mojibake_form(c), c) for c in MOJIBAKE_CHARS),
        key=lambda p: (-len(p[0]), p[0]),
    )
)


def repair_mojibake(col: Column | str) -> Column:
    """Repair UTF-8-read-as-cp1252 mojibake ("cafÃ©" -> "café",
    "donâ€™t" -> "don’t") — the ftfy-style encoding-repair pass a
    crawl corpus needs before hashing/dedup (mojibake splits one
    logical document into distinct byte strings and poisons token
    statistics).

    One chained literal ``replace`` per pair (same construction as
    html_extract_text's entity decoding): pure scan-side codegen,
    zero UDFs/shuffles, and the DuckDB oracle interpolates the SAME
    generated pair table so the two sides cannot drift.

    Single-pass by design: doubly-encoded text ("ÃƒÂ©") repairs one
    layer per application. A legitimate literal "Ã©" in the source is
    the documented false-positive trade (ftfy makes the same bet —
    the sequences are vanishingly rare as intended text)."""
    t = F.col(col) if isinstance(col, str) else col
    for bad, good in MOJIBAKE_PAIRS:
        t = F.replace(t, F.lit(bad), F.lit(good))
    return t


#: Sentence boundary: one-or-more terminators followed by whitespace
#: (explicit WS class — Java \s matches U+000B, RE2's does not; same
#: dialect discipline as webcrawl.WS_RE so the DuckDB twin replays
#: byte-identically). A terminator at end-of-text yields a trailing
#: empty piece, filtered on both sides.
SENT_SPLIT_RE = r"[.!?]+[ \t\n\x0B\f\r]+"
_SENT_WS_RE = r"[ \t\n\x0B\f\r]+"


def sentences(col: Column | str) -> Column:
    """Regex sentence segmentation -> array<string> of trimmed,
    non-empty sentences. The abbreviation-blind trade ("Dr. Smith"
    splits) is the standard price of a linear-scan splitter; models
    needing better boundaries run a trained segmenter downstream.
    Pure scan-side codegen."""
    c = F.col(col) if isinstance(col, str) else col
    # the final sentence keeps its terminator (no trailing whitespace
    # to split on) — strip terminator runs so every piece is uniform
    return F.filter(
        F.transform(
            F.split(c, SENT_SPLIT_RE),
            lambda s: F.trim(
                F.regexp_replace(F.trim(s), r"[.!?]+$", "")
            ),
        ),
        lambda s: F.length(s) > 0,
    )


def sentence_stats(col: Column | str) -> Column:
    """Per-document sentence statistics as a struct
    (n_sentences, total_words, max_chars): inputs to length/shape
    quality rules (Gopher gates mean-words-per-sentence). All array
    higher-order functions over one :func:`sentences` pass — zero
    shuffles, zero UDFs; empty docs give (0, 0, NULL)."""
    s = sentences(col)
    words = F.transform(
        s, lambda x: F.size(F.split(x, _SENT_WS_RE))
    )
    return F.struct(
        F.size(s).cast("long").alias("n_sentences"),
        F.aggregate(
            words, F.lit(0).cast("long"), lambda a, b: a + b
        ).alias("total_words"),
        F.array_max(
            F.transform(s, lambda x: F.length(x))
        ).cast("long").alias("max_chars"),
    )


#: Placeholder lexicon for C4-style word-list filtering: stands in
#: for a curated blocklist (C4 used a public "bad words" list; the
#: real lexicon is a deployment input — swap the tuple, the plan
#: shape is identical at any size that fits a literal IN-set, and
#: beyond that the same broadcast pattern as the host blocklist).
FILTER_LEXICON: tuple[str, ...] = (
    "casino", "jackpot", "lottery", "viagra", "warez",
    "clickbait", "freebie", "giveaway", "spam", "scam",
)


def lexicon_hits(col: Column | str, lexicon: tuple[str, ...] = FILTER_LEXICON) -> Column:
    """Count of normalized tokens that appear in ``lexicon`` — the
    C4 word-list filter signal (doc dropped when any hit). The
    lexicon ships as a constant array literal probed per token inside
    a higher-order filter in the scan stage — zero joins/shuffles
    (linear in the lexicon per token; a lexicon too large for that
    uses the host-blocklist broadcast pattern instead)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(normalized_text(c), " ")
    lex = F.array(*[F.lit(w) for w in lexicon])
    return F.size(
        F.filter(toks, lambda t: F.array_contains(lex, t))
    ).cast("long")


def mojibake_chars_recovered(col: Column | str) -> Column:
    """Per-row repair magnitude: character-length delta of
    :func:`repair_mojibake` (every pair maps n>=2 chars to 1, so the
    delta is positive iff anything was repaired)."""
    t = F.col(col) if isinstance(col, str) else col
    return (F.length(t) - F.length(repair_mojibake(t))).cast("long")


def _collect_vocab(vocab) -> dict[str, int]:
    """The one driver collect every tokenizer trainer starts from: the
    cluster-reduced (w, c) vocabulary as ``{w: c}``. Duplicate words
    sum, as they do in every corpus-weighted count the trainers take."""
    wc: dict[str, int] = {}
    for r in vocab.select("w", "c").collect():
        wc[r.w] = wc.get(r.w, 0) + r.c
    return wc


def py_bpe_train_merges(
    word_counts: dict[str, int], n_merges: int = 16
) -> list[tuple[int, str, str, int]]:
    """BPE merge loop over a word-frequency vocabulary: boundary-encoded
    ``<sym>`` strings, all-adjacent corpus-weighted pair counts, the
    (freq DESC, lhs, rhs) argmax tie-break, and left-to-right
    non-overlapping ``str.replace`` merge application (the same
    all-occurrences contract as the SQL ``replace`` the DuckDB oracle
    unrolls). Pinned against an independent Sennrich-style reference
    by tests/test_curation.py::test_bpe_train_merges_match_python_reference."""
    rows = [
        ("".join(f"<{ch}>" for ch in w), c)
        for w, c in word_counts.items()
    ]
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        freq: dict[tuple[str, str], int] = {}
        for enc, c in rows:
            s = enc[1:-1].split("><") if len(enc) >= 2 else []
            for i in range(len(s) - 1):
                pair = (s[i], s[i + 1])
                freq[pair] = freq.get(pair, 0) + c
        if not freq:
            break
        (lhs, rhs), f = min(
            freq.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((step, lhs, rhs, f))
        old, new = f"<{lhs}><{rhs}>", f"<{lhs}{rhs}>"
        rows = [(e.replace(old, new), c) for e, c in rows]
    return merges


BPE_MERGES_SCHEMA = "step int, lhs string, rhs string, freq long"


def bpe_train_merges(vocab, n_merges: int = 16):
    """Full BPE tokenizer training over a word-frequency VOCABULARY:
    ``vocab`` is a DataFrame (w, c) — the output of the one corpus
    aggregate that makes web-scale BPE tractable (100 TB of text
    collapses to |vocab| rows before any per-character work) — and
    the result is the ordered merge table (step, lhs, rhs, freq), the
    artifact a GPT-2-style trainer ships.

    Each of the ``n_merges`` iterations is classic Sennrich et al.
    BPE: count adjacent SYMBOL pairs corpus-weighted, merge the
    argmax (ties broken freq DESC then (lhs, rhs) lexicographic —
    deterministic over the [a-z0-9] alphabet), apply greedily
    left-to-right.

    Scale contract: the corpus reduces to (w, c) on the cluster, the
    vocabulary is collected to the driver once (one Spark job), and
    the merge loop runs in memory (:func:`py_bpe_train_merges`). So
    |vocab| is bounded by driver memory — the posture of the
    SentencePiece trainer, which also counts words first and trains
    in memory.

    The symbol sequence rides as a ``<sym><sym>...`` STRING: the
    explicit ``<``/``>`` boundaries (never in the [a-z0-9] symbol
    alphabet) make greedy merge application a plain substring
    ``replace('<l><r>', '<lr>')`` — left-to-right non-overlapping, so
    overlapping runs (``aaa`` under an ``aa`` merge) and prefix
    ambiguity (``<t><he>`` under a ``(t, h)`` merge) are handled for
    free, and the DuckDB oracle replays the identical 16 unrolled
    iterations with the identical replace.
    """
    return local_frame(
        vocab.sparkSession,
        py_bpe_train_merges(_collect_vocab(vocab), n_merges),
        BPE_MERGES_SCHEMA,
    )


def lexicon_hits_arrow(
    df,
    text_col: str,
    id_col: str,
    lexicon: tuple[str, ...] = FILTER_LEXICON,
):
    """Deployment-size twin of :func:`lexicon_hits` — the path for
    word lists too large for a literal IN-set (real C4-style
    blocklists run to tens of thousands of terms; at ~2^16+ literals
    the IN-set's plan text is the same driver-side pathology as the
    classifier's literal weight bank). The lexicon rides the task
    closure as ONE frozenset (a 100k-word list is a few MB —
    broadcast-sized, never SQL text) and every Arrow batch counts
    whole-token hits with an exact set probe: scan-side, zero joins,
    zero shuffles — same posture as the classifier's Arrow path, and
    the 'broadcast side-structure' answer the host-blocklist join
    cannot give (a join can filter rows by key but cannot COUNT
    per-row membership without re-aggregating the corpus).

    Tokenization replicates :func:`normalized_text` + split exactly
    (lowercase, non-[a-z0-9] runs to spaces, whole tokens), pinned by
    the agreement test vs the IN-set form in tests/test_webcrawl.py.

    Returns (id_col, n_lexicon_hits, flagged) — one row per input.
    NULL text yields NULL hits/flagged, matching the IN-set form
    (where split/size propagate the NULL) — pinned by a NULL row in
    tests/test_webcrawl.py::test_lexicon_arrow_agrees_with_inset.
    """
    import re as _re

    lex = frozenset(lexicon)
    id_type = df.schema[id_col].dataType.simpleString()
    strip = _re.compile("[^a-z0-9]+")

    def count(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            hits: list[int | None] = []
            for text in pdf[text_col].astype(object):
                if not isinstance(text, str):
                    hits.append(None)
                    continue
                toks = strip.sub(" ", text.lower()).split()
                hits.append(sum(1 for t in toks if t in lex))
            h = pd.array(hits, dtype="Int64")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "n_lexicon_hits": h,
                    "flagged": (h > 0).astype("Int32"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        count, f"{id_col} {id_type}, n_lexicon_hits long, flagged int"
    )


#: Vendored stand-in merge table for corpus-scale ENCODING (the
#: offline-training counterpart is :func:`bpe_train_merges`, oracled
#: separately): 16 common-English merges in application order, the
#: same (lhs, rhs) shape a trained table ships. Constants, so the
#: encode plan is pure codegen and the DuckDB twin interpolates the
#: identical pairs.
BPE_VENDORED_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("an", "d"), ("o", "n"), ("r", "e"),
    ("o", "u"), ("e", "d"), ("in", "g"), ("s", "t"),
    ("a", "t"), ("e", "n"), ("o", "r"), ("t", "o"),
)


def bpe_encode_symbol_count(
    col: Column | str,
    merges: tuple[tuple[str, str], ...] = BPE_VENDORED_MERGES,
) -> Column:
    """Number of BPE symbols the text encodes to under an ordered
    merge table — the INFERENCE side of BPE, the per-document token
    count every packing/sharding/budget stage keys on, computed at
    corpus scale as ONE codegen projection (the 100 TB path: encode
    rides the ingest scan; training ran offline on the vocab
    aggregate).

    Implementation: normalized text with every [a-z0-9] char wrapped
    in ``<>`` boundaries (spaces stay bare, so merges never cross
    words), then the merge table applied IN ORDER as plain substring
    replaces — identical greedy left-to-right semantics and identical
    ``<sym>`` encoding as :func:`bpe_train_merges`, so a table it
    trains plugs straight in. Symbol count = count of ``<``."""
    enc = bpe_boundary_encode(col, merges)
    return (
        F.length(enc) - F.length(F.replace(enc, F.lit("<"), F.lit("")))
    ).cast("long")


# Unicode script ranges for script-mix detection, deliberately BMP-only
# (Java's length/regex counts UTF-16 units, DuckDB counts codepoints —
# identical over the BMP, so every count below is engine-portable).
# \x{hhhh} parses identically in java.util.regex and RE2.
SCRIPT_RANGES: dict[str, str] = {
    "latin": r"[A-Za-z\x{00C0}-\x{024F}]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "greek": r"[\x{0370}-\x{03FF}]",
    "arabic": r"[\x{0600}-\x{06FF}]",
    # kana + CJK unified + hangul syllables
    "cjk": r"[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]",
}

#: Non-whitespace, as the explicit class (the \s/\x0B dialect edge).
NONSPACE_RE = r"[^ \t\n\x0B\f\r]"


def script_counts(col: Column | str) -> dict[str, Column]:
    """Per-script character counts + the non-whitespace total — the
    script-mix signal multilingual curation pipelines route on (keep
    the target script, flag mixed-script spam/confusables). Pure
    ``regexp_count`` codegen: zero shuffles, rides the ingest scan."""
    c = F.col(col) if isinstance(col, str) else col
    out = {
        f"n_{name}": F.regexp_count(c, F.lit(pat)).cast("long")
        for name, pat in SCRIPT_RANGES.items()
    }
    out["n_nonspace"] = F.regexp_count(c, F.lit(NONSPACE_RE)).cast("long")
    return out


def dominant_script(col: Column | str) -> Column:
    """Argmax script by character count, ``'und'`` when no script
    range matches; ties broken by the fixed SCRIPT_RANGES order
    (same greatest+reverse-chain determinism as lang_id)."""
    counts = {name: F.regexp_count(
        F.col(col) if isinstance(col, str) else col, F.lit(pat)
    ) for name, pat in SCRIPT_RANGES.items()}
    best = F.greatest(*counts.values())
    out = F.lit("und")
    for name in reversed(list(SCRIPT_RANGES)):
        out = F.when(
            (best > 0) & (counts[name] == best), F.lit(name)
        ).otherwise(out)
    return out


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer training (Kudo 2018;
# r10 verdict item 6): seed vocabulary from corpus-weighted substring
# counts, then EM rounds where the E-step Viterbi-segments every
# vocabulary word under integer-quantized piece log-probs and the
# M-step re-estimates piece counts from the segmentations. Like BPE
# training it runs in memory on the collected |vocab| word aggregate —
# 100 TB of text collapses to |vocab| rows before any per-character
# work.
#
# Engine-exactness discipline: piece log-probs are quantized to
# BIGINT once per round (floor(1e4 * ln(c/T) + 0.5) — the DSIR/KN
# 4dp-int rule), the DP then sums and compares exact integers, and
# ties take the SMALLEST back-pointer k (= the longest final piece),
# so the trainer and the DuckDB oracles walk identical segmentations.
# ---------------------------------------------------------------------------

UNIGRAM_MAX_PIECE_LEN = 4
UNIGRAM_MAX_WORD_LEN = 10
UNIGRAM_NEG_INF = -(1 << 40)  # worse than any real path, sums safely


def _py_quantize_scores(cnts: dict[str, int]) -> dict[str, int]:
    """(piece, c) -> 4dp-quantized BIGINT log-probs,
    floor(10000 * ln(c/T) + 0.5) with T = sum(c): the once-per-round
    quantization that keeps the DP integer."""
    import math

    t = sum(cnts.values())
    return {
        p: math.floor(10000.0 * math.log(c / t) + 0.5)
        for p, c in cnts.items()
    }


def _py_trunc_word_counts(
    word_counts: dict[str, int], max_word_len: int
) -> dict[str, int]:
    """Truncate + re-sum word counts to ``max_word_len`` chars;
    zero-length words carry no segmentation and are dropped."""
    wc: dict[str, int] = {}
    for w, c in word_counts.items():
        if w:
            wc[w[:max_word_len]] = wc.get(w[:max_word_len], 0) + c
    return wc


def _py_viterbi_pieces(
    w: str, s: dict[str, int], max_piece_len: int
) -> list[str]:
    """Viterbi segmentation of one (truncated) word under quantized
    scores, pieces in BACKTRACK order (last piece first); ties take
    the smallest back-pointer."""
    n = len(w)
    best: list[int | None] = [0] + [None] * n
    bp = [0] * (n + 1)
    for j in range(1, n + 1):
        cand = []
        for k in range(max(0, j - max_piece_len), j):
            cand.append((best[k] + s.get(w[k:j], UNIGRAM_NEG_INF), k))
        bj = max(t[0] for t in cand)
        best[j] = bj
        bp[j] = min(k for t, k in cand if t == bj)
    pieces, cur = [], n
    while cur > 0:
        pieces.append(w[bp[cur] : cur])
        cur = bp[cur]
    return pieces


def py_unigram_trained_counts(
    word_counts: dict[str, int],
    n_iters: int = 2,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    n_multi: int = 48,
    max_word_len: int = UNIGRAM_MAX_WORD_LEN,
) -> dict[str, int]:
    """Seed bank + EM loop: {piece: final count}. The seed keeps every
    single character of the truncated words (the Viterbi fallback path
    can never dead-end) plus the top ``n_multi`` multi-char substrings
    of length <= ``max_piece_len`` by (count DESC, piece ASC); each
    round re-counts pieces with add-one smoothing over that FIXED
    bank."""
    wc = _py_trunc_word_counts(word_counts, max_word_len)
    seed: dict[str, int] = {}
    for w, c in wc.items():
        for i in range(len(w)):
            for ln in range(1, min(max_piece_len, len(w) - i) + 1):
                seed[w[i : i + ln]] = seed.get(w[i : i + ln], 0) + c
    singles = {p: c for p, c in seed.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in seed.items() if len(p) >= 2),
        key=lambda t: (-t[1], t[0]),
    )[:n_multi]
    counts = dict(singles)
    counts.update(dict(multis))
    bank = set(counts)
    for _ in range(n_iters):
        s = _py_quantize_scores(counts)
        used: dict[str, int] = {}
        for w, c in wc.items():
            for piece in _py_viterbi_pieces(w, s, max_piece_len):
                used[piece] = used.get(piece, 0) + c
        counts = {p: used.get(p, 0) + 1 for p in bank}
    return counts


def py_unigram_word_stats(
    word_counts: dict[str, int],
    n_iters: int = 2,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    n_multi: int = 48,
    max_word_len: int = UNIGRAM_MAX_WORD_LEN,
) -> dict[str, tuple[int, int]]:
    """{w10: (n_pieces, sum_s)} with sum_s the BIGINT sum of the
    final-round quantized log-probs along each word's Viterbi
    segmentation."""
    s = _py_quantize_scores(py_unigram_trained_counts(
        word_counts, n_iters, max_piece_len, n_multi, max_word_len
    ))
    out: dict[str, tuple[int, int]] = {}
    for w in _py_trunc_word_counts(word_counts, max_word_len):
        ps = _py_viterbi_pieces(w, s, max_piece_len)
        out[w] = (len(ps), sum(s[p] for p in ps))
    return out


def py_unigram_word_pieces(
    word_counts: dict[str, int],
    n_iters: int = 2,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    n_multi: int = 48,
    max_word_len: int = UNIGRAM_MAX_WORD_LEN,
) -> dict[str, list[str]]:
    """{w10: pieces} under the final scores, pieces in BACKTRACK order
    (last piece first)."""
    s = _py_quantize_scores(py_unigram_trained_counts(
        word_counts, n_iters, max_piece_len, n_multi, max_word_len
    ))
    return {
        w: _py_viterbi_pieces(w, s, max_piece_len)
        for w in _py_trunc_word_counts(word_counts, max_word_len)
    }


def _unigram_vocab_frame(spark, cnts: dict[str, int]):
    """Trained {piece: c} -> the (piece, count, logp) model table in
    (count DESC, piece) order, logp the 4dp-quantized log-prob
    floor(10000 * ln(c/T) + 0.5) / 10000 as a Spark expression with
    T = sum(c) a literal (:func:`_py_quantize_scores` is its Python
    twin)."""
    rows = sorted(cnts.items(), key=lambda pc: (-pc[1], pc[0]))
    t = float(sum(cnts.values()))
    s = F.floor(
        F.log(F.col("count").cast("double") / F.lit(t)) * 10000.0 + 0.5
    ).cast("long")
    return local_frame(spark, rows, "piece string, count long").select(
        "piece", "count", (s.cast("double") / 10000.0).alias("logp")
    )


def unigram_trained_counts(
    vocab,
    n_iters: int = 2,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    n_multi: int = 48,
    max_word_len: int = UNIGRAM_MAX_WORD_LEN,
):
    """The EM training loop behind :func:`unigram_train`: the final
    (piece, c) counts frame, trained in memory on the collected
    vocabulary (:func:`py_unigram_trained_counts`; scale contract as
    in :func:`unigram_train`)."""
    cnts = py_unigram_trained_counts(
        _collect_vocab(vocab), n_iters, max_piece_len, n_multi,
        max_word_len,
    )
    return local_frame(
        vocab.sparkSession, sorted(cnts.items()), "piece string, c long"
    )


def unigram_word_stats(
    vocab,
    n_iters: int = 2,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    n_multi: int = 48,
    max_word_len: int = UNIGRAM_MAX_WORD_LEN,
):
    """Corpus ENCODING side of the unigram model: train, then
    Viterbi-segment every (truncated) vocabulary word under the FINAL
    scores and return per-word stats (w10, n_pieces, sum_s) with
    sum_s the BIGINT sum of the 4dp-quantized piece log-probs. This
    is the |vocab|-row lookup table a 100 TB encode pass broadcasts —
    documents then join it instead of re-running the DP per
    occurrence. Trains and segments in memory on the collected
    vocabulary (:func:`py_unigram_word_stats`; scale contract as in
    :func:`unigram_train`)."""
    stats = py_unigram_word_stats(
        _collect_vocab(vocab), n_iters, max_piece_len, n_multi,
        max_word_len,
    )
    return local_frame(
        vocab.sparkSession,
        [(w, n, s) for w, (n, s) in sorted(stats.items())],
        "w10 string, n_pieces long, sum_s long",
    )


def unigram_train(
    vocab,
    n_iters: int = 2,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    n_multi: int = 48,
    max_word_len: int = UNIGRAM_MAX_WORD_LEN,
):
    """Full unigram-LM training: seed bank -> ``n_iters`` EM rounds
    (quantize scores; Viterbi-segment the vocab; re-count pieces with
    add-one smoothing over the FIXED bank — no pruning, documented
    simplification) -> (piece, count, logp) with logp the final-round
    4dp quantized log-prob. Words are truncated to ``max_word_len``
    chars for the E-step statistic (SentencePiece bounds candidate
    lengths the same way); counts are corpus-weighted BIGINTs
    end-to-end.

    Scale contract: the corpus reduces to (w, c) on the cluster, the
    vocabulary is collected to the driver once (one Spark job), and
    the EM loop runs in memory (:func:`py_unigram_trained_counts`).
    So |vocab| is bounded by driver memory — the posture of the
    SentencePiece trainer."""
    return _unigram_vocab_frame(
        vocab.sparkSession,
        py_unigram_trained_counts(
            _collect_vocab(vocab), n_iters, max_piece_len, n_multi,
            max_word_len,
        ),
    )


def unigram_word_pieces(
    vocab,
    n_iters: int = 2,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    n_multi: int = 48,
    max_word_len: int = UNIGRAM_MAX_WORD_LEN,
):
    """Final-scores Viterbi segmentation per vocabulary word:
    (w10, pieces) with ``pieces`` in BACKTRACK order (LAST piece
    first), so reassembly — the decode(encode(w)) identity — is
    ``array_join(reverse(pieces), '') == w10``. Same train-once /
    segment-the-vocab-once shape as :func:`unigram_word_stats`; a
    100 TB round-trip audit broadcasts this |vocab|-row table.
    Trains and segments in memory on the collected vocabulary
    (:func:`py_unigram_word_pieces`; scale contract as in
    :func:`unigram_train`)."""
    pieces = py_unigram_word_pieces(
        _collect_vocab(vocab), n_iters, max_piece_len, n_multi,
        max_word_len,
    )
    return local_frame(
        vocab.sparkSession,
        sorted(pieces.items()),
        "w10 string, pieces array<string>",
    )


def bpe_boundary_encode(
    col: Column | str,
    merges: tuple[tuple[str, str], ...] = BPE_VENDORED_MERGES,
) -> Column:
    """The ``<sym>`` boundary-encoded form of the normalized text
    under an ordered merge table — the string
    :func:`bpe_encode_symbol_count` counts symbols of, exposed so the
    round-trip audit can DECODE it (strip the boundaries) and compare
    against the normalized input."""
    c = F.col(col) if isinstance(col, str) else col
    enc = F.regexp_replace(normalized_text(c), "([a-z0-9])", "<$1>")
    for lhs, rhs in merges:
        enc = F.replace(
            enc, F.lit(f"<{lhs}><{rhs}>"), F.lit(f"<{lhs}{rhs}>")
        )
    return enc


def bpe_boundary_decode(enc: Column) -> Column:
    """Inverse of :func:`bpe_boundary_encode`: merges only ever
    concatenate symbol CONTENTS, so stripping the ``<``/``>``
    boundaries recovers the normalized text exactly — the BPE
    round-trip identity."""
    return F.replace(
        F.replace(enc, F.lit("<"), F.lit("")), F.lit(">"), F.lit("")
    )


def _xor_checksum(renderings: list[str]) -> tuple[int, int]:
    """(n_rows, order-insensitive content checksum) over row
    renderings: XOR of the 60-bit ints from each row's md5 prefix —
    the engine-portable fingerprint discipline (md5 + conv in Spark,
    '0x'||substr cast in the DuckDB oracles)."""
    import hashlib

    x = 0
    for r in renderings:
        x ^= int(hashlib.md5(r.encode("utf-8")).hexdigest()[:15], 16)
    return len(renderings), x


def export_tokenizer_model(
    vocab,
    out_dir: str,
    n_merges: int = 16,
    n_iters: int = 2,
) -> dict:
    """Train BOTH tokenizer families on the word-frequency vocabulary
    and materialize the model artifacts a tokenizer consumer loads
    outside the engine (the SentencePiece model-file contract, r11
    verdict item 5): ``bpe_merges`` parquet (step, lhs, rhs, freq —
    the ordered merge list) and ``unigram_vocab`` parquet (piece,
    count, logp), plus ``_manifest.json`` alongside (underscore
    prefix: invisible to Spark's file index, the write_token_shards
    precedent) carrying per-artifact row counts and order-insensitive
    content checksums so re-exports are diffable and a consumer can
    verify integrity before loading.

    Checksums render only the INTEGER/STRING fields (merges:
    step|lhs|rhs|freq; vocab: piece|count) — logp is a pure function
    of the counts, so including a float rendering would add
    cross-engine drift risk without pinning anything extra. They are
    computed in Python on the driver, over the same rows each artifact
    is written from (the DuckDB oracle replays them independently).
    Determinism (same corpus -> byte-identical manifest) is pinned in
    tests/test_curation.py::test_export_tokenizer_model_deterministic.

    The vocabulary is collected ONCE and both families train from
    that one dict, so the corpus-sized aggregate upstream of
    ``vocab`` runs once (scale contract as in :func:`bpe_train_merges`);
    each artifact is then one write of a pre-sorted local frame — three
    Spark jobs in all."""
    import json
    import os

    spark = vocab.sparkSession
    wc = _collect_vocab(vocab)
    merges = py_bpe_train_merges(wc, n_merges)
    cnts = py_unigram_trained_counts(wc, n_iters)
    local_frame(spark, merges, BPE_MERGES_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "bpe_merges"))
    _unigram_vocab_frame(spark, cnts).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "unigram_vocab"))
    m_n, m_x = _xor_checksum(["|".join(map(str, m)) for m in merges])
    u_n, u_x = _xor_checksum([f"{p}|{c}" for p, c in cnts.items()])
    manifest = {
        "format_version": 1,
        "n_merges": n_merges,
        "n_iters": n_iters,
        "artifacts": [
            {"artifact": "bpe_merges", "n_rows": m_n, "checksum_xor": m_x},
            {"artifact": "unigram_vocab", "n_rows": u_n,
             "checksum_xor": u_x},
        ],
    }
    with open(os.path.join(out_dir, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
