"""Multilingual language ID (operators/langid): Python ground-truth
replay of the hashed char-n-gram linear model, held-out planted-
language discrimination (incl. the non-Latin scripts the stopword
heuristic cannot do), arrow==sql bit-agreement incl. the NULL-text
contract, training determinism, and the shuffle-free plan pin.
Oracle parity for the registered entry lives in
tests/test_oracle_parity.py (lang_id_classifier_docs)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from aws_de_final_project_spark.operators import langid as LI
from aws_de_final_project_spark.operators.classifier import _py_bucket
from aws_de_final_project_spark.plans.extensions import LANGID_FIXTURE


def _py_predict(text: str) -> tuple[int, str, float]:
    """Driver-side replay of lang_id_scores' exact arithmetic: int
    bank gather-fold, /1e4, mean pool, +bias, 4dp half-up round,
    lexicographic-first argmax."""
    m = LI.train_langid_weights()
    grams = LI._py_grams(text)
    best_lang, best = None, None
    for lang in LI.LANGID_LANGS:
        w_int, bias = m[lang]
        if not grams:
            logit = float(bias)
        else:
            acc = sum(w_int[_py_bucket(g, LI.LANGID_BUCKETS)] for g in grams)
            logit = float(bias) + (acc / 10000.0) / float(len(grams))
        logit = math.floor(logit * 10000.0 + 0.5) / 10000.0
        if best is None or logit > best:
            best_lang, best = lang, logit
    return len(grams), best_lang, best


def test_training_is_deterministic_and_quantized():
    m1 = LI.train_langid_weights()
    assert set(m1) == set(LI.LANGID_LANGS)
    for lang in LI.LANGID_LANGS:
        w, b = m1[lang]
        assert len(w) == LI.LANGID_BUCKETS
        assert all(isinstance(v, int) for v in w)
        assert b == round(b, 4)
    # lru_cache + fixed init/schedule: same object, same values
    assert LI.train_langid_weights() is m1


def test_training_sentences_self_classify():
    """>=95% of the vendored TRAINING sentences must classify as their
    own language under the quantized int banks (a handful of es/pt/it
    confusions survive 1024-bucket hashing + 4dp quantization — the
    contract the ORACLE pins is 100% on the held-out fixture, tested
    below)."""
    total, misses = 0, []
    for lang, sents in LI.LANGID_SAMPLES.items():
        for s in sents:
            total += 1
            _, pred, _ = _py_predict(s)
            if pred != lang:
                misses.append((lang, pred, s))
    assert len(misses) <= total * 0.05, misses


def test_held_out_fixture_sentences_classify(spark):
    """The entry's HELD-OUT sentences (not in LANGID_SAMPLES) must all
    classify correctly through the actual Spark sql path — this is the
    discrimination the oracle's `match` column pins at sf scale."""
    rows = []
    want = {}
    i = 0
    for lang, variants in LANGID_FIXTURE.items():
        assert lang in LI.LANGID_LANGS
        for v in variants:
            assert all(
                v not in sents for sents in LI.LANGID_SAMPLES.values()
            ), f"fixture sentence leaked into training set: {v!r}"
            rows.append((i, v))
            want[i] = lang
            i += 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r.lang_pred
        for r in LI.lang_id_scores(df, "text", "doc_id", impl="sql").collect()
    }
    misses = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not misses, misses


def test_beats_stopword_heuristic_on_non_latin(spark):
    """The r9 verdict gap: functions/text.lang_id is a 4-language
    Latin-script stopword heuristic — it cannot identify zh or ru.
    The classifier must get BOTH right where the heuristic gets
    neither."""
    from aws_de_final_project_spark.functions import text as TX

    # held-out (not in LANGID_SAMPLES); ru is not in LANGID_FIXTURE
    # because the documents table's lang column has no ru docs
    rows = [
        (0, "ru", "поезд прибывает на станцию вовремя сегодня"),
        (1, "zh", LANGID_FIXTURE["zh"][0]),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    heur = {
        r.doc_id: r.p
        for r in df.select("doc_id", TX.lang_id("text").alias("p")).collect()
    }
    clf = {
        r.doc_id: r.lang_pred
        for r in LI.lang_id_scores(df, "text", "doc_id", impl="sql").collect()
    }
    for i, lang, _ in rows:
        assert clf[i] == lang, (i, lang, clf[i])
        assert heur[i] != lang, (i, lang, heur[i])


def test_sql_matches_python_ground_truth(spark):
    rows = [
        (0, "the weather is nice today and we go outside"),
        (1, "heute ist das wetter wirklich sehr schön"),
        (2, ""),
        (3, "   "),
        (4, "a"),
        (5, "ab"),
        (6, "погода сегодня"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in LI.lang_id_scores(df, "text", "doc_id", impl="sql").collect()
    }
    for i, text in rows:
        n, pred, score = _py_predict(text)
        r = got[i]
        assert r.n_grams == n, (i, r.n_grams, n)
        assert r.lang_pred == pred, (i, r.lang_pred, pred)
        assert abs(r.lang_score - score) < 1e-12, (i, r.lang_score, score)


def test_arrow_matches_sql_exactly(spark):
    """Bit-agreement across impls — including the NULL-text row (the
    r9 advice divergence class: arrow must emit NULLs, not score the
    bare bias) and empty/whitespace/short strings."""
    rows = [
        (0, "the weather is nice today and we go outside"),
        (1, "el perro corre por la calle"),
        (2, None),
        (3, ""),
        (4, "   "),
        (5, "x"),
        (6, "今天天气很好"),
        (7, "погода сегодня хорошая"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r.doc_id: (r.n_grams, r.lang_pred, r.lang_score)
        for r in LI.lang_id_scores(
            df, "text", "doc_id", impl="arrow"
        ).collect()
    }
    s = {
        r.doc_id: (r.n_grams, r.lang_pred, r.lang_score)
        for r in LI.lang_id_scores(df, "text", "doc_id", impl="sql").collect()
    }
    assert a == s, {k: (a[k], s[k]) for k in s if a[k] != s[k]}
    assert s[2] == (None, None, None)


def test_null_text_yields_null_prediction(spark):
    df = spark.createDataFrame([(0, None)], "doc_id long, text string")
    r = LI.lang_id_scores(df, "text", "doc_id", impl="sql").collect()[0]
    assert r.n_grams is None and r.lang_pred is None and r.lang_score is None


def test_id_columns_that_need_quoting(spark):
    """An id column named like a keyword or holding a space passes
    through both impls under its own name."""
    rows = [(0, "the weather is nice today"), (1, None)]
    want = {i: _py_predict(t) if t is not None else (None,) * 3 for i, t in rows}
    for id_col in ("order", "doc id"):
        df = spark.createDataFrame(rows, f"`{id_col}` long, text string")
        for impl in ("sql", "arrow"):
            out = LI.lang_id_scores(df, "text", id_col, impl=impl)
            assert out.columns[0] == id_col, (impl, out.columns)
            got = {r[id_col]: (r.n_grams, r.lang_pred, r.lang_score) for r in out.collect()}
            assert got == want, (id_col, impl, got)


def test_inference_is_shuffle_free(spark):
    """Same 100 TB posture as the quality classifier: lang-id must be
    ONE scan-side projection — literal banks, no Exchange node."""
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("word "), F.col("id")).alias("text"),
    )
    plan = (
        LI.lang_id_scores(df, "text", "doc_id", impl="sql")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


#: one held-out sentence per supported language (parallel meaning,
#: none present in LANGID_SAMPLES) — full-surface discrimination
HELD_OUT_14 = {
    "ar": "القطار يصل إلى المحطة في الوقت المحدد اليوم",
    "de": "der zug kommt heute pünktlich am bahnhof an",
    "en": "the train arrives at the station on time today",
    "es": "el tren llega a la estación a tiempo hoy",
    "fr": "le train arrive à la gare à l'heure aujourd'hui",
    "hi": "रेलगाड़ी आज समय पर स्टेशन पहुंचती है",
    "it": "il treno arriva in stazione puntuale oggi",
    "ja": "電車は今日時間どおりに駅に着きます",
    "ko": "기차는 오늘 제시간에 역에 도착합니다",
    "nl": "de trein komt vandaag op tijd aan op het station",
    "pt": "o trem chega à estação a tempo hoje",
    "ru": "поезд прибывает на станцию вовремя сегодня",
    "tr": "tren bugün istasyona zamanında varıyor",
    "zh": "火车今天准时到达车站",
}


def test_all_14_languages_held_out(spark):
    """Every supported language — incl. the six round-10 additions
    (ar Arabic, hi Devanagari, ja kana+Han, ko Hangul, nl, tr) — must
    classify a HELD-OUT parallel sentence correctly through the Spark
    sql path; ja vs zh exercises the kana-vs-pure-Han split two Han-
    sharing languages need trigrams to separate."""
    assert set(HELD_OUT_14) == set(LI.LANGID_LANGS)
    for lang, s in HELD_OUT_14.items():
        assert all(
            s not in sents for sents in LI.LANGID_SAMPLES.values()
        ), f"held-out sentence leaked into training set: {lang}"
    rows = list(enumerate(HELD_OUT_14.values()))
    langs = list(HELD_OUT_14)
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r.lang_pred
        for r in LI.lang_id_scores(df, "text", "doc_id", impl="sql").collect()
    }
    misses = {
        langs[i]: got[i] for i in range(len(langs)) if got[i] != langs[i]
    }
    assert not misses, misses
