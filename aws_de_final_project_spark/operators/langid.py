"""Multilingual language identification — a fastText-style hashed
char-n-gram linear classifier (Joulin et al. 2016, arXiv:1607.01759;
the public fastText lang-id recipe: character n-gram features, hashing
trick, linear one-vs-rest) on the same classifier substrate as
operators/classifier.py, replacing the 4-language Latin-script
stopword heuristic (functions/text.lang_id) for corpora with
non-Latin scripts (r9 verdict item 4).

Model: features are the characters, character bigrams AND trigrams of
the whitespace-normalized lowercase text, hashed md5-mod-D (the engine-
portable bucket family every scorer here shares); one weight vector +
bias per language, trained offline one-vs-rest on the vendored sample
sentences below; prediction is the argmax of the mean-pooled linear
scores with a lexicographic tie-break.

Engine-exactness discipline: trained weights are quantized to 4
decimals and VENDORED AS INTEGERS scaled by 1e4, so the per-document
gather-fold is exact BIGINT arithmetic — accumulation order cannot
matter — and the only floating-point steps (one /1e4, one /n_grams,
one +bias, one floor-round) run on identical operands in Spark and
DuckDB. That is what makes a 14-way argmax hash-stable across engines
(a double fold could land within an ulp of a 4dp boundary and flip
the predicted language).

Scale shape: inference is ONE scan-side projection (grams built with
array HOFs, integer folds against literal banks, greatest + a when
chain) — zero joins, zero shuffles, the same 100 TB posture as
classifier.linear_text_scores; ``impl='arrow'`` swaps the literal
banks for a closure numpy matrix at deployment widths.

Reference parity: no language-ID stage exists in the reference
(zcauchon/AWS_DE_Final_Project) — north-star extension surface.
"""

from __future__ import annotations

import re
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_de_final_project_spark.functions.numeric import round_half_up as rnd
from aws_de_final_project_spark.functions.numeric import sql_round_half_up
from aws_de_final_project_spark.operators.classifier import _py_bucket
from aws_de_final_project_spark.operators.webcrawl import WS_RE

LANGID_BUCKETS = 1024

#: lexicographically ordered — the tie-break order (first max wins).
LANGID_LANGS = (
    "ar", "de", "en", "es", "fr", "hi", "it",
    "ja", "ko", "nl", "pt", "ru", "tr", "zh",
)

#: Vendored training sentences (everyday phrases, written for this
#: repo — public knowledge, no corpus dependency). Six non-Latin
#: scripts (ar Arabic, hi Devanagari, ja kana+Han, ko Hangul,
#: ru Cyrillic, zh Han) plus eight confusable Latin languages.
#: All BMP-only (see _py_grams).
LANGID_SAMPLES: dict[str, tuple[str, ...]] = {
    "ar": (
        "الطقس جميل اليوم ونحن ذاهبون إلى الحديقة",
        "ليس لدي وقت لهذه الأشياء الآن",
        "الكلب يركض في الشارع وينبح بصوت عال",
        "يجب أن نستيقظ باكرا صباح الغد",
        "هل يمكنك مساعدتي في هذا السؤال من فضلك",
        "هذا سؤال جيد جدا عن البيانات",
        "هي تقرأ كتابا كل مساء في غرفة الجلوس",
        "يلعب الأطفال في الحديقة بعد المدرسة",
        "هذا الصباح شربت القهوة وقرأت الجريدة",
        "في الأسبوع القادم سنسافر بالقطار إلى الجبال",
        "لماذا النافذة مفتوحة بينما تمطر في الخارج",
        "يعمل أخي في هذه المدينة منذ ثلاث سنوات",
        "في العام الماضي ذهبنا إلى البحر مع العائلة كلها",
        "أحب كثيرا الاستماع إلى الموسيقى أثناء العمل",
        "في المدينة شوارع ضيقة كثيرة وساحات قديمة",
        "عندما كنت طفلا كنت ألعب كرة القدم كل يوم أحد",
    ),
    "hi": (
        "आज मौसम अच्छा है और हम पार्क जा रहे हैं",
        "अभी मेरे पास इन चीज़ों के लिए समय नहीं है",
        "कुत्ता सड़क पर दौड़ता है और ज़ोर से भौंकता है",
        "हमें कल सुबह जल्दी उठना होगा",
        "क्या आप कृपया इस सवाल में मेरी मदद कर सकते हैं",
        "यह आंकड़ों के बारे में बहुत अच्छा सवाल है",
        "वह हर शाम बैठक में किताब पढ़ती है",
        "बच्चे स्कूल के बाद बगीचे में खेलते हैं",
        "आज सुबह मैंने कॉफ़ी पी और अख़बार पढ़ा",
        "अगले हफ़्ते हम रेलगाड़ी से पहाड़ों पर जाएंगे",
        "बाहर बारिश हो रही है तो खिड़की क्यों खुली है",
        "मेरा भाई तीन साल से इस शहर में काम करता है",
        "पिछले साल हम पूरे परिवार के साथ समुद्र गए थे",
        "मुझे काम करते हुए संगीत सुनना बहुत पसंद है",
        "इस शहर में कई तंग गलियां और पुराने चौक हैं",
        "बचपन में मैं हर रविवार फ़ुटबॉल खेलता था",
    ),
    "ja": (
        "今日は天気がいいので公園へ行きます",
        "今はこれらのことをする時間がありません",
        "犬が通りを走って大きな声で吠えています",
        "明日は朝早く起きなければなりません",
        "この質問を手伝っていただけませんか",
        "それはデータについてのとても良い質問です",
        "彼女は毎晩居間で本を読んでいます",
        "子供たちは放課後に庭で遊びます",
        "今朝はコーヒーを飲んで新聞を読みました",
        "来週は電車で山へ行きます",
        "外は雨なのにどうして窓が開いているのですか",
        "私の兄はこの町で三年間働いています",
        "去年は家族みんなで海へ行きました",
        "仕事をしながら音楽を聞くのが好きです",
        "この町には狭い道と古い広場がたくさんあります",
        "子供の頃は毎週日曜日にサッカーをしていました",
    ),
    "ko": (
        "오늘은 날씨가 좋아서 우리는 공원에 갑니다",
        "지금은 이런 일을 할 시간이 없습니다",
        "개가 길을 뛰어다니며 크게 짖습니다",
        "우리는 내일 아침 일찍 일어나야 합니다",
        "이 질문 좀 도와주시겠습니까",
        "그것은 데이터에 관한 아주 좋은 질문입니다",
        "그녀는 매일 저녁 거실에서 책을 읽습니다",
        "아이들은 방과 후에 정원에서 놉니다",
        "오늘 아침에 커피를 마시고 신문을 읽었습니다",
        "다음 주에 우리는 기차를 타고 산에 갑니다",
        "밖에 비가 오는데 왜 창문이 열려 있습니까",
        "우리 형은 이 도시에서 삼 년째 일하고 있습니다",
        "작년에 우리는 온 가족과 함께 바다에 갔습니다",
        "나는 일하면서 음악 듣는 것을 아주 좋아합니다",
        "이 도시에는 좁은 골목과 오래된 광장이 많습니다",
        "어렸을 때 나는 일요일마다 축구를 했습니다",
    ),
    "nl": (
        "het weer is vandaag mooi en we gaan naar het park",
        "ik heb nu geen tijd voor deze dingen",
        "de hond rent over de straat en blaft hard",
        "we moeten morgen vroeg opstaan",
        "kunt u mij alstublieft helpen met deze vraag",
        "dat is een heel goede vraag over de gegevens",
        "zij leest elke avond een boek in de woonkamer",
        "de kinderen spelen na school in de tuin",
        "vanochtend dronk ik koffie en las ik de krant",
        "volgende week gaan we met de trein naar de bergen",
        "waarom staat het raam open terwijl het buiten regent",
        "mijn broer werkt al drie jaar in deze stad",
        "vorig jaar gingen we met het hele gezin naar zee",
        "ik luister heel graag naar muziek terwijl ik werk",
        "de stad heeft veel smalle straten en oude pleinen",
        "als kind speelde ik elke zondag voetbal",
    ),
    "tr": (
        "bugün hava güzel ve parka gidiyoruz",
        "şu anda bu işler için zamanım yok",
        "köpek sokakta koşuyor ve yüksek sesle havlıyor",
        "yarın sabah erken kalkmamız gerekiyor",
        "bu soruda bana yardım eder misiniz lütfen",
        "bu veriler hakkında çok iyi bir soru",
        "o her akşam oturma odasında kitap okur",
        "çocuklar okuldan sonra bahçede oynuyor",
        "bu sabah kahve içtim ve gazete okudum",
        "gelecek hafta trenle dağlara gideceğiz",
        "dışarıda yağmur yağarken pencere neden açık",
        "kardeşim üç yıldır bu şehirde çalışıyor",
        "geçen yıl bütün aileyle deniz kenarına gittik",
        "çalışırken müzik dinlemeyi çok severim",
        "şehirde birçok dar sokak ve eski meydan var",
        "çocukken her pazar futbol oynardım",
    ),
    "de": (
        "das wetter ist heute schön und wir gehen in den park",
        "ich habe keine zeit für diese dinge",
        "der hund läuft über die straße und bellt",
        "wir müssen morgen früh aufstehen",
        "können sie mir bitte mit dieser frage helfen",
        "das ist eine sehr gute frage über die daten",
        "sie liest jeden abend ein buch im wohnzimmer",
        "die kinder spielen nach der schule im garten",
        "heute morgen habe ich kaffee getrunken und zeitung gelesen",
        "nächste woche fahren wir mit dem zug in die berge",
        "warum ist das fenster offen wenn es draußen regnet",
        "mein bruder arbeitet seit drei jahren in dieser stadt",
        "letztes jahr sind wir mit der ganzen familie ans meer gefahren",
        "ich höre sehr gerne musik während ich arbeite",
        "die stadt hat viele enge gassen und alte plätze",
        "als kind habe ich jeden sonntag fußball gespielt",
    ),
    "en": (
        "the weather is nice today and we are going to the park",
        "i do not have time for these things right now",
        "the dog runs across the street and barks loudly",
        "we have to get up early tomorrow morning",
        "could you please help me with this question",
        "that is a very good question about the data",
        "she reads a book every evening in the living room",
        "the children play in the garden after school",
        "this morning i drank coffee and read the newspaper",
        "next week we are taking the train to the mountains",
        "why is the window open when it is raining outside",
        "my brother has worked in this city for three years",
        "last year we went to the seaside with the whole family",
        "i really like listening to music while i work",
        "the city has many narrow streets and old squares",
        "when i was a child i played football every sunday",
    ),
    "es": (
        "el tiempo es agradable hoy y vamos al parque",
        "no tengo tiempo para estas cosas ahora mismo",
        "el perro corre por la calle y ladra fuerte",
        "tenemos que levantarnos temprano mañana",
        "puede ayudarme por favor con esta pregunta",
        "esa es una muy buena pregunta sobre los datos",
        "ella lee un libro cada noche en la sala",
        "los niños juegan en el jardín después de la escuela",
        "esta mañana bebí café y leí el periódico",
        "la próxima semana iremos en tren a las montañas",
        "por qué está abierta la ventana cuando llueve afuera",
        "mi hermano trabaja en esta ciudad desde hace tres años",
        "el año pasado viajamos a la playa con toda la familia",
        "me gusta mucho escuchar música mientras trabajo",
        "la ciudad tiene muchas calles estrechas y plazas antiguas",
        "cuando era niño jugaba al fútbol todos los domingos",
    ),
    "fr": (
        "le temps est agréable aujourd'hui et nous allons au parc",
        "je n'ai pas le temps pour ces choses maintenant",
        "le chien court dans la rue et aboie fort",
        "nous devons nous lever tôt demain matin",
        "pouvez-vous m'aider avec cette question s'il vous plaît",
        "c'est une très bonne question sur les données",
        "elle lit un livre chaque soir dans le salon",
        "les enfants jouent dans le jardin après l'école",
        "ce matin j'ai bu du café et lu le journal",
        "la semaine prochaine nous prendrons le train pour la montagne",
        "pourquoi la fenêtre est-elle ouverte quand il pleut dehors",
        "mon frère travaille dans cette ville depuis trois ans",
        "l'année dernière nous sommes allés à la mer en famille",
        "j'aime beaucoup écouter de la musique en travaillant",
        "la ville a beaucoup de rues étroites et de vieilles places",
        "quand j'étais enfant je jouais au football tous les dimanches",
    ),
    "it": (
        "il tempo è bello oggi e andiamo al parco",
        "non ho tempo per queste cose in questo momento",
        "il cane corre per la strada e abbaia forte",
        "dobbiamo alzarci presto domani mattina",
        "può aiutarmi per favore con questa domanda",
        "questa è una domanda molto buona sui dati",
        "lei legge un libro ogni sera nel soggiorno",
        "i bambini giocano in giardino dopo la scuola",
        "questa mattina ho bevuto un caffè e letto il giornale",
        "la settimana prossima andremo in treno in montagna",
        "perché la finestra è aperta quando fuori piove",
        "mio fratello lavora in questa città da tre anni",
        "l'anno scorso siamo andati al mare con tutta la famiglia",
        "mi piace molto ascoltare la musica mentre lavoro",
        "la città ha molte strade strette e piazze antiche",
        "quando ero bambino giocavo a calcio ogni domenica",
    ),
    "pt": (
        "o tempo está agradável hoje e vamos ao parque",
        "não tenho tempo para essas coisas agora",
        "o cachorro corre pela rua e late alto",
        "temos que acordar cedo amanhã de manhã",
        "pode me ajudar por favor com esta pergunta",
        "essa é uma pergunta muito boa sobre os dados",
        "ela lê um livro toda noite na sala de estar",
        "as crianças brincam no jardim depois da escola",
        "esta manhã bebi café e li o jornal",
        "na próxima semana vamos de trem para as montanhas",
        "por que a janela está aberta quando chove lá fora",
        "meu irmão trabalha nesta cidade há três anos",
        "no ano passado viajamos para a praia com toda a família",
        "eu gosto muito de ouvir música enquanto trabalho",
        "a cidade tem muitas ruas estreitas e praças antigas",
        "quando era criança jogava futebol todos os domingos",
    ),
    "ru": (
        "погода сегодня хорошая и мы идем в парк",
        "у меня нет времени на эти вещи сейчас",
        "собака бежит по улице и громко лает",
        "мы должны встать рано завтра утром",
        "не могли бы вы помочь мне с этим вопросом",
        "это очень хороший вопрос о данных",
        "она читает книгу каждый вечер в гостиной",
        "дети играют в саду после школы",
        "сегодня утром я пил кофе и читал газету",
        "на следующей неделе мы поедем на поезде в горы",
        "почему окно открыто когда на улице идет дождь",
        "мой брат работает в этом городе уже три года",
        "в прошлом году мы всей семьей ездили на море",
        "я очень люблю слушать музыку во время работы",
        "в городе много узких улиц и старых площадей",
        "в детстве я играл в футбол каждое воскресенье",
    ),
    "zh": (
        "今天天气很好我们去公园散步",
        "我现在没有时间做这些事情",
        "狗在街上跑来跑去大声叫",
        "我们明天必须早起出门",
        "请你帮我解决这个问题好吗",
        "这是一个关于数据的好问题",
        "她每天晚上在客厅里看书",
        "孩子们放学后在花园里玩",
        "今天早上我喝了咖啡看了报纸",
        "下周我们坐火车去山里旅行",
        "外面下雨为什么窗户还开着",
        "我哥哥在这个城市工作了三年",
        "去年我们全家一起去了海边",
        "我很喜欢一边工作一边听音乐",
        "这座城市有很多狭窄的街道和古老的广场",
        "小时候我每个星期天都踢足球",
    ),
}

_WS_SPLIT = re.compile(WS_RE)


def _py_norm(text: str) -> str:
    """Python twin of the scan-side normalization: lowercase,
    whitespace runs (the explicit shared class) to one space, trim."""
    return _WS_SPLIT.sub(" ", text.lower()).strip()


def _py_grams(text: str) -> list[str]:
    """Characters + character bigrams + trigrams of the normalized
    text — the fastText-style subword feature set, in Python for
    training and the arrow path (trigrams are what separate the
    confusable Romance pairs; measured held-out 11/16 -> 15/16).
    BMP-safe: Python indexes codepoints, Java UTF-16 units —
    identical over the BMP, and the vendored samples and fixtures
    are BMP-only by construction."""
    t = _py_norm(text)
    return (
        list(t)
        + [t[i : i + 2] for i in range(len(t) - 1)]
        + [t[i : i + 3] for i in range(len(t) - 2)]
    )


@lru_cache(maxsize=None)
def train_langid_weights(
    n_buckets: int = LANGID_BUCKETS,
    epochs: int = 1000,
    lr: float = 2.0,
    l2: float = 1e-5,
) -> dict[str, tuple[tuple[int, ...], float]]:
    """Offline one-vs-rest logistic training over mean-pooled hashed
    gram counts of LANGID_SAMPLES (full-batch GD, plain numpy on the
    driver — the same never-touches-Spark posture as
    classifier.train_logistic_weights; lang-id training sets are
    small by design, inference is the 100 TB side).

    Returns {lang: (int_weights_scaled_1e4, bias_4dp)} — weights
    quantized to 4dp THEN scaled to integers, so both engines fold
    exact BIGINTs (see module docstring). Deterministic: fixed data,
    fixed init (zeros), fixed schedule — the oracle interpolates the
    same banks."""
    import numpy as np

    texts, labels = [], []
    for lang, sents in LANGID_SAMPLES.items():
        for s in sents:
            texts.append(s)
            labels.append(lang)
    X = np.zeros((len(texts), n_buckets), dtype=np.float64)
    for i, text in enumerate(texts):
        grams = _py_grams(text)
        for g in grams:
            X[i, _py_bucket(g, n_buckets)] += 1.0
        if grams:
            X[i] /= float(len(grams))
    out: dict[str, tuple[tuple[int, ...], float]] = {}
    for lang in LANGID_LANGS:
        y = np.asarray([1.0 if l == lang else 0.0 for l in labels])
        w = np.zeros(n_buckets, dtype=np.float64)
        b = 0.0
        for _ in range(epochs):
            z = X @ w + b
            p = 1.0 / (1.0 + np.exp(-z))
            g = X.T @ (p - y) / len(y) + l2 * w
            gb = float(np.mean(p - y))
            w -= lr * g
            b -= lr * gb
        out[lang] = (
            tuple(int(round(v * 10000.0)) for v in w),
            round(float(b), 4),
        )
    return out


def _int_lit_array_sql(values) -> str:
    """Literal INT array as ONE parsed SQL string (the py4j-storm
    avoidance similarity._lit_array established, integer flavor)."""
    return "array(" + ",".join(str(int(v)) for v in values) + ")"


def _quote(name: str) -> str:
    """A column name as a SQL identifier (``order``, ``doc id``)."""
    return "`" + name.replace("`", "``") + "`"


def lang_id_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    model: dict[str, tuple[tuple[int, ...], float]] | None = None,
    n_buckets: int = LANGID_BUCKETS,
    impl: str = "auto",
) -> DataFrame:
    """Predict the language of every row: (id, n_grams, lang_pred,
    lang_score). ``lang_score`` is the winning mean-pooled logit,
    floor-rounded 4dp; ties break to the lexicographically first
    language (LANGID_LANGS order); empty text scores the bare biases
    (argmax of biases); NULL text yields NULL prediction.

    ``impl='sql'`` — one projection, literal integer banks, exact
    BIGINT folds (oracle path). ``impl='arrow'`` — closure numpy
    (D x L) int64 matrix per Arrow batch, mandatory at deployment D;
    agreement pinned in tests/test_langid.py. ``'auto'`` picks arrow
    at the classifier's ARROW_AUTO_DIM threshold."""
    from aws_de_final_project_spark.operators.classifier import (
        _resolve_impl,
    )

    m = model if model is not None else train_langid_weights(n_buckets)
    impl = _resolve_impl(impl, n_buckets, "impl")
    if impl == "arrow":
        return _langid_arrow(df, text_col, id_col, m, n_buckets)

    # STAGED projections so every expensive expression is evaluated
    # ONCE: md5 buckets hashed once (not once per language), each
    # language's fold computed once (not re-expanded inside greatest
    # and every when arm — the unstaged form re-evaluated the full
    # per-gram fold ~dozens of times and ran 30x slower at sf0.1).
    # Catalyst's CollapseProject keeps the stages apart because each
    # aliased expression is non-cheap and referenced multiple times.
    # Every stage is built as ONE parsed SQL string (F.expr): the DSL
    # form cost 6,237 py4j round trips ≈ 2.2 s of socket latency PER
    # QUERY CONSTRUCTION (r14 cProfile; the _lit_array lesson applied
    # to the HOF pipeline itself). Expression semantics are identical
    # — the SQL text parses to the same Catalyst tree the DSL built.
    t = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), WS_RE, " ")
    )
    staged0 = df.select(F.col(id_col), t.alias("_t"))
    empty = "CAST(array() AS array<string>)"
    grams_sql = (
        "CASE WHEN length(_t) >= 1 THEN concat("
        "transform(sequence(1, length(_t)), i -> substr(_t, i, 1)), "
        "CASE WHEN length(_t) >= 2 THEN transform(sequence(1, "
        f"length(_t) - 1), i -> substr(_t, i, 2)) ELSE {empty} END, "
        "CASE WHEN length(_t) >= 3 THEN transform(sequence(1, "
        f"length(_t) - 2), i -> substr(_t, i, 3)) ELSE {empty} END"
        f") ELSE {empty} END"
    )
    bks_sql = (
        f"transform({grams_sql}, g -> CAST(CAST(conv(substring(md5(g)"
        f", 1, 15), 16, 10) AS BIGINT) % {int(n_buckets)} AS INT))"
    )
    staged = staged0.select(
        F.col(id_col),
        F.expr("_t IS NULL").alias("_isnull"),
        F.expr(bks_sql).alias("_bks"),
    )
    logit_cols = []
    for lang in LANGID_LANGS:
        w_int, bias = m[lang]
        acc_sql = (
            f"aggregate(transform(_bks, k -> CAST(element_at("
            f"{_int_lit_array_sql(w_int)}, k + 1) AS BIGINT)), "
            "CAST(0 AS BIGINT), (a, x) -> a + x)"
        )
        pooled_sql = (
            f"CASE WHEN size(_bks) = 0 THEN CAST({float(bias)!r} AS "
            f"DOUBLE) ELSE CAST({float(bias)!r} AS DOUBLE) + "
            f"(CAST({acc_sql} AS DOUBLE) / 10000.0) / "
            "CAST(size(_bks) AS DOUBLE) END"
        )
        logit_cols.append(
            F.expr(sql_round_half_up(pooled_sql, 4)).alias(f"_l_{lang}")
        )
    scored = staged.select(
        id_col, "_isnull", F.size("_bks").alias("_ng"), *logit_cols
    )
    top_sql = "greatest(" + ", ".join(
        f"_l_{lang}" for lang in LANGID_LANGS
    ) + ")"
    qid = _quote(id_col)
    ranked = scored.selectExpr(
        qid, "_isnull", "_ng",
        *[f"_l_{la}" for la in LANGID_LANGS],
        f"{top_sql} AS _top",
    )
    # first matching CASE arm wins -> earlier langs win ties (the
    # same order the reversed when-chain produced)
    pred_sql = "CASE " + " ".join(
        f"WHEN _l_{lang} = _top THEN '{lang}'" for lang in LANGID_LANGS
    ) + " ELSE CAST(NULL AS STRING) END"
    # NULL text -> NULL outputs on BOTH impls (the normalized column
    # is NULL; without the guard the empty-array fallback would score
    # the bare biases — the same silent-flip class the r9 advice
    # flagged on the quality classifier)
    return ranked.selectExpr(
        qid,
        "CASE WHEN _isnull THEN CAST(NULL AS BIGINT) "
        "ELSE CAST(_ng AS BIGINT) END AS n_grams",
        f"CASE WHEN _isnull THEN CAST(NULL AS STRING) "
        f"ELSE {pred_sql} END AS lang_pred",
        "CASE WHEN _isnull THEN CAST(NULL AS DOUBLE) "
        "ELSE _top END AS lang_score",
    )


def _langid_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    model: dict[str, tuple[tuple[int, ...], float]],
    n_buckets: int,
) -> DataFrame:
    """Deployment-width twin: the (D x L) int64 weight matrix rides
    the task closure; grams of each batch are hashed once per
    distinct gram; folds are exact int64 sums (order-free), so the
    result is bit-identical to the SQL banks. NULL text -> NULL
    outputs (pandas nullable dtypes), same as the SQL path."""
    import numpy as np

    langs = LANGID_LANGS
    W = np.stack(
        [np.asarray(model[lang][0], dtype=np.int64) for lang in langs],
        axis=1,
    )  # (D, L)
    biases = np.asarray(
        [model[lang][1] for lang in langs], dtype=np.float64
    )
    id_type = df.schema[id_col].dataType.simpleString()

    def score(batches):
        import pandas as pd

        bucket_cache: dict[str, int] = {}

        def bucket(g: str) -> int:
            v = bucket_cache.get(g)
            if v is None:
                v = _py_bucket(g, n_buckets)
                bucket_cache[g] = v
            return v

        for pdf in batches:
            if not len(pdf):
                continue
            n_g: list[int | None] = []
            preds: list[str | None] = []
            scores: list[float | None] = []
            for text in pdf[text_col].astype(object):
                if not isinstance(text, str):
                    n_g.append(None)
                    preds.append(None)
                    scores.append(None)
                    continue
                grams = _py_grams(text)
                if not grams:
                    logits = biases.copy()
                else:
                    acc = W[[bucket(g) for g in grams]].sum(
                        axis=0, dtype=np.int64
                    )
                    logits = biases + (acc / 10000.0) / float(len(grams))
                logits = np.floor(logits * 10000.0 + 0.5) / 10000.0
                k = int(np.argmax(logits))  # first max == lex tie-break
                n_g.append(len(grams))
                preds.append(langs[k])
                scores.append(float(logits[k]))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "n_grams": pd.array(n_g, dtype="Int64"),
                    "lang_pred": pd.array(preds, dtype="string"),
                    "lang_score": pd.array(scores, dtype="Float64"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        score,
        f"{_quote(id_col)} {id_type}, n_grams long, lang_pred string, "
        "lang_score double",
    )
