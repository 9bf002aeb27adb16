"""Trainable language identification: hashed character-n-gram
multinomial Naive Bayes — the public fastText/langid.py technique
(char n-grams hashed into a fixed bucket space, per-language
multinomial log-probabilities, argmax + softmax confidence), sized for
a crawl pipeline.

Reference parity note: the reference engine has no language-ID
operator; this is a beyond-reference scale op (SURVEY.md text-analysis
family). The zero-dependency stopword heuristic (``lang_id`` in
scale/text.py) remains as the fallback; this model replaces it when
per-row confidence and >4-language coverage matter.

100 TB shape:

* ``lang_id_train`` is one distributed groupBy((lang, bucket)) count
  with map-side combine — the only shuffle — followed by a BOUNDED
  driver collect (at most ``langs x buckets`` rows, and ``top_k``
  caps the per-language feature count, so the model is MBs no matter
  the corpus size).
* ``lang_id_predict`` broadcasts the model dict in the UDF closure and
  scores each document in ONE Arrow pass (no shuffle, no join) — the
  same documented Python-crossing class as ``compression_ratio``
  (hash + table lookups have no JVM expression).
* Models are JSON-able dicts, persisted/loaded via
  ``lang_id_write`` / ``lang_id_read`` like the PCA and BPE artifacts.

Train on your own labeled sample (e.g. a high-confidence subset of an
earlier crawl) or start from :func:`seed_corpus` — a small built-in
set of original sentences written for this module (12 languages across
Latin, Cyrillic, Arabic, and CJK scripts; char n-grams need no word
segmentation, so unsegmented zh/ja text scores the same way). A real
deployment retrains on a larger labeled sample with the same call.
"""

from __future__ import annotations

import hashlib
import json
import math
import pickle
import zlib
from typing import Any

import pandas as pd
from pyspark.sql import Column, functions as F

from ..plans.cache import context_memo
from ..tibble import Tibble, ensure_tibble

__all__ = [
    "seed_corpus",
    "lang_id_train",
    "lang_id_train_seed",
    "lang_id_predict",
    "lang_id_write",
    "lang_id_read",
]

# Original sentences authored for this module (not quoted from any
# corpus). Everyday register, ~12 per language, chosen to exercise the
# diacritics and function words that separate these languages.
_SEED: dict = {
    "en": [
        "the weather this morning was cold and the streets were quiet",
        "she asked whether the train would arrive before noon",
        "we should have finished the report by the end of the week",
        "there is nothing better than fresh bread with butter",
        "the children were playing in the garden behind the house",
        "he could not remember where he had left his keys",
        "this book explains how the engine actually works",
        "they decided to walk home because the bus was late",
        "my neighbour grows tomatoes and peppers every summer",
        "the meeting was moved to thursday afternoon instead",
        "i would rather stay home and read than go out tonight",
        "the museum is closed on mondays during the winter",
    ],
    "de": [
        "das wetter war heute morgen kalt und die straßen waren leer",
        "sie fragte ob der zug vor mittag ankommen würde",
        "wir sollten den bericht bis ende der woche fertig haben",
        "es gibt nichts besseres als frisches brot mit butter",
        "die kinder spielten im garten hinter dem haus",
        "er konnte sich nicht erinnern wo er seine schlüssel gelassen hatte",
        "dieses buch erklärt wie der motor wirklich funktioniert",
        "sie beschlossen zu fuß nach hause zu gehen weil der bus zu spät kam",
        "mein nachbar baut jeden sommer tomaten und paprika an",
        "die besprechung wurde auf donnerstag nachmittag verschoben",
        "ich würde lieber zu hause bleiben und lesen als heute abend auszugehen",
        "das museum ist im winter montags geschlossen",
    ],
    "fr": [
        "le temps était froid ce matin et les rues étaient calmes",
        "elle a demandé si le train arriverait avant midi",
        "nous devrions avoir terminé le rapport avant la fin de la semaine",
        "il n'y a rien de meilleur que du pain frais avec du beurre",
        "les enfants jouaient dans le jardin derrière la maison",
        "il ne se souvenait plus où il avait laissé ses clés",
        "ce livre explique comment le moteur fonctionne vraiment",
        "ils ont décidé de rentrer à pied parce que le bus était en retard",
        "mon voisin cultive des tomates et des poivrons chaque été",
        "la réunion a été déplacée à jeudi après-midi",
        "je préférerais rester à la maison et lire plutôt que sortir ce soir",
        "le musée est fermé le lundi pendant l'hiver",
    ],
    "es": [
        "el tiempo estaba frío esta mañana y las calles estaban tranquilas",
        "ella preguntó si el tren llegaría antes del mediodía",
        "deberíamos haber terminado el informe antes del fin de semana",
        "no hay nada mejor que pan fresco con mantequilla",
        "los niños jugaban en el jardín detrás de la casa",
        "no podía recordar dónde había dejado sus llaves",
        "este libro explica cómo funciona realmente el motor",
        "decidieron volver a casa caminando porque el autobús llegaba tarde",
        "mi vecino cultiva tomates y pimientos cada verano",
        "la reunión se trasladó al jueves por la tarde",
        "preferiría quedarme en casa leyendo antes que salir esta noche",
        "el museo está cerrado los lunes durante el invierno",
    ],
    "it": [
        "il tempo stamattina era freddo e le strade erano tranquille",
        "lei ha chiesto se il treno sarebbe arrivato prima di mezzogiorno",
        "dovremmo aver finito il rapporto entro la fine della settimana",
        "non c'è niente di meglio del pane fresco con il burro",
        "i bambini giocavano in giardino dietro la casa",
        "non riusciva a ricordare dove avesse lasciato le chiavi",
        "questo libro spiega come funziona davvero il motore",
        "hanno deciso di tornare a casa a piedi perché l'autobus era in ritardo",
        "il mio vicino coltiva pomodori e peperoni ogni estate",
        "la riunione è stata spostata a giovedì pomeriggio",
        "preferirei restare a casa a leggere piuttosto che uscire stasera",
        "il museo è chiuso il lunedì durante l'inverno",
    ],
    "pt": [
        "o tempo estava frio esta manhã e as ruas estavam calmas",
        "ela perguntou se o trem chegaria antes do meio-dia",
        "deveríamos ter terminado o relatório até o fim da semana",
        "não há nada melhor do que pão fresco com manteiga",
        "as crianças brincavam no jardim atrás da casa",
        "ele não conseguia lembrar onde tinha deixado as chaves",
        "este livro explica como o motor realmente funciona",
        "eles decidiram voltar para casa a pé porque o ônibus estava atrasado",
        "meu vizinho cultiva tomates e pimentões todo verão",
        "a reunião foi transferida para quinta-feira à tarde",
        "eu preferiria ficar em casa lendo do que sair esta noite",
        "o museu está fechado às segundas durante o inverno",
    ],
    "nl": [
        "het weer was vanochtend koud en de straten waren rustig",
        "ze vroeg of de trein voor de middag zou aankomen",
        "we zouden het rapport voor het einde van de week af moeten hebben",
        "er is niets beters dan vers brood met boter",
        "de kinderen speelden in de tuin achter het huis",
        "hij kon zich niet herinneren waar hij zijn sleutels had gelaten",
        "dit boek legt uit hoe de motor echt werkt",
        "ze besloten naar huis te lopen omdat de bus te laat was",
        "mijn buurman kweekt elke zomer tomaten en paprika's",
        "de vergadering is verplaatst naar donderdagmiddag",
        "ik blijf liever thuis lezen dan vanavond uit te gaan",
        "het museum is 's winters op maandag gesloten",
    ],
    "ru": [
        "сегодня утром было холодно и улицы были тихими",
        "она спросила придет ли поезд до полудня",
        "мы должны были закончить отчет к концу недели",
        "нет ничего лучше свежего хлеба с маслом",
        "дети играли в саду за домом",
        "он не мог вспомнить где оставил свои ключи",
        "эта книга объясняет как на самом деле работает двигатель",
        "они решили пойти домой пешком потому что автобус опоздал",
        "мой сосед каждое лето выращивает помидоры и перец",
        "собрание перенесли на четверг после обеда",
        "я бы лучше остался дома и читал чем идти куда-то вечером",
        "музей зимой по понедельникам закрыт",
    ],
    "ar": [
        "كان الطقس باردا هذا الصباح وكانت الشوارع هادئة",
        "سألت إن كان القطار سيصل قبل الظهر",
        "كان علينا أن ننهي التقرير قبل نهاية الأسبوع",
        "لا شيء أفضل من الخبز الطازج مع الزبدة",
        "كان الأطفال يلعبون في الحديقة خلف المنزل",
        "لم يستطع أن يتذكر أين ترك مفاتيحه",
        "يشرح هذا الكتاب كيف يعمل المحرك حقا",
        "قرروا العودة إلى المنزل سيرا لأن الحافلة تأخرت",
        "جاري يزرع الطماطم والفلفل كل صيف",
        "تم نقل الاجتماع إلى بعد ظهر الخميس",
        "أفضل البقاء في المنزل والقراءة على الخروج الليلة",
        "المتحف مغلق أيام الاثنين في الشتاء",
    ],
    "zh": [
        "今天早上天气很冷 街上很安静",
        "她问火车会不会在中午之前到达",
        "我们应该在周末之前完成报告",
        "没有什么比新鲜面包加黄油更好的了",
        "孩子们在房子后面的花园里玩耍",
        "他想不起来把钥匙放在哪里了",
        "这本书解释了发动机的实际工作原理",
        "因为公交车晚点了 他们决定走路回家",
        "我的邻居每年夏天都种西红柿和辣椒",
        "会议改到了星期四下午",
        "我宁愿待在家里看书也不想今晚出门",
        "博物馆冬天每逢星期一闭馆",
    ],
    "ja": [
        "今朝は天気が寒くて通りは静かだった",
        "彼女は電車が正午までに着くかどうか尋ねた",
        "週末までに報告書を終わらせるべきだった",
        "焼きたてのパンとバターほど良いものはない",
        "子供たちは家の裏の庭で遊んでいた",
        "彼は鍵をどこに置いたか思い出せなかった",
        "この本はエンジンの仕組みを説明している",
        "バスが遅れたので歩いて帰ることにした",
        "隣の人は毎年夏にトマトとピーマンを育てている",
        "会議は木曜日の午後に変更された",
        "今夜は出かけるより家で本を読みたい",
        "博物館は冬の間月曜日は休みです",
    ],
    "ko": [
        "오늘 아침 날씨가 추웠고 거리는 조용했다",
        "그녀는 기차가 정오 전에 도착할지 물었다",
        "우리는 주말까지 보고서를 끝냈어야 했다",
        "갓 구운 빵과 버터보다 좋은 것은 없다",
        "아이들은 집 뒤 정원에서 놀고 있었다",
        "그는 열쇠를 어디에 두었는지 기억하지 못했다",
        "이 책은 엔진이 실제로 어떻게 작동하는지 설명한다",
        "버스가 늦어서 그들은 걸어서 집에 가기로 했다",
        "내 이웃은 여름마다 토마토와 고추를 기른다",
        "회의는 목요일 오후로 옮겨졌다",
        "오늘 밤에는 나가기보다 집에서 책을 읽고 싶다",
        "박물관은 겨울에 월요일마다 문을 닫는다",
    ],
}

_PAD = "\x02"  # word-boundary padding marker in the gram space


def seed_corpus(spark) -> Tibble:
    """The built-in labeled seed corpus as a (text, lang) Tibble.

    Built in the JVM from one JSON literal: ``createDataFrame`` over a
    list makes a Python RDD, whose scan starts a second Python worker
    pool next to the Arrow-UDF one."""
    rows = [
        {"text": t, "lang": lang} for lang, ts in _SEED.items() for t in ts
    ]
    return Tibble(
        spark.range(1, numPartitions=1).select(
            F.inline(
                F.from_json(
                    F.lit(json.dumps(rows)),
                    "array<struct<text:string,lang:string>>",
                )
            )
        )
    )


def _grams_expr(col: Column, n_lo: int, n_hi: int) -> Column:
    """Char n-grams (n_lo..n_hi) of the normalized text, JVM-side:
    lowercase, runs of whitespace/digits collapsed to a boundary
    marker, then substring transforms. Returns array<string>."""
    s = F.concat(
        F.lit(_PAD),
        F.regexp_replace(F.lower(col), r"[\s0-9]+", _PAD),
        F.lit(_PAD),
    )
    # the lambda must be single-parameter: F.transform treats a
    # two-parameter lambda as (element, index), so a `_n=n` default
    # would be overwritten by the array index
    def _slicer(nn: int):
        return lambda i: F.substring(s, i, nn)

    parts = []
    for n in range(n_lo, n_hi + 1):
        # guard: sequence(1, 0) would generate a DESCENDING [1, 0] —
        # emit an empty array when the padded text is shorter than n,
        # matching the predict path's empty range()
        cnt = F.length(s) - n + 1
        idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
            F.array().cast("array<int>")
        )
        parts.append(F.transform(idx, _slicer(n)))
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return out


def _bucket(gram: str, buckets: int) -> int:
    """Python twin of the JVM ``pmod(crc32(encode(g,'UTF-8')), buckets)``
    used in training — predict must hash identically (tested)."""
    return zlib.crc32(gram.encode("utf-8")) % buckets


_CRC_TAB = None


def _crc_tab():
    """The standard reflected CRC-32 byte table (poly 0xEDB88320) —
    drives the vectorized gram hashing in lang_id_predict. Verified
    bit-identical to zlib.crc32 by tests/test_langid_kernel.py."""
    global _CRC_TAB
    if _CRC_TAB is None:
        import numpy as np

        tab = np.empty(256, dtype=np.uint32)
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
            tab[i] = c
        _CRC_TAB = tab
    return _CRC_TAB


def lang_id_train(
    td: Any,
    text: Any = "text",
    label: Any = "lang",
    n_lo: int = 1,
    n_hi: int = 3,
    buckets: int = 1 << 15,
    top_k: int = 20_000,
    alpha: float = 0.5,
) -> dict:
    """Train the hashed char-n-gram Naive Bayes model from a labeled
    (text, label) table. One distributed gram explode + hash +
    groupBy((label, bucket)) count (map-side combine), a per-language
    ``top_k`` cap, then a bounded driver collect that turns counts
    into Laplace-smoothed (``alpha``) log-probabilities.

    Returns a JSON-able model dict: ``langs``, ``buckets``,
    ``log_prior`` (per lang, from document counts), ``weights``
    (per lang: {bucket: logp}), ``default_logp`` (per lang, the
    smoothed logp of an unseen bucket), plus the gram config."""
    td = ensure_tibble(td)
    tname = text if isinstance(text, str) else text._name
    lname = label if isinstance(label, str) else label._name
    buckets = int(buckets)

    # JVM gram explode + JVM crc32 bucket hash BEFORE the shuffle:
    # Spark's crc32 is the same CRC-32 as zlib.crc32 (predict side), so
    # the exchange carries (lang, bucket-int) with cardinality capped
    # at langs x buckets after map-side combine — no gram string ever
    # shuffles, and the top_k window below ranks at most ``buckets``
    # rows per language.
    grams = _grams_expr(F.col(tname), int(n_lo), int(n_hi))
    counted = (
        td.df.select(F.col(lname).alias("__lang"), grams.alias("__g"))
        .where(F.col("__lang").isNotNull())
        .select("__lang", F.explode("__g").alias("__gram"))
        .where(F.length("__gram") > 0)
        .select(
            "__lang",
            F.pmod(
                F.crc32(F.encode(F.col("__gram"), "UTF-8")), F.lit(buckets)
            ).alias("__b"),
        )
        .groupBy("__lang", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    doc_counts = {
        r["__lang"]: r["n"]
        for r in td.df.select(F.col(lname).alias("__lang"))
        .where(F.col("__lang").isNotNull())
        .groupBy("__lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not doc_counts:
        raise ValueError("lang_id_train: no labeled rows to train on")

    # per-language top_k feature cap over the <= buckets-row table,
    # then a bounded driver collect (<= langs x min(top_k, buckets)
    # int rows — model-sized no matter the corpus size)
    from pyspark.sql import Window

    w = Window.partitionBy("__lang").orderBy(
        F.col("__c").desc(), F.col("__b")
    )
    capped = (
        counted.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(top_k))
        .select("__lang", "__b", "__c")
        .collect()
    )
    counts: dict = {lang: {} for lang in doc_counts}
    totals: dict = {lang: 0 for lang in doc_counts}
    for r in capped:
        b = int(r["__b"])
        d = counts.setdefault(r["__lang"], {})
        d[b] = d.get(b, 0) + int(r["__c"])
        totals[r["__lang"]] = totals.get(r["__lang"], 0) + int(r["__c"])

    langs = sorted(doc_counts)
    n_docs = sum(doc_counts.values())
    alpha = float(alpha)
    weights, default_logp = {}, {}
    for lang in langs:
        tot = totals.get(lang, 0)
        denom = tot + alpha * buckets
        weights[lang] = {
            str(b): math.log((c + alpha) / denom)
            for b, c in sorted(counts.get(lang, {}).items())
        }
        default_logp[lang] = math.log(alpha / denom)
    return {
        "format": "datar-langid",
        "version": 1,
        "langs": langs,
        "buckets": buckets,
        "n_lo": int(n_lo),
        "n_hi": int(n_hi),
        "log_prior": {
            lang: math.log(doc_counts[lang] / n_docs) for lang in langs
        },
        "weights": weights,
        "default_logp": default_logp,
    }


def lang_id_train_seed(spark, **kwargs) -> dict:
    """Train on the built-in seed corpus (12 languages across Latin,
    Cyrillic, Arabic, and CJK scripts) —
    the zero-setup starting point; same kwargs as lang_id_train."""
    return lang_id_train(seed_corpus(spark), "text", "lang", **kwargs)


# lang_id_predict's per-context memo of model broadcasts
_BROADCAST_MEMO_SIZE = 4


def lang_id_predict(
    td: Any,
    model: dict,
    text: Any = "text",
    out_col: str = "lang_pred",
    conf_col: str | None = "lang_conf",
    min_conf: float | None = None,
    und_label: str | None = "und",
) -> Tibble:
    """Score a text column through a :func:`lang_id_train` model: adds
    ``out_col`` (argmax language, NULL for NULL/empty text) and
    ``conf_col`` (softmax probability of the winner; pass None to
    omit). ONE Arrow pass, model broadcast in the closure, no
    shuffle.

    ``min_conf=`` sets an undetermined-language floor: the argmax is
    ALWAYS one of the trained languages, so a script the model never
    saw (Thai against a 12-language Latin/CJK/Cyrillic/Arabic seed)
    would otherwise silently bin into whichever trained language its
    hashed grams happen to collide with. With ``min_conf`` set,
    predictions whose winner confidence falls below it emit
    ``und_label`` instead ('und', ISO 639-2's undetermined code; pass
    ``und_label=None`` for NULL). ``conf_col`` keeps the real winner
    confidence either way, so the floor is auditable. The relabeling
    is a JVM ``when()`` over the already-computed struct — no second
    scoring pass.

    Pipeline order matters at scale: the scoring UDF carries the
    asNondeterministic safety marker (see ivf_assign), which also
    stops Catalyst from reordering later filters past it — apply
    selective filters BEFORE lang_id_predict so they reach the
    parquet scan (verified: filter-before pushes
    ``GreaterThan(n_chars,100)`` into PushedFilters; filter-after
    does not)."""
    if not isinstance(model, dict) or "weights" not in model:
        raise ValueError(
            "lang_id_predict: model must be a lang_id_train dict "
            "(with 'weights')"
        )
    td = ensure_tibble(td)
    tname = text if isinstance(text, str) else text._name
    langs = list(model["langs"])
    buckets = int(model["buckets"])
    n_lo, n_hi = int(model["n_lo"]), int(model["n_hi"])
    log_prior = model["log_prior"]
    default_logp = model["default_logp"]
    weights = {
        lang: {int(b): lp for b, lp in model["weights"][lang].items()}
        for lang in langs
    }

    from pyspark.sql.functions import pandas_udf

    # Dense (buckets x langs) log-prob matrix built once in the
    # closure (3 MB at the 2^15 x 12 default): scoring a document is
    # then ONE fancy-index gather + column sum instead of a per-gram
    # per-language Python dict loop — measured 5x faster at sf0.1
    # (7.4 s -> 1.5 s warm for 5k docs on local[32]; the residual cost
    # is the char-gram slicing itself), same argmax/softmax math to
    # float re-association.
    import numpy as np

    n_langs = len(langs)
    W = np.empty((buckets, n_langs))
    for j, lang in enumerate(langs):
        W[:, j] = default_logp[lang]
        wl = weights[lang]
        if wl:
            idx = np.fromiter(wl.keys(), dtype=np.int64, count=len(wl))
            W[idx, j] = np.fromiter(
                wl.values(), dtype=np.float64, count=len(wl)
            )
    prior = np.array([log_prior[lang] for lang in langs])
    # r15 (guide §4.5): the dense matrix rides a BROADCAST, not the UDF
    # closure — a closure is re-pickled and shipped per TASK (~3 MB x
    # n_tasks per pass at the 2^15 x 12 default); a broadcast crosses
    # once per executor and is cached. Repeated calls with one model
    # share it: the context memoizes it by a digest of its content (a
    # model mutated in place gets a fresh one) and unpersists, never
    # destroys, what it evicts — a plan built earlier re-ships it.
    sc = td.df.sparkSession.sparkContext
    dense = (W, prior, langs)
    _bc = context_memo(
        "lang_id_broadcast", _BROADCAST_MEMO_SIZE, sc,
        on_evict=lambda bc: bc.unpersist(),
    ).get_or_make(
        hashlib.blake2b(pickle.dumps(dense)).digest(),
        lambda: sc.broadcast(dense),
    )

    @pandas_udf("struct<lang:string, conf:double>")
    def _score(s: pd.Series) -> pd.DataFrame:
        # r15 (guide §4.2): the r14 kernel built every char n-gram as a
        # Python string and crc32'd it row by row — ~3 x len(text)
        # slice+encode+hash calls per document dominated the pass. Now
        # each document is utf-8-encoded ONCE; gram windows are byte
        # slices located via the utf-8 start-byte mask, their crc32
        # runs table-driven over a numpy matrix (bit-identical to
        # zlib.crc32 — locked by tests/test_langid_kernel.py), and the
        # per-language scores come from one W-gather + segmented sum.
        # Scoring math is unchanged; only summation association
        # differs (same tolerance note as the r14 dense-matrix change).
        import re as _re

        W, prior, langs = _bc.value
        pat = _re.compile(r"[\s0-9]+")
        n_docs = len(s)
        out_lang: list = [None] * n_docs
        out_conf: list = [None] * n_docs
        live: list = []
        enc: list = []
        for i, v in enumerate(s):
            if v is None or not str(v).strip():
                continue
            t = _PAD + pat.sub(_PAD, str(v).lower()) + _PAD
            live.append(i)
            enc.append(t.encode("utf-8"))
        if not live:
            return pd.DataFrame({"lang": out_lang, "conf": out_conf})
        tab = _crc_tab()
        # chunk docs so the (grams x langs) gather stays ~100 MB
        cap = max(int(1.2e6 / max(n_hi - n_lo + 1, 1)), 1 << 16)
        lo = 0
        while lo < len(enc):
            hi, tot = lo, 0
            while hi < len(enc) and (tot == 0 or tot + len(enc[hi]) <= cap):
                tot += len(enc[hi])
                hi += 1
            chunk = enc[lo:hi]
            B = np.frombuffer(b"".join(chunk), dtype=np.uint8)
            doc_end = np.cumsum(
                np.fromiter((len(b) for b in chunk), dtype=np.int64,
                            count=len(chunk))
            )
            # utf-8 char starts: continuation bytes are 0b10xxxxxx
            char_pos = np.flatnonzero((B & 0xC0) != 0x80)
            char_ext = np.append(char_pos, len(B))
            char_doc = np.searchsorted(doc_end, char_pos, side="right")
            m = np.bincount(char_doc, minlength=len(chunk))
            char_off = np.concatenate(([0], np.cumsum(m)[:-1]))
            S = np.tile(prior, (len(chunk), 1))
            gcnt = np.zeros(len(chunk), dtype=np.int64)
            for n in range(n_lo, n_hi + 1):
                cnt = np.maximum(m - n + 1, 0)
                total = int(cnt.sum())
                if total == 0:
                    continue
                cstart = np.concatenate(([0], np.cumsum(cnt)[:-1]))
                reps = np.repeat(np.arange(len(chunk)), cnt)
                g = (np.arange(total) - np.repeat(cstart, cnt)
                     + char_off[reps])
                bs = char_ext[g]
                L = char_ext[g + n] - bs
                crc = np.full(total, 0xFFFFFFFF, dtype=np.uint32)
                for j in range(int(L.max())):
                    act = L > j
                    c = crc[act]
                    crc[act] = tab[(c ^ B[bs[act] + j]) & np.uint32(0xFF)] ^ (
                        c >> np.uint32(8)
                    )
                crc ^= np.uint32(0xFFFFFFFF)
                V = W[(crc % np.uint32(buckets)).astype(np.int64)]
                nzd = np.flatnonzero(cnt)
                S[nzd] += np.add.reduceat(V, cstart[nzd], axis=0)
                gcnt += cnt
            sc = np.flatnonzero(gcnt)
            if sc.size:
                scores = S[sc]
                best = np.argmax(scores, axis=1)
                # softmax over per-gram-normalized scores so confidence
                # doesn't saturate to 1.0 on long documents
                norm = scores / gcnt[sc, None]
                mx = norm.max(axis=1)
                z = np.exp(norm - mx[:, None]).sum(axis=1)
                conf = (
                    np.exp(norm[np.arange(sc.size), best] - mx) / z
                )
                for t_, d in enumerate(sc):
                    out_lang[live[lo + d]] = langs[int(best[t_])]
                    out_conf[live[lo + d]] = float(conf[t_])
            lo = hi
        return pd.DataFrame({"lang": out_lang, "conf": out_conf})

    # see ivf_assign (similarity.py): the marker keeps the optimizer
    # from pushing downstream filters into the UDF expression
    _score = _score.asNondeterministic()

    scratch = "__langid__"
    if scratch in td.columns or out_col in td.columns or (
        conf_col and conf_col in td.columns
    ):
        clash = [
            c for c in (scratch, out_col, conf_col) if c and c in td.columns
        ]
        raise ValueError(
            f"lang_id_predict: column(s) {clash} already exist; pass "
            f"different out_col/conf_col"
        )
    if min_conf is not None and not 0.0 <= float(min_conf) <= 1.0:
        raise ValueError(
            f"lang_id_predict: min_conf must be in [0, 1], got {min_conf}"
        )
    df = td.df.withColumn(scratch, _score(F.col(tname)))
    lang_expr = F.col(f"{scratch}.lang")
    if min_conf is not None:
        # NULL/empty text stays NULL (never 'und' — there was nothing
        # to be undetermined ABOUT); a scored row below the floor
        # relabels to und_label
        lang_expr = F.when(lang_expr.isNull(), F.lit(None).cast("string")).when(
            F.col(f"{scratch}.conf") >= F.lit(float(min_conf)), lang_expr
        ).otherwise(F.lit(und_label).cast("string"))
    df = df.withColumn(out_col, lang_expr)
    if conf_col:
        df = df.withColumn(conf_col, F.col(f"{scratch}.conf"))
    return td.with_df(df.drop(scratch))


def lang_id_write(spark, model: dict, path: str) -> None:
    """Persist a model as a one-file JSON artifact (pca_write's
    format envelope)."""
    from .jsonio import write_json_file

    write_json_file(spark, path, model)


def lang_id_read(spark, path: str) -> dict:
    """Load a lang_id_write artifact; validates the format tag."""
    from .jsonio import read_json_file

    model = read_json_file(spark, path)
    if model.get("format") != "datar-langid":
        raise ValueError(
            f"lang_id_read: not a lang_id_write artifact at {path!r}"
        )
    return model
