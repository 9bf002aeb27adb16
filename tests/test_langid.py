"""Trainable hashed char-n-gram language ID (scale/langid.py):
train/predict on the built-in seed corpus, hash parity between the
JVM training path and the Arrow predict path, accuracy floor vs the
stopword heuristic, persistence, determinism, NULL semantics, and
plan shape (predict is one Arrow pass, no shuffle)."""

import zlib

import pytest
from pyspark.sql import functions as F

from datar_polars_spark import f, mutate, tibble
from datar_polars_spark.functions.registry import builder
from datar_polars_spark.scale import (
    lang_id_predict,
    lang_id_read,
    lang_id_train,
    lang_id_train_seed,
    lang_id_write,
    seed_corpus,
)
from datar_polars_spark.scale.langid import _SEED, _bucket
from datar_polars_spark.tibble import ensure_tibble

# Held-out sentences (authored for this test, NOT in the seed corpus)
# — one per seed language.
HELD_OUT = {
    "en": "yesterday evening we watched the storm roll in over the hills",
    "de": "gestern abend haben wir zugesehen wie das gewitter über die hügel zog",
    "fr": "hier soir nous avons regardé l'orage arriver au-dessus des collines",
    "es": "anoche vimos cómo la tormenta llegaba sobre las colinas",
    "it": "ieri sera abbiamo guardato il temporale arrivare sopra le colline",
    "pt": "ontem à noite vimos a tempestade chegar sobre as colinas",
    "nl": "gisteravond keken we hoe het onweer over de heuvels kwam aanrollen",
    "ru": "вчера вечером мы смотрели как гроза приближалась над холмами",
    "ar": "شاهدنا مساء أمس العاصفة وهي تقترب فوق التلال",
    "zh": "昨天傍晚我们看着暴风雨从山丘那边过来",
    "ja": "昨日の夕方 嵐が丘を越えてやって来るのを見ていた",
    "ko": "어제 저녁 우리는 폭풍이 언덕 너머로 다가오는 것을 지켜보았다",
}


@pytest.fixture(scope="module")
def model(spark):
    return lang_id_train_seed(spark)


def _held_out_tbl(spark):
    rows = [(lang, text) for lang, text in sorted(HELD_OUT.items())]
    return ensure_tibble(
        spark.createDataFrame(rows, "truth string, text string")
    )


def test_seed_model_shape(model):
    assert model["format"] == "datar-langid"
    assert model["langs"] == sorted(_SEED)
    assert set(model["weights"]) == set(model["langs"])
    assert set(model["log_prior"]) == set(model["langs"])
    # log-probs are negative; priors sum to ~1
    import math

    assert all(lp < 0 for lp in model["default_logp"].values())
    assert abs(sum(math.exp(p) for p in model["log_prior"].values()) - 1) < 1e-9


def test_held_out_accuracy_perfect(spark, model):
    got = lang_id_predict(_held_out_tbl(spark), model, "text")
    rows = got.df.select("truth", "lang_pred", "lang_conf").collect()
    assert len(rows) == len(HELD_OUT)
    for r in rows:
        assert r["lang_pred"] == r["truth"], (r["truth"], r["lang_pred"])
        # winner confidence beats the uniform prior
        assert r["lang_conf"] is not None and r["lang_conf"] > 1.0 / len(_SEED)
        assert r["lang_conf"] <= 1.0 + 1e-12


def test_accuracy_floor_vs_heuristic(spark, model):
    """The trained model must do at least as well as the stopword
    heuristic on the held-out set — and strictly better on the
    languages the heuristic doesn't know (it, pt, nl)."""
    lang_id = builder("lang_id")
    td = _held_out_tbl(spark) >> mutate(heur=lang_id(f.text))
    td = lang_id_predict(td, model, "text")
    rows = td.df.collect()
    model_acc = sum(r["lang_pred"] == r["truth"] for r in rows)
    heur_acc = sum(r["heur"] == r["truth"] for r in rows)
    assert model_acc >= heur_acc
    assert model_acc == len(HELD_OUT)
    assert heur_acc < len(HELD_OUT)  # it/pt/nl are outside the heuristic


def test_bucket_hash_parity_jvm_python(spark):
    """Training hashes grams JVM-side (pmod(crc32(encode(g)), B));
    predict hashes Python-side (zlib.crc32 % B). Same function."""
    grams = ["the", "ße", "ço", "à ", "\x02a", "日本", "'s ", "x"]
    buckets = 1 << 15
    df = spark.createDataFrame([(g,) for g in grams], "g string")
    got = {
        r["g"]: r["b"]
        for r in df.select(
            "g",
            F.pmod(F.crc32(F.encode(F.col("g"), "UTF-8")), F.lit(buckets)).alias(
                "b"
            ),
        ).collect()
    }
    for g in grams:
        assert got[g] == _bucket(g, buckets), g


def test_train_deterministic(spark):
    m1 = lang_id_train_seed(spark, buckets=4096, top_k=500)
    m2 = lang_id_train_seed(spark, buckets=4096, top_k=500)
    assert m1 == m2


def test_seed_corpus_is_built_in_the_jvm(spark, model):
    """No Python RDD behind the seed corpus (its scan would start a
    second Python worker pool), and the same rows and model as the
    createDataFrame corpus it replaced."""
    corpus = seed_corpus(spark)
    plan = corpus.df._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan and "ExternalRDD" not in plan
    rows = [(t, lang) for lang, ts in _SEED.items() for t in ts]
    legacy = spark.createDataFrame(rows, "text string, lang string")
    assert corpus.df.schema == legacy.schema
    assert [tuple(r) for r in corpus.df.collect()] == rows
    assert lang_id_train(ensure_tibble(legacy), "text", "lang") == model


def test_top_k_caps_feature_count(spark):
    m = lang_id_train_seed(spark, top_k=50)
    for lang, w in m["weights"].items():
        assert len(w) <= 50, lang


def test_null_and_empty_text(spark, model):
    td = ensure_tibble(
        spark.createDataFrame(
            [(1, None), (2, ""), (3, "   "), (4, "le temps était froid ce matin")],
            "id long, text string",
        )
    )
    rows = {
        r["id"]: (r["lang_pred"], r["lang_conf"])
        for r in lang_id_predict(td, model, "text").df.collect()
    }
    assert rows[1] == (None, None)
    assert rows[2] == (None, None)
    assert rows[3] == (None, None)
    assert rows[4][0] == "fr"


def test_conf_col_none_omits_column(spark, model):
    td = _held_out_tbl(spark)
    got = lang_id_predict(td, model, "text", conf_col=None)
    assert "lang_conf" not in got.df.columns
    assert "lang_pred" in got.df.columns


def test_column_clash_raises(spark, model):
    td = _held_out_tbl(spark) >> mutate(lang_pred=f.truth)
    with pytest.raises(ValueError, match="already exist"):
        lang_id_predict(td, model, "text")


def test_bad_model_raises(spark):
    td = _held_out_tbl(spark)
    with pytest.raises(ValueError, match="lang_id_train dict"):
        lang_id_predict(td, {"nope": 1}, "text")


def test_no_labeled_rows_raises(spark):
    td = ensure_tibble(
        spark.createDataFrame([], "text string, lang string")
    )
    with pytest.raises(ValueError, match="no labeled rows"):
        lang_id_train(td, "text", "lang")


def test_custom_labels_two_way(spark):
    """User-supplied labels, not just languages: the model separates
    two synthetic dialects by their character distributions."""
    rows = [("aaab aab aaab abba", "a-ish")] * 6 + [
        ("zzyz zyy zzzy yzzy", "z-ish")
    ] * 6
    td = ensure_tibble(spark.createDataFrame(rows, "text string, lang string"))
    m = lang_id_train(td, "text", "lang", buckets=1024)
    probe = ensure_tibble(
        spark.createDataFrame(
            [(1, "abab aaba"), (2, "zyzy zzyy")], "id long, text string"
        )
    )
    got = {
        r["id"]: r["lang_pred"]
        for r in lang_id_predict(probe, m, "text").df.collect()
    }
    assert got == {1: "a-ish", 2: "z-ish"}


def test_write_read_roundtrip(spark, model, tmp_path):
    path = str(tmp_path / "langid_model.json")
    lang_id_write(spark, model, path)
    loaded = lang_id_read(spark, path)
    assert loaded == model
    # predictions identical through the round-trip
    a = lang_id_predict(_held_out_tbl(spark), model, "text").df.collect()
    b = lang_id_predict(_held_out_tbl(spark), loaded, "text").df.collect()
    assert a == b


def test_read_rejects_foreign_artifact(spark, tmp_path):
    from datar_polars_spark.scale.jsonio import write_json_file

    path = str(tmp_path / "not_langid.json")
    write_json_file(spark, path, {"format": "pca-model"})
    with pytest.raises(ValueError, match="not a lang_id_write artifact"):
        lang_id_read(spark, path)


def test_predict_plan_no_shuffle(spark, model):
    """Predict is one Arrow pass over the scan: ArrowEvalPython
    present, no Exchange."""
    td = _held_out_tbl(spark)
    plan = (
        lang_id_predict(td, model, "text")
        .df._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan


def test_train_shuffle_bounded_by_buckets(spark):
    """The training aggregate carries bucket ints, not gram strings —
    the shuffled key column is the pmod(crc32) bucket."""
    corpus = seed_corpus(spark)
    from datar_polars_spark.scale.langid import _grams_expr

    grams = _grams_expr(F.col("text"), 1, 3)
    counted = (
        corpus.df.select(F.col("lang").alias("__lang"), grams.alias("__g"))
        .select("__lang", F.explode("__g").alias("__gram"))
        .select(
            "__lang",
            F.pmod(F.crc32(F.encode(F.col("__gram"), "UTF-8")), F.lit(64)).alias(
                "__b"
            ),
        )
        .groupBy("__lang", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    assert counted.count() <= len(_SEED) * 64


def test_grams_expr_padding_matches_predict(spark):
    """JVM gram extraction and predict-side normalization agree:
    lowercase, whitespace/digit runs -> one boundary marker, padded."""
    import re

    from datar_polars_spark.scale.langid import _PAD, _grams_expr

    text = "The  rain\tin 1990 Spain"
    expected_base = (
        _PAD + re.sub(r"[\s0-9]+", _PAD, text.lower()) + _PAD
    )
    expected = []
    for n in (1, 2, 3):
        expected += [
            expected_base[i : i + n]
            for i in range(len(expected_base) - n + 1)
        ]
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(_grams_expr(F.col("t"), 1, 3).alias("g")).head()["g"]
    assert got == expected


def test_minhash_char_analyzer_cjk(spark):
    """analyzer='char' lets the minhash family catch CJK near-dups
    that word shingling (whole-run tokens) structurally cannot."""
    from datar_polars_spark import f
    from datar_polars_spark.scale import minhash_dedup, minhash_pairs
    from datar_polars_spark.tibble import ensure_tibble

    base = "今天早上天气很冷街上很安静孩子们在房子后面的花园里玩耍他想不起来把钥匙放在哪里了" * 3
    rows = [
        (1, base),
        (2, base[:-6] + "完全不同结尾六字"),   # high char-Jaccard variant
        (3, "会议改到了星期四下午博物馆冬天每逢星期一闭馆我的邻居每年夏天都种西红柿和辣椒" * 3),
    ]
    td = ensure_tibble(spark.createDataFrame(rows, "doc_id long, text string"))
    char_pairs = minhash_pairs(
        td, f.text, f.doc_id, threshold=0.6, analyzer="char", shingle_chars=8
    )
    got = {(r["id_a"], r["id_b"]) for r in char_pairs.df.collect()}
    assert (1, 2) in got and (1, 3) not in got and (2, 3) not in got
    # word shingling on the same rows finds nothing (each text is a
    # handful of giant run-tokens; edits change every shingle)
    word_pairs = minhash_pairs(td, f.text, f.doc_id, threshold=0.6)
    assert {(r["id_a"], r["id_b"]) for r in word_pairs.df.collect()} == set()
    # dedup keeps the smallest id of the near-dup set
    kept = minhash_dedup(
        td, f.text, f.doc_id, threshold=0.6, analyzer="char", shingle_chars=8
    )
    assert sorted(r["doc_id"] for r in kept.df.collect()) == [1, 3]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="analyzer must be"):
        minhash_pairs(td, f.text, f.doc_id, analyzer="bogus").df.count()


def test_simhash_and_jaccard_char_analyzer_cjk(spark):
    """The char analyzer extends to the rest of the near-dup family:
    simhash_dedup and ngram_jaccard_pairs catch the CJK variant the
    word path cannot."""
    from datar_polars_spark import f
    from datar_polars_spark.scale import ngram_jaccard_pairs, simhash_dedup
    from datar_polars_spark.tibble import ensure_tibble

    base = "今天早上天气很冷街上很安静孩子们在房子后面的花园里玩耍他想不起来把钥匙放在哪里了" * 3
    rows = [
        (1, base),
        (2, base[:-4] + "不同结尾"),
        (3, "会议改到了星期四下午博物馆冬天每逢星期一闭馆我的邻居每年夏天都种西红柿和辣椒" * 3),
    ]
    td = ensure_tibble(spark.createDataFrame(rows, "doc_id long, text string"))
    kept = simhash_dedup(
        td, f.text, f.doc_id, max_hamming=8, analyzer="char", shingle_chars=4
    )
    assert sorted(r["doc_id"] for r in kept.df.collect()) == [1, 3]
    # word mode: one giant token per text -> nothing pairs
    kept_w = simhash_dedup(td, f.text, f.doc_id, max_hamming=8)
    assert kept_w.df.count() == 3

    jp = ngram_jaccard_pairs(
        td, f.text, f.doc_id, threshold=0.5, analyzer="char", shingle_chars=8
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jp.df.collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.5
    assert (1, 3) not in got


def test_min_conf_und_floor(spark, model):
    """r13: min_conf= relabels below-floor predictions to 'und' (an
    out-of-model script must not silently bin into the nearest trained
    language), keeps confident predictions and the audit conf column,
    and never turns NULL/empty text into 'und'."""
    # Thai is absent from the 12-language seed corpus (its script is
    # in none of the four seeded script families)
    thai = "ผู้เชี่ยวชาญตรวจสอบแผนการอย่างละเอียดก่อนเปิดใช้งานสะพานในตอนเช้า"
    en = HELD_OUT["en"]
    td = ensure_tibble(
        spark.createDataFrame(
            [(1, en), (2, thai), (3, None), (4, "   ")],
            "i long, text string",
        )
    )
    # first establish the floor is meaningful: the Thai row's winner
    # confidence under the model
    raw = {
        r["i"]: (r["lang_pred"], r["lang_conf"])
        for r in lang_id_predict(td, model, "text").df.collect()
    }
    assert raw[1][0] == "en"
    floor = (raw[2][1] + raw[1][1]) / 2  # between thai's and en's conf
    assert raw[2][1] < floor < raw[1][1], (
        "fixture drift: thai must score below en for the floor to split"
    )
    out = {
        r["i"]: (r["lang_pred"], r["lang_conf"])
        for r in lang_id_predict(
            td, model, "text", min_conf=floor
        ).df.collect()
    }
    assert out[1][0] == "en"            # confident row untouched
    assert out[2][0] == "und"           # out-of-model script floored
    assert out[2][1] == raw[2][1]       # audit conf preserved
    assert out[3][0] is None and out[4][0] is None  # NULL/empty stay NULL
    # und_label=None yields NULL instead
    out_null = {
        r["i"]: r["p2"]
        for r in lang_id_predict(
            td, model, "text", out_col="p2", conf_col=None,
            min_conf=floor, und_label=None,
        ).df.collect()
    }
    assert out_null[1] == "en" and out_null[2] is None
    with pytest.raises(ValueError, match="min_conf"):
        lang_id_predict(td, model, "text", out_col="p3", min_conf=1.5)


def test_predict_reuses_one_broadcast_per_model(spark, model, monkeypatch):
    """Repeated predictions with one model share one broadcast of its
    dense matrix; a model mutated in place gets a fresh one, and the
    bounded memo unpersists (never destroys) what it evicts."""
    import copy

    from pyspark import SparkContext
    from pyspark.broadcast import Broadcast

    from datar_polars_spark.plans.cache import context_state
    from datar_polars_spark.scale import langid

    made, unpersisted = [], []
    real_broadcast, real_unpersist = SparkContext.broadcast, Broadcast.unpersist

    def broadcast(self, value):
        made.append(real_broadcast(self, value))
        return made[-1]

    def unpersist(self, blocking=False):
        unpersisted.append(self)
        return real_unpersist(self, blocking)

    monkeypatch.setattr(SparkContext, "broadcast", broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", unpersist)
    monkeypatch.setattr(langid, "_BROADCAST_MEMO_SIZE", 1)
    context_state().pop("lang_id_broadcast", None)
    m = copy.deepcopy(model)
    td = _held_out_tbl(spark)

    def scores():
        out = lang_id_predict(td, m, "text").df
        return sorted(map(tuple, out.select("text", "lang_pred", "lang_conf")
                          .collect()))

    first = scores()
    assert scores() == first
    assert len(made) == 1
    m["log_prior"][m["langs"][0]] += 1.0  # in place: a new digest
    lang_id_predict(td, m, "text")
    assert len(made) == 2
    assert made[0] in unpersisted
    assert list(context_state()["lang_id_broadcast"].values()) == made[1:]
