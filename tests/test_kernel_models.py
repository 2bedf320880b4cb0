"""Tests for the deterministic langid + perplexity models and quality
heuristics (all [north-rule] stages — BASELINE.json north_star)."""

import numpy as np
import pytest

from top_secret_spark.kernel.langid import LANGS, UNKNOWN, detect_batch
from top_secret_spark.kernel.perplexity import perplexity_batch
from top_secret_spark.kernel.quality import (
    DEFAULT_THRESHOLDS,
    digit_ratio,
    dup_line_frac,
    keep_drop,
    symbol_ratio,
    top_bigram_frac,
    word_count,
)

EN = "The quick brown fox jumps over the lazy dog while everyone watches happily."
DE = "Der schnelle braune Fuchs springt über den faulen Hund und alle schauen zu."
FR = "Le rapide renard brun saute par dessus le chien paresseux devant tout le monde."
ES = "La rápida zorra marrón salta sobre el perro perezoso mientras todos miran."
GIBBERISH = "zxq jkw vbn mqp xyz qqq wvx kjh zzz pqm xkcd vvv qzj wxq"
SYMBOLS = "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) ___ +++ === ~~~ ||| ???"


def test_langid_identifies_clear_languages():
    langs, conf = detect_batch([EN, DE, FR, ES])
    assert list(langs) == ["en", "de", "fr", "es"]
    assert (conf > 0.5).all()


def test_langid_english_high_confidence():
    langs, conf = detect_batch([EN * 3])
    assert langs[0] == "en" and conf[0] > 0.9


def test_langid_empty_und():
    langs, conf = detect_batch(["", None, "ab"])
    assert list(langs) == [UNKNOWN] * 3
    assert (conf == 0.0).all()


def test_langid_deterministic_across_batching():
    texts = [EN, DE, FR, ES, GIBBERISH] * 4
    l1, c1 = detect_batch(texts)
    parts = [detect_batch(texts[i : i + 3]) for i in range(0, len(texts), 3)]
    l2 = np.concatenate([p[0] for p in parts])
    c2 = np.concatenate([p[1] for p in parts])
    assert list(l1) == list(l2)
    np.testing.assert_allclose(c1, c2, rtol=1e-12)


def test_langid_known_langs():
    assert set(LANGS) == {"en", "es", "fr", "de", "it", "pt", "nl"}


def test_perplexity_orders_fluency():
    ppl = perplexity_batch([EN, GIBBERISH, SYMBOLS])
    assert ppl[0] < ppl[1] < ppl[2]
    assert ppl[0] < 1000


def test_perplexity_empty_maxed():
    ppl = perplexity_batch(["", None])
    assert (ppl >= 1e6 - 1).all()


def test_perplexity_deterministic():
    p1 = perplexity_batch([EN, DE, GIBBERISH])
    p2 = perplexity_batch([GIBBERISH])
    np.testing.assert_allclose(p1[2], p2[0], rtol=1e-12)


# --- quality heuristics -------------------------------------------------------


def test_symbol_and_digit_ratios():
    assert symbol_ratio("abc def") == 0.0
    assert symbol_ratio("@@@@") == 1.0
    assert digit_ratio("a1b2") == 0.5


def test_dup_line_frac():
    assert dup_line_frac("a\nb\nc") == 0.0
    assert dup_line_frac("a\na\na\nb") == 0.5
    assert dup_line_frac("single line") == 0.0


def test_top_bigram_frac():
    assert top_bigram_frac("buy now buy now buy now buy now buy now") > 0.4
    assert top_bigram_frac(EN) < 0.2


def test_keep_drop_reasons_priority():
    th = DEFAULT_THRESHOLDS
    assert keep_drop("", "en", 1.0, 10.0, th) == (False, "too_short")
    assert keep_drop("x" * 21, "en", 1.0, 10.0, th) == (False, "too_few_words")
    assert keep_drop(SYMBOLS, "en", 1.0, 10.0, th) == (False, "symbol_ratio")
    assert keep_drop("12 34 56 78 90 12 34 56 78", "en", 1.0, 10.0, th) == (
        False, "digit_ratio")
    assert keep_drop("the line here\n" * 10, "en", 1.0, 10.0, th)[1] == "dup_lines"
    assert keep_drop("buy now " * 10, "en", 1.0, 10.0, th)[1] == "repetition"
    assert keep_drop(EN, "de", 1.0, 10.0, th) == (False, "lang")
    assert keep_drop(EN, "en", 0.2, 10.0, th) == (False, "lang_conf")
    assert keep_drop(EN, "en", 1.0, 99999.0, th) == (False, "perplexity")
    assert keep_drop(EN, "en", 0.95, 200.0, th) == (True, None)


TOXIC = "you worthless idiot shut up you pathetic moron and loser"


def test_toxicity_score():
    from top_secret_spark.kernel.toxicity import toxicity_score

    assert toxicity_score(TOXIC) == 6 / 10  # worthless, idiot, shut up,
    # pathetic, moron, loser — "shut up" counts once (phrase, not words)
    assert toxicity_score(EN) == 0.0
    assert toxicity_score("") == 0.0
    # word-boundary: no substring matches inside larger words
    assert toxicity_score("idiotic freakish morons") == 0.0
    # case-insensitive
    assert toxicity_score("IDIOT " + "pad " * 5) > 0.08


def test_keep_drop_toxicity_rule_and_priority():
    th = DEFAULT_THRESHOLDS
    assert keep_drop(TOXIC, "en", 1.0, 10.0, th) == (False, "toxicity")
    # toxicity outranks the model rules (lang/lang_conf/perplexity)
    assert keep_drop(TOXIC, "de", 0.1, 99999.0, th) == (False, "toxicity")
    # one mild term diluted below threshold is kept
    mild = ("The committee thought the plan came from an idiot but approved "
            "the annual budget anyway after review.")
    assert keep_drop(mild, "en", 1.0, 10.0, th) == (True, None)


def test_word_count():
    assert word_count("a b  c\nd") == 4
    assert word_count("") == 0


# --- real-model swap hooks (langid fastText / perplexity KenLM) --------------
#
# The wheels are absent in this sandbox, so both directions are driven
# through the hook's seams: env-var unset / loader failure -> synthetic
# fallback; a mocked loader -> the real-model scoring path.


class _FakeFastText:
    def predict(self, texts):
        return ([["__label__xx"] for _ in texts],
                [[0.75] for _ in texts])


class _FakeKenLM:
    def perplexity(self, text):
        return 42.0


def _reset_langid_hook():
    from top_secret_spark.kernel import langid
    langid._REAL_MODEL = None
    langid._MODEL_LOADER = None


def _reset_ppl_hook():
    from top_secret_spark.kernel import perplexity
    perplexity._REAL_MODEL = None
    perplexity._MODEL_LOADER = None


def test_langid_hook_falls_back_without_wheel(monkeypatch):
    # env var set but the model cannot load (no fasttext wheel or no
    # file): detect_batch warns once and uses the synthetic weights
    from top_secret_spark.kernel import langid
    _reset_langid_hook()
    monkeypatch.setenv(langid._REAL_MODEL_ENV, "/nonexistent/lid.bin")
    try:
        with pytest.warns(RuntimeWarning, match="/nonexistent/lid.bin"):
            langs, conf = langid.detect_batch([EN, ES])
        assert list(langs) == ["en", "es"]
        assert langid._REAL_MODEL is False  # probed once, cached
    finally:
        _reset_langid_hook()


def test_langid_hook_uses_real_model_when_loadable(monkeypatch):
    from top_secret_spark.kernel import langid
    _reset_langid_hook()
    monkeypatch.setenv(langid._REAL_MODEL_ENV, "/any/path.bin")
    langid._MODEL_LOADER = lambda path: _FakeFastText()
    try:
        langs, conf = langid.detect_batch([EN, "ab", "日本"])
        assert langs[0] == "xx" and conf[0] == 0.75
        # sub-_MIN_CHARS text stays ("und", 0.0) through the real path
        assert langs[1] == "und" and conf[1] == 0.0
        # the short-text gate counts UTF-8 bytes on both paths: 2 chars,
        # 6 bytes is long enough, as on the synthetic path
        assert langs[2] == "xx" and conf[2] == 0.75
    finally:
        _reset_langid_hook()


def test_perplexity_hook_both_ways(monkeypatch):
    import numpy as np
    from top_secret_spark.kernel import perplexity
    _reset_ppl_hook()
    # wheel absent -> synthetic tables
    monkeypatch.setenv(perplexity._REAL_MODEL_ENV, "/nonexistent/lm.bin")
    with pytest.warns(RuntimeWarning, match="/nonexistent/lm.bin"):
        base = perplexity.perplexity_batch([EN])
    assert perplexity._REAL_MODEL is False
    assert base[0] < 50.0  # in-domain English scores low synthetically
    # mocked real model -> its perplexity, empty text -> _MAX_PPL
    _reset_ppl_hook()
    monkeypatch.setenv(perplexity._REAL_MODEL_ENV, "/any/lm.bin")
    perplexity._MODEL_LOADER = lambda path: _FakeKenLM()
    try:
        got = perplexity.perplexity_batch([EN, ""])
        assert got[0] == 42.0
        assert got[1] == perplexity._MAX_PPL
        # an explicit fitted-table override still bypasses the hook
        tabs = perplexity.tables()
        np.testing.assert_array_equal(
            perplexity.perplexity_batch([EN], model=tabs), base)
    finally:
        _reset_ppl_hook()


def test_langid_real_model_empty_batch(monkeypatch):
    # an empty Arrow batch through the real-model path must return
    # typed empties, not IndexError from a float64 empty mask
    from top_secret_spark.kernel import langid
    _reset_langid_hook()
    monkeypatch.setenv(langid._REAL_MODEL_ENV, "/any/path.bin")
    langid._MODEL_LOADER = lambda path: _FakeFastText()
    try:
        langs, conf = langid.detect_batch([])
        assert len(langs) == 0 and len(conf) == 0
        assert conf.dtype.kind == "f"
    finally:
        _reset_langid_hook()
