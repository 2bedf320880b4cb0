"""fastText-style language identification — deterministic synthetic model.

A hashed character-n-gram linear classifier (the fastText architecture:
Joulin et al. 2016, "Bag of Tricks for Efficient Text Classification"):
score(lang) = mean over n-gram buckets of a per-language log-probability
table; prediction = argmax, confidence = softmax.  The real fastText
wheel is not installed in this sandbox, so the weight table is built
deterministically at import time from small embedded seed corpora — the
interface, hashing, and vectorized execution path are exactly what a real
model file would use (weights broadcast once, numpy matmul per Arrow
batch, no per-row Python).

[north-rule] stage — BASELINE.json north_star: "fastText language-ID
stage"; not present in the reference repo.
"""

from __future__ import annotations

import warnings

import numpy as np

from .hashing import doc_sums, encode_batch, ngram_hashes, raw_ngram_hashes

BUCKETS = 1 << 16
# char bigrams + trigrams; unigrams carry little language signal and cost
# a third of the score-gather memory traffic (measured 2x end-to-end)
ORDERS = (2, 3)

# Tiny seed corpora: common function words + a few sentences per language.
# These drive character n-gram statistics, which is what distinguishes
# languages at the character level (de: "sch/ der/ die", es: "ción/ que",
# fr: "eau/ les/ une", etc.).
_SEEDS = {
    "en": (
        "the of and to in a is that it was for on are with as his they be at "
        "one have this from or had by hot word but what some we can out other "
        "were all there when up use your how said an each she which do their "
        "time if will way about many then them write would like so these her "
        "long make thing see him two has look more day could go come did number "
        "the quick brown fox jumps over the lazy dog and everyone was happy "
        "please call me tomorrow about the meeting we discussed last week "
        "this is a perfectly normal english sentence with common words"
    ),
    "es": (
        "el la de que y a en un ser se no haber por con su para como estar "
        "tener le lo todo pero más hacer o poder decir este ir otro ese si me "
        "ya ver porque dar cuando él muy sin vez mucho saber qué sobre mi "
        "alguno mismo yo también hasta año dos querer entre así primero desde "
        "la rápida zorra marrón salta sobre el perro perezoso y todos estaban "
        "felices por favor llámame mañana sobre la reunión que discutimos "
        "esta es una oración española normal con palabras comunes información"
    ),
    "fr": (
        "le de un être et à il avoir ne je son que se qui ce dans en du elle "
        "au de ce le pour pas que vous par sur faire plus dire me on mon lui "
        "nous comme mais pouvoir avec tout y aller voir en bien où sans tu ou "
        "leur homme si deux mari moi vouloir te femme venir quand grand celui "
        "le rapide renard brun saute par dessus le chien paresseux et tout le "
        "monde était heureux appelez moi demain au sujet de la réunion dont "
        "nous avons discuté ceci est une phrase française normale avec des mots"
    ),
    "de": (
        "der die und in den von zu das mit sich des auf für ist im dem nicht "
        "ein die eine als auch es an werden aus er hat dass sie nach wird bei "
        "einer um am sind noch wie einem über einen so zum war haben nur oder "
        "aber vor zur bis mehr durch man sein wurde sei schnelle braune fuchs "
        "springt über den faulen hund und alle waren glücklich bitte rufen sie "
        "mich morgen wegen des treffens an das wir letzte woche besprochen "
        "haben dies ist ein ganz normaler deutscher satz mit häufigen wörtern"
    ),
    "it": (
        "di e il la che è in a per un sono mi si lo ma ho le con non una ti "
        "ci no io questo hai più qui sei del tu bene cosa come ne se te della "
        "mia sua anche stato fatto essere quella volta ancora quando tutto "
        "molto chi prima adesso la veloce volpe marrone salta sopra il cane "
        "pigro e tutti erano felici per favore chiamami domani riguardo alla "
        "riunione di cui abbiamo discusso questa è una normale frase italiana "
        "con parole comuni informazione nazionale possibilità"
    ),
    "pt": (
        "de a o que e do da em um para é com não uma os no se na por mais as "
        "dos como mas foi ao ele das tem à seu sua ou ser quando muito há nos "
        "já está eu também só pelo pela até isso ela entre era depois sem "
        "mesmo aos ter seus quem nas me esse eles estão você tinha foram essa "
        "a rápida raposa marrom salta sobre o cão preguiçoso e todos ficaram "
        "felizes por favor me ligue amanhã sobre a reunião que discutimos "
        "esta é uma frase portuguesa normal com palavras comuns informação"
    ),
    "nl": (
        "de het een van ik te dat die in en zij is niet op aan er hij zijn "
        "zo wordt voor kunnen wat mijn men dit zou hebben hem naar heeft hoe "
        "nog zal maar jullie of hun dan ook al over uit bij ze maken gaan werd "
        "worden wel moeten je ons deze niets onder tegen na reeds wil kwam "
        "de snelle bruine vos springt over de luie hond en iedereen was blij "
        "bel me morgen over de vergadering die we vorige week hebben besproken "
        "dit is een normale nederlandse zin met veelvoorkomende woorden"
    ),
}

LANGS = tuple(_SEEDS)
UNKNOWN = "und"
_ALPHA = 0.05


def _build_weights() -> np.ndarray:
    """(BUCKETS, n_langs) log-probability table from the seed corpora."""
    w = np.zeros((BUCKETS, len(LANGS)), dtype=np.float32)
    for j, lang in enumerate(LANGS):
        data, lengths = encode_batch([_SEEDS[lang].lower()])
        counts = np.zeros(BUCKETS, dtype=np.float64)
        for n in ORDERS:
            _, h = ngram_hashes(data, lengths, n, BUCKETS)
            np.add.at(counts, h, 1.0)
        probs = (counts + _ALPHA) / (counts.sum() + _ALPHA * BUCKETS)
        w[:, j] = np.log(probs).astype(np.float32)
    return w


_WEIGHTS: np.ndarray | None = None


def weights() -> np.ndarray:
    """Lazy executor-local singleton (same pattern as the reference's
    model cache, text.rb:21-33): built once per Python worker."""
    global _WEIGHTS
    if _WEIGHTS is None:
        _WEIGHTS = _build_weights()
    return _WEIGHTS


# --- optional real-model hook -------------------------------------------
#
# Production swap path: point TSS_FASTTEXT_MODEL at a real fastText
# .bin (e.g. lid.176.bin) on every worker and install the public
# `fasttext` wheel — detect_batch then scores through the real model.
# Wheel or artifact absent → the deterministic synthetic weights above
# (the oracle-pinned path; every driver-checked result uses it).  The
# hook is opt-in BY ENV VAR so the same code is bit-reproducible in CI
# and model-accurate in production without touching any oracle.
_REAL_MODEL_ENV = "TSS_FASTTEXT_MODEL"
_REAL_MODEL = None  # tri-state: None=unprobed, False=unavailable, model
_MODEL_LOADER = None  # test seam: swap the import+load step


def _load_fasttext(path: str):
    import fasttext  # public wheel; absent in this sandbox

    return fasttext.load_model(path)


def real_model():
    """The real fastText model, or None (worker-local singleton).

    Unavailable (no env var, no wheel, unreadable artifact) caches as
    False so workers don't re-probe per batch; a set env var whose
    model fails to load warns (RuntimeWarning) before the fallback."""
    global _REAL_MODEL
    if _REAL_MODEL is None:
        import os

        path = os.environ.get(_REAL_MODEL_ENV)
        if not path:
            _REAL_MODEL = False
        else:
            try:
                _REAL_MODEL = (_MODEL_LOADER or _load_fasttext)(path)
            except Exception as e:
                warnings.warn(
                    f"{_REAL_MODEL_ENV}={path!r} failed to load ({e!r}); "
                    f"falling back to the synthetic langid model",
                    RuntimeWarning, stacklevel=2,
                )
                _REAL_MODEL = False  # documented fallback: synthetic
    return _REAL_MODEL or None


def _detect_real(model, texts) -> tuple[np.ndarray, np.ndarray]:
    """Batch predict through a real fastText model (labels like
    '__label__en' → bare code; sub-_MIN_CHARS texts → ('und', 0.0))."""
    cleaned = [(t or "").replace("\n", " ") for t in texts]
    if not cleaned:
        # an empty Arrow batch / empty partition must not index with a
        # float64-dtype empty mask (IndexError) — return typed empties
        return np.empty(0, dtype=object), np.empty(0, dtype=np.float64)
    labels, probs = model.predict(cleaned)
    langs = np.array(
        [ls[0].removeprefix("__label__") if ls else UNKNOWN for ls in labels],
        dtype=object,
    )
    conf = np.array([float(p[0]) if len(p) else 0.0 for p in probs])
    # same short-text basis as the synthetic path: UTF-8 bytes of the
    # lowered text (encode_batch), so the hook changes only the model
    short = np.array(
        [len(c.lower().encode("utf-8", "replace")) < _MIN_CHARS
         for c in cleaned]
    )
    langs[short] = UNKNOWN
    return langs, np.where(short, 0.0, conf)


# softmax temperature over mean-log-prob scores; calibrated so clean
# single-language text scores > 0.9 confidence
_SOFTMAX_SCALE = 12.0
_MIN_CHARS = 4

# Byte budget per processing chunk.  Processing the whole Arrow batch at
# once materializes buffer-sized temporaries (one hash buffer per n-gram
# order and a len(grams)×n_langs gather of the weight table — ~50-300 MB
# each for a 20k-row batch), which are
# mmap-backed fresh allocations every batch: the kernel zeroes the pages
# and the TLB shootdowns on free serialize ACROSS cores, so 32 workers
# ran no faster than 8 (measured flat, eff 0.27).  Slicing the encoded
# buffer into ~128 KiB spans keeps every intermediate L2/L3-resident and
# inside malloc's reuse pools; per-doc independence makes the results
# bit-identical.  Measured: p8 55k→143k texts/s, p32 94k→334k (eff
# 0.27→0.8+) on the 32-core bench host.
_CHUNK_BYTES = 128 * 1024


def chunk_spans(lengths: np.ndarray, chunk_bytes: int = _CHUNK_BYTES):
    """(doc_start, doc_end, byte_start, byte_end) spans covering all docs,
    each span ≤ chunk_bytes total (an oversized single doc gets its own
    span).  Shared by the langid, perplexity, and char-signals hot
    loops — delegates to the audio kernel's ``_clip_blocks``, which
    implements the identical block-partitioning contract with an
    O(log n) searchsorted per block instead of a per-doc Python loop."""
    from .audio import _clip_blocks

    yield from _clip_blocks(np.asarray(lengths, dtype=np.int64), chunk_bytes)


def detect_batch(texts) -> tuple[np.ndarray, np.ndarray]:
    """(langs, confidences) for a batch of texts — fully vectorized.

    Texts shorter than _MIN_CHARS (or empty) → ("und", 0.0).
    Scores through a REAL fastText model instead when the opt-in hook
    is active (see ``real_model``); default is the deterministic
    synthetic path below.
    """
    model = real_model()
    if model is not None:
        return _detect_real(model, texts)
    w = weights()
    lowered = [(t or "").lower() for t in texts]
    data, lengths = encode_batch(lowered)
    ndocs = len(lowered)
    scores = np.zeros((ndocs, len(LANGS)), dtype=np.float64)
    counts = np.zeros(ndocs, dtype=np.float64)
    # cache-resident chunks (see _CHUNK_BYTES); every start position is
    # hashed, and doc_sums keeps only the in-document ones
    for c0, c1, b0, b1 in chunk_spans(lengths):
        cdata, clen = data[b0:b1], lengths[c0:c1]
        for n in ORDERS:
            h = raw_ngram_hashes(cdata, n, BUCKETS)
            # np.take of whole rows: the same copy as w[h], ~2.5x faster
            docs, seg, cnt = doc_sums(np.take(w, h, axis=0), clen, n)
            scores[docs + c0] += seg.astype(np.float64)
            counts[docs + c0] += cnt
    ok = (counts > 0) & (lengths >= _MIN_CHARS)
    scores[ok] /= counts[ok, None]
    # softmax confidence
    z = scores * _SOFTMAX_SCALE
    z -= z.max(axis=1, keepdims=True)
    ez = np.exp(z)
    probs = ez / ez.sum(axis=1, keepdims=True)
    best = np.argmax(probs, axis=1)
    conf = probs[np.arange(ndocs), best]
    langs = np.array(LANGS, dtype=object)[best]
    langs[~ok] = UNKNOWN
    conf = np.where(ok, conf, 0.0)
    return langs, conf
