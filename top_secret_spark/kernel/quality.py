"""Heuristic quality signals and the keep/drop decision.

[north-rule] stage — BASELINE.json north_star: "heuristic keep/drop rules
(length, repetition, symbol ratio, langid confidence)".  Not present in
the reference repo.

Two implementations of the same semantics:
  * pure-Python reference functions here (unit-tested, and the oracle the
    F1 gate compares against);
  * Catalyst column expressions in operators/quality.py (the distributed
    hot path — everything SQL-expressible stays JVM-side).

Drop reasons are evaluated in a fixed priority order; the first failing
rule names the reason.  All thresholds live in ``QualityThresholds`` so
the Spark and kernel paths share one source of truth.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .toxicity import toxicity_score


@dataclass(frozen=True)
class QualityThresholds:
    min_chars: int = 20
    max_chars: int = 100_000
    min_words: int = 4
    max_symbol_ratio: float = 0.30  # non-alnum-non-space chars / chars
    max_digit_ratio: float = 0.30
    max_dup_line_frac: float = 0.40  # 1 - distinct_lines/lines (multi-line only)
    max_top_bigram_frac: float = 0.30  # most frequent word bigram share
    max_toxicity: float = 0.08  # toxic-term matches / words
    min_lang_conf: float = 0.60
    allowed_langs: tuple = ("en",)
    max_ppl: float = 3000.0

    # Priority order of drop reasons (first failure wins)
    REASONS = (
        "too_short",
        "too_long",
        "too_few_words",
        "symbol_ratio",
        "digit_ratio",
        "dup_lines",
        "repetition",
        "toxicity",
        "lang",
        "lang_conf",
        "perplexity",
    )


DEFAULT_THRESHOLDS = QualityThresholds()

_WORD_RE = re.compile(r"\S+")
_ALNUM_SPACE_RE = re.compile(r"[A-Za-z0-9\s]")
_DIGIT_RE = re.compile(r"[0-9]")


def symbol_ratio(text: str) -> float:
    if not text:
        return 0.0
    sym = len(text) - len(_ALNUM_SPACE_RE.findall(text))
    return sym / len(text)


def digit_ratio(text: str) -> float:
    if not text:
        return 0.0
    return len(_DIGIT_RE.findall(text)) / len(text)


def dup_line_frac(text: str) -> float:
    lines = [ln for ln in (text or "").split("\n") if ln.strip()]
    if len(lines) < 2:
        return 0.0
    return 1.0 - len(set(lines)) / len(lines)


def top_bigram_frac(text: str) -> float:
    words = _WORD_RE.findall(text or "")
    if len(words) < 8:
        return 0.0
    # Counter's C-level _count_elements beats a Python dict loop ~3×
    from collections import Counter

    counts = Counter(zip(words, words[1:]))
    return max(counts.values()) / (len(words) - 1)


def word_count(text: str) -> int:
    return len(_WORD_RE.findall(text or ""))


def keep_drop_from_signals(
    n_chars: int,
    n_words: int,
    symbol_ratio: float,
    digit_ratio: float,
    dup_line_frac: float,
    top_bigram_frac: float,
    toxicity: float,
    lang: str,
    lang_conf: float,
    ppl: float,
    th: QualityThresholds = DEFAULT_THRESHOLDS,
) -> tuple[bool, str | None]:
    """Threshold chain over precomputed signals — the decision core.
    Callers that already materialized the signal columns (the fused UDF,
    the Catalyst path) use this directly so no signal is computed twice."""
    if n_chars < th.min_chars:
        return False, "too_short"
    if n_chars > th.max_chars:
        return False, "too_long"
    if n_words < th.min_words:
        return False, "too_few_words"
    if symbol_ratio > th.max_symbol_ratio:
        return False, "symbol_ratio"
    if digit_ratio > th.max_digit_ratio:
        return False, "digit_ratio"
    if dup_line_frac > th.max_dup_line_frac:
        return False, "dup_lines"
    if top_bigram_frac > th.max_top_bigram_frac:
        return False, "repetition"
    if toxicity > th.max_toxicity:
        return False, "toxicity"
    if lang not in th.allowed_langs:
        return False, "lang"
    if lang_conf < th.min_lang_conf:
        return False, "lang_conf"
    if ppl > th.max_ppl:
        return False, "perplexity"
    return True, None


# byte-class lookup tables for the ASCII fast path of
# batch_char_signals.  Python's str-regex `\s` restricted to ASCII is
# [ \t\n\v\f\r] PLUS the C0 separators \x1c-\x1f (Unicode whitespace —
# the same quartet the fingerprint normalization handles explicitly for
# Python/Java parity); one byte == one character when every byte of the
# UTF-8 batch is < 128, so byte classification is EXACT there
# (hypothesis-gated against the regex twins, tests/test_property.py).
import numpy as _np

_WS_BYTES = _np.zeros(256, dtype=bool)
_WS_BYTES[[9, 10, 11, 12, 13, 28, 29, 30, 31, 32]] = True
_ALNUM_SPACE_BYTES = _WS_BYTES.copy()
for _lo, _hi in ((48, 58), (65, 91), (97, 123)):  # 0-9 A-Z a-z
    _ALNUM_SPACE_BYTES[_lo:_hi] = True


def batch_char_signals(texts):
    """Per-text (n_chars, n_words, n_alnum_space, n_digits,
    has_newline) for a list/Series of texts — the cheap character-class
    signals of the quality gate, vectorized.

    Routing is PER DOCUMENT: docs whose UTF-8 bytes are all < 128 (one
    byte == one character there) get all five signals from byte lookup
    tables + one ``add.reduceat`` pass each over the concatenated
    buffer — ~9x the four str-regex passes this replaces; the
    non-ASCII docs (typically a few percent of a web corpus) are
    recomputed with the pandas ``.str`` regex path, whose Unicode
    semantics are the definition (equivalence on mixed random text is
    hypothesis-gated).  None → empty."""
    import pandas as pd

    from .hashing import encode_batch

    s = texts if isinstance(texts, pd.Series) else pd.Series(list(texts))
    s = s.fillna("")
    data, lengths = encode_batch(s.tolist())
    n = len(lengths)
    n_chars = lengths.copy()
    n_words = _np.zeros(n, dtype=_np.int64)
    n_alsp = _np.zeros(n, dtype=_np.int64)
    n_dig = _np.zeros(n, dtype=_np.int64)
    has_nl = _np.zeros(n, dtype=bool)
    ascii_doc = _np.ones(n, dtype=bool)
    nonempty = lengths > 0
    if data.size and nonempty.any():
        # cache-resident chunks (langid.chunk_spans): whole-batch LUT
        # gathers + astype(int64) promotions materialize 4-5 buffer-sized
        # temporaries per batch, whose fresh-mmap page-zero + TLB-shootdown
        # cost serializes across cores (same pathology as langid/ppl —
        # measured eff 0.52 at 8→32 procs unchunked); doc-aligned chunks
        # are bit-identical per-doc reductions
        from .langid import chunk_spans

        for c0, c1, b0, b1 in chunk_spans(lengths):
            cdata = data[b0:b1]
            clen = lengths[c0:c1]
            cne = clen > 0
            if not (len(cdata) and cne.any()):
                continue
            offsets = _np.zeros(len(clen), dtype=_np.int64)
            _np.cumsum(clen[:-1], out=offsets[1:])
            starts = offsets[cne]
            ascii_doc[c0:c1][cne] = (
                _np.maximum.reduceat(cdata, starts) < 128
            )
            # LUT signals computed for EVERY doc in one pass (values for
            # non-ASCII docs are discarded and recomputed below — cheaper
            # than slicing the buffer)
            ws = _WS_BYTES[cdata]
            # a word starts at a non-ws byte whose predecessor is ws or a
            # document boundary
            prev_ws = _np.empty(len(ws), dtype=bool)
            prev_ws[0] = True
            prev_ws[1:] = ws[:-1]
            prev_ws[starts] = True
            word_start = (~ws) & prev_ws
            n_words[c0:c1][cne] = _np.add.reduceat(
                word_start.astype(_np.int64), starts)
            n_alsp[c0:c1][cne] = _np.add.reduceat(
                _ALNUM_SPACE_BYTES[cdata].astype(_np.int64), starts)
            n_dig[c0:c1][cne] = _np.add.reduceat(
                ((cdata >= 48) & (cdata <= 57)).astype(_np.int64), starts)
            has_nl[c0:c1][cne] = _np.add.reduceat(
                (cdata == 10).astype(_np.int64), starts) > 0
    if not ascii_doc.all():
        sub = s[~ascii_doc]
        n_chars[~ascii_doc] = sub.str.len().to_numpy(dtype=_np.int64)
        n_words[~ascii_doc] = sub.str.count(
            _WORD_RE.pattern).to_numpy(dtype=_np.int64)
        n_alsp[~ascii_doc] = sub.str.count(
            _ALNUM_SPACE_RE.pattern).to_numpy(dtype=_np.int64)
        n_dig[~ascii_doc] = sub.str.count(
            _DIGIT_RE.pattern).to_numpy(dtype=_np.int64)
        has_nl[~ascii_doc] = sub.str.contains(
            "\n", regex=False).to_numpy(dtype=bool)
    return n_chars, n_words, n_alsp, n_dig, has_nl


def batch_top_bigram_frac(texts, n_words):
    """``top_bigram_frac`` per text of a list, over the whole batch at
    once.

    ``n_words`` is the per-text ``\\S+`` count (``batch_char_signals``);
    texts under 8 words read 0.0 and are never split.  The words of the
    rest come from one ``str.split`` of their space-joined text
    (``str.split`` and ``re``'s ``\\s`` share the Unicode whitespace
    set), get exact ids from ``pd.factorize``, and every within-text
    bigram is counted once by ``np.unique`` over (text, pair) keys; the
    per-text max over runs of equal text then divides by
    ``n_words - 1``, as the scalar twin does."""
    import pandas as pd

    n_words = _np.asarray(n_words, dtype=_np.int64)
    out = _np.zeros(len(n_words), dtype=_np.float64)
    rows = _np.flatnonzero(n_words >= 8)
    if not len(rows):
        return out
    counts = n_words[rows]
    words = " ".join([texts[i] for i in rows.tolist()]).split()
    if len(words) != counts.sum():
        raise ValueError("n_words does not match the texts' word counts")
    ids, vocab = pd.factorize(_np.array(words, dtype=object))
    ids = ids.astype(_np.int64, copy=False)
    # pair ids are exact (no hashing: a collision would change a max);
    # compacting them keeps (text, pair) keys far inside int64
    pairs, pair_vocab = pd.factorize(ids[:-1] * len(vocab) + ids[1:])
    doc = _np.repeat(_np.arange(len(rows), dtype=_np.int64), counts)
    within = doc[:-1] == doc[1:]
    n_pairs = len(pair_vocab)
    keys = doc[:-1][within] * n_pairs + pairs[within]
    uniq, n_seen = _np.unique(keys, return_counts=True)
    key_doc = uniq // n_pairs
    starts = _np.flatnonzero(_np.r_[True, key_doc[1:] != key_doc[:-1]])
    out[rows] = _np.maximum.reduceat(n_seen, starts) / (counts - 1)
    return out


def keep_drop_vector(
    n_chars,
    n_words,
    symbol_ratio,
    digit_ratio,
    dup_line_frac,
    top_bigram_frac,
    toxicity,
    langs,
    lang_conf,
    ppl,
    th: QualityThresholds = DEFAULT_THRESHOLDS,
):
    """Vectorized twin of ``keep_drop_from_signals`` over numpy arrays →
    (keep: bool[n], drop_reason: object[n] with None for kept rows).

    ``np.select`` picks the FIRST matching condition, which is exactly
    the scalar chain's first-failure-wins priority; equivalence to the
    scalar path is pytest-gated on a grid straddling every threshold."""
    import numpy as np

    lang_ok = np.isin(np.asarray(langs, dtype=object), list(th.allowed_langs))
    conds = [
        np.asarray(n_chars) < th.min_chars,
        np.asarray(n_chars) > th.max_chars,
        np.asarray(n_words) < th.min_words,
        np.asarray(symbol_ratio) > th.max_symbol_ratio,
        np.asarray(digit_ratio) > th.max_digit_ratio,
        np.asarray(dup_line_frac) > th.max_dup_line_frac,
        np.asarray(top_bigram_frac) > th.max_top_bigram_frac,
        np.asarray(toxicity) > th.max_toxicity,
        ~lang_ok,
        np.asarray(lang_conf) < th.min_lang_conf,
        np.asarray(ppl) > th.max_ppl,
    ]
    reasons = np.select(conds, list(QualityThresholds.REASONS), default=None)
    keep = reasons == np.array(None)
    return keep, reasons


def keep_drop(
    text: str,
    lang: str,
    lang_conf: float,
    ppl: float,
    th: QualityThresholds = DEFAULT_THRESHOLDS,
) -> tuple[bool, str | None]:
    """The keep/drop decision — kernel reference implementation.

    Returns (keep, drop_reason); drop_reason is None when kept.
    """
    text = text or ""
    return keep_drop_from_signals(
        len(text),
        word_count(text),
        symbol_ratio(text),
        digit_ratio(text),
        dup_line_frac(text),
        top_bigram_frac(text),
        toxicity_score(text),
        lang,
        lang_conf,
        ppl,
        th,
    )
