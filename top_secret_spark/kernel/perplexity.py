"""KenLM-style perplexity scoring — deterministic synthetic model.

An interpolated hashed character-n-gram language model: per-character
probability P(c | history) = λ1·P(c) + λ2·P(c|c₋₁) + λ3·P(c|c₋₂c₋₁),
with each conditional read from flat hashed count tables (the classic
hashed/quantized KenLM layout — Heafield 2011, "KenLM: Faster and Smaller
Language Model Queries").  Perplexity = exp(mean −log P) per character.

The real KenLM binary is not installed in this sandbox, so the count
tables are built deterministically at import time from an embedded seed
corpus; the query path (hash → table lookups → interpolated NLL, all
numpy over whole Arrow batches) is exactly what a memory-mapped real
model would use.

Text is normalized first (lowercase, collapse whitespace, non-letter
runs → '#') so symbol soup lands on unseen histories → high perplexity,
while fluent text in a supported language scores low.

[north-rule] stage — BASELINE.json north_star: "batched n-gram hash +
KenLM-style perplexity scorer"; not present in the reference repo.
"""

from __future__ import annotations

import re
import warnings

import numpy as np

from .hashing import doc_sums, encode_batch, raw_ngram_hashes
from .langid import _SEEDS, chunk_spans

BUCKETS = 1 << 16
_ALPHA = 0.01
_VOCAB = 1000.0  # effective vocab for add-alpha conditionals
_LAMBDAS = (0.1, 0.3, 0.6)

# the LM's training corpus: all langid seeds (so any supported language
# scores reasonably) with English repeated for weight
_CORPUS = " ".join([_SEEDS["en"] * 3] + [s for k, s in _SEEDS.items() if k != "en"])

# keep ASCII + Latin-1/Latin-Extended letters (the supported languages'
# alphabets); anything else — digits, symbols, other scripts — becomes '#'
_NORM_RE = re.compile(r"[^a-zÀ-ɏ' ]+")
_WS_RE = re.compile(r"\s+")


def normalize(text: str) -> str:
    """Lowercase, collapse whitespace, non-letter runs → '#'."""
    t = (text or "").lower()
    t = _WS_RE.sub(" ", t)
    t = _NORM_RE.sub("#", t)
    return t.strip()


# the non-letter class with NUL excluded as well, so a run can never
# cross the NUL that joins two documents in ``normalize_batch``
_NORM_JOINED_RE = re.compile(r"[^a-zÀ-ɏ' \x00]+")


def normalize_batch(texts) -> list[str]:
    """``[normalize(t) for t in texts]`` with ONE regex pass per batch.

    ``" ".join(t.lower().split())`` is the ``\\s+`` collapse plus the
    final strip (``str.split`` and ``re``'s ``\\s`` share the Unicode
    whitespace set, and the strip can move before the substitution
    because the class never matches a space).  The lowering stays per
    text (a final sigma depends on its neighbours); the non-letter
    substitution then runs once over the NUL-joined batch, which the
    class excludes.  A text that itself holds a NUL would merge two
    runs, so such a batch takes the scalar path."""
    lowered = [" ".join((t or "").lower().split()) for t in texts]
    if not lowered:
        return []
    joined = "\x00".join(lowered)
    if joined.count("\x00") != len(lowered) - 1:
        return [normalize(t) for t in texts]
    return _NORM_JOINED_RE.sub("#", joined).split("\x00")


def count_ngrams(normed_texts, buckets: int = BUCKETS) -> list:
    """Hashed n-gram count vectors (n = 1, 2, 3) over already-normalized
    texts — the shared counting core of the built-in model AND the
    distributed fit's per-partition partials (``operators.lm``).
    In-document n-grams only: positions whose full n-gram crosses a
    text boundary are excluded, so partial counts over any partitioning
    of the corpus sum to exactly the single-machine count."""
    data, lengths = encode_batch(normed_texts)
    doc_id = np.repeat(np.arange(len(normed_texts), dtype=np.int64), lengths)
    out = []
    for n in (1, 2, 3):
        c = np.zeros(buckets, dtype=np.float64)
        if len(data) >= n:
            h = raw_ngram_hashes(data, n, buckets)
            pos = np.arange(len(h))
            valid = doc_id[pos] == doc_id[pos + n - 1]
            np.add.at(c, h[valid], 1.0)
        out.append(c)
    return out


def _build_tables() -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    c1, c2, c3 = count_ngrams([normalize(_CORPUS)])
    tables = [c1.astype(np.float32), c2.astype(np.float32), c3.astype(np.float32)]
    return tables[0], tables[1], tables[2], float(tables[0].sum())


_TABLES = None


def tables():
    """Lazy executor-local singleton (one build per Python worker)."""
    global _TABLES
    if _TABLES is None:
        _TABLES = _build_tables()
    return _TABLES


# --- optional real-model hook -------------------------------------------
#
# Production swap path: point TSS_KENLM_MODEL at a real KenLM binary
# (.bin/.arpa) on every worker and install the public `kenlm` wheel —
# perplexity_batch then scores through the real model (its
# ``perplexity`` query, same normalize() front).  Wheel or artifact
# absent → the deterministic synthetic tables above (the oracle-pinned
# path).  Opt-in by env var, mirroring kernel/langid.py's hook.
_REAL_MODEL_ENV = "TSS_KENLM_MODEL"
_REAL_MODEL = None  # tri-state: None=unprobed, False=unavailable, model
_MODEL_LOADER = None  # test seam: swap the import+load step


def _load_kenlm(path: str):
    import kenlm  # public wheel; absent in this sandbox

    return kenlm.Model(path)


def real_model():
    """The real KenLM model, or None (worker-local singleton); a set
    env var whose model fails to load warns (RuntimeWarning) before the
    cached synthetic fallback, as in kernel/langid.py."""
    global _REAL_MODEL
    if _REAL_MODEL is None:
        import os

        path = os.environ.get(_REAL_MODEL_ENV)
        if not path:
            _REAL_MODEL = False
        else:
            try:
                _REAL_MODEL = (_MODEL_LOADER or _load_kenlm)(path)
            except Exception as e:
                warnings.warn(
                    f"{_REAL_MODEL_ENV}={path!r} failed to load ({e!r}); "
                    f"falling back to the synthetic perplexity model",
                    RuntimeWarning, stacklevel=2,
                )
                _REAL_MODEL = False  # documented fallback: synthetic
    return _REAL_MODEL or None


_MAX_PPL = 1e6


def perplexity_batch(texts, model=None) -> np.ndarray:
    """Perplexity per text, vectorized over the whole Arrow batch.

    Scored at every character position with ≥2 chars of in-document
    history.  Texts with no scorable position (normalized length < 3)
    get _MAX_PPL — they carry no fluency evidence and the keep/drop
    stage drops them on length anyway.

    ``model`` overrides the embedded-seed-corpus tables with a
    (c1, c2, c3, total1) tuple — e.g. one FIT FROM THE CORPUS ITSELF
    by ``operators.lm.fit_ngram_counts`` (same hash space, same
    interpolation).  Default consults the opt-in real-KenLM hook
    (``real_model``), else the deterministic built-in model.
    """
    if model is None:
        rm = real_model()
        if rm is not None:
            return np.minimum(
                np.array(
                    [
                        rm.perplexity(nt) if nt else _MAX_PPL
                        for nt in normalize_batch(texts)
                    ],
                    dtype=np.float64,
                ),
                _MAX_PPL,
            )
    c1, c2, c3, total1 = model if model is not None else tables()
    # the hash space is the table size — a fitted model with a
    # different bucket count stays self-consistent automatically
    buckets = len(c1)
    normed = normalize_batch(texts)
    data, lengths = encode_batch(normed)
    ndocs = len(normed)
    out = np.full(ndocs, _MAX_PPL, dtype=np.float64)
    if len(data) < 3:
        return out

    # the per-position terms (c + alpha) / (...) as float64 tables over
    # the buckets, so each chunk gathers finished values: elementwise
    # the same operations on the same operands, so the same bits
    a, v = _ALPHA, _VOCAB
    f1, f2, f3 = (c.astype(np.float64) for c in (c1, c2, c3))
    p1_tab = (f1 + a) / (total1 + a * v)
    num2, den1 = f2 + a, f1 + a * v
    num3, den2 = f3 + a, f2 + a * v
    nll = np.zeros(ndocs, dtype=np.float64)
    cnt = np.zeros(ndocs, dtype=np.float64)
    # Score in cache-resident chunks (see langid._CHUNK_BYTES): the
    # whole-batch form materialized ~20 buffer-sized temporaries (three
    # hash buffers, five table gathers + float64 promotions, the
    # interpolation arrays) — fresh mmap-backed allocations whose page
    # zeroing + TLB shootdowns serialize across cores (measured
    # NEGATIVE scaling 8→32 procs, eff 0.17; chunked: 0.5+ and ~2x the
    # absolute single-arm rate).  Valid scoring positions never cross a
    # doc boundary, so doc-aligned chunks are bit-identical.
    for s0, s1, b0, b1 in chunk_spans(lengths):
        cdata = data[b0:b1]
        clen = lengths[s0:s1]
        L = len(cdata)
        if L < 3:
            continue
        h1 = raw_ngram_hashes(cdata, 1, buckets)  # positions 0..L-1
        h2 = raw_ngram_hashes(cdata, 2, buckets)  # start positions 0..L-2
        h3 = raw_ngram_hashes(cdata, 3, buckets)  # start positions 0..L-3

        # every trigram start position p = 0..L-3, as contiguous slices:
        # h1[p+2] = h1[2:], h2[p+1] = h2[1:], h1[p+1] = h1[1:L-1],
        # h3[p] = h3, h2[p] = h2[:L-2]; doc_sums drops the positions
        # whose trigram crosses a doc boundary
        p1 = np.take(p1_tab, h1[2:])
        p2 = np.take(num2, h2[1:]) / np.take(den1, h1[1 : L - 1])
        p3 = np.take(num3, h3) / np.take(den2, h2[: L - 2])
        prob = _LAMBDAS[0] * p1 + _LAMBDAS[1] * p2 + _LAMBDAS[2] * p3

        docs, seg, n_pos = doc_sums(-np.log(prob), clen, 3)
        nll[docs + s0] = seg
        cnt[docs + s0] = n_pos
    ok = cnt > 0
    out[ok] = np.exp(nll[ok] / cnt[ok])
    return np.minimum(out, _MAX_PPL)
