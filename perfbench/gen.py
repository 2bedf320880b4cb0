"""Seeded input generator for the benchmark workloads (numpy/pandas only).

Every workload's rows are a pure function of (seed, knobs).  The program
under test only ever sees the generated rows; the planted ground truth
(keep labels, PII values, duplicate clusters, audio durations) stays on
the benchmark side and is what ``quality_f1`` is scored against.

Inputs are written once per (version, workload, seed, knobs) as parquet
shards next to a ``stamp.json``.  A directory whose stamp differs in any
field is stale and is regenerated, never reused.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

GEN_VERSION = 4

# Knobs per workload.  rows = the workload's stated row count.
KNOBS = {
    "filter_text": dict(rows=40_000, keep_share=0.60, pii_share=0.12,
                        pii_per_row=(1, 2), non_ascii_share=0.06,
                        sentences=(1, 4)),
    "filter_audio": dict(rows=6_000, keep_share=0.60, pii_share=0.12,
                         pii_per_row=(1, 2), non_ascii_share=0.06,
                         sentences=(1, 3), pcm16_share=0.80,
                         mean_dur_ms=600, max_dur_ms=4000),
    "scrub_dedup": dict(rows=3_000, pii_per_row=(2, 6), near_dup_share=0.20,
                        exact_share=0.5, cluster_size=(2, 3), words=(60, 100)),
}

SHARDS = 8
WARM_SHARDS, WARM_ROWS = 4, 32  # warm-up input: one task per core

# --- word banks (benchmark-owned; unrelated to the program's own corpora)
_EN = dict(
    det=["the", "a", "this", "that", "every", "one", "our", "their", "his", "her"],
    adj=["small", "quiet", "bright", "old", "new", "careful", "busy", "long",
         "early", "simple", "local", "friendly", "heavy", "open", "warm"],
    noun=["teacher", "garden", "report", "river", "station", "family",
          "market", "kitchen", "letter", "village", "meeting", "window",
          "bridge", "doctor", "morning", "program", "office", "library",
          "student", "evening", "team", "road", "house", "story"],
    verb=["reached", "opened", "watched", "found", "cleaned", "visited",
          "finished", "changed", "carried", "painted", "checked", "followed",
          "planned", "shared", "moved", "called"],
    prep=["near", "after", "before", "behind", "across", "inside", "around",
          "along", "under", "over"],
    tail=["last week", "this morning", "in the spring", "before lunch",
          "after the storm", "on the weekend", "with great care",
          "for the first time", "without any help", "at the end of the day"],
)

_NON_EN = {
    "de": ("die kleine Stadt hat einen schönen Markt und viele Menschen "
           "gehen dort jeden Morgen einkaufen während die Kinder in der "
           "Schule über Bücher und Geschichten sprechen"),
    "fr": ("le petit village possède une église très ancienne et les "
           "habitants se retrouvent chaque dimanche sur la place pour "
           "discuter de la récolte et du marché"),
    "es": ("la pequeña ciudad tiene un mercado muy antiguo donde los "
           "vecinos compran pan fresco cada mañana mientras los niños "
           "juegan en la plaza después de la escuela"),
    "it": ("il piccolo paese ha una chiesa molto antica e gli abitanti si "
           "incontrano ogni domenica nella piazza per parlare del raccolto "
           "e del mercato della città"),
    "pt": ("a pequena cidade tem um mercado muito antigo onde os vizinhos "
           "compram pão fresco todas as manhãs enquanto as crianças "
           "brincam na praça depois da escola"),
}

_DROP_KINDS = ("non_english", "too_short", "symbols", "repetition",
               "dup_lines", "digits")


_SLOTS = ("det", "adj", "noun", "verb", "noun", "prep", "adj", "noun", "tail")
_SYMBOLS = "#$%^&*(){}[]<>|~"


class Stream:
    """Seeded uniforms drawn from numpy in bulk and served one at a time
    — per-value Generator calls cost microseconds each."""

    def __init__(self, seed: int, stream: int, block: int = 1 << 16):
        self._rng = np.random.default_rng([seed, stream])
        self._block = block
        self._buf: list[float] = []
        self._i = 0

    def u(self) -> float:
        if self._i == len(self._buf):
            self._buf = self._rng.random(self._block).tolist()
            self._i = 0
        self._i += 1
        return self._buf[self._i - 1]

    def i(self, lo: int, hi: int) -> int:
        """Uniform integer in [lo, hi]."""
        return lo + int(self.u() * (hi - lo + 1))

    def pick(self, seq):
        return seq[int(self.u() * len(seq))]

    def digits(self, n: int) -> str:
        return "".join(str(int(self.u() * 10)) for _ in range(n))


def _sentences(st: Stream, k: int) -> str:
    out = []
    for _ in range(k):
        w = [st.pick(_EN[slot]) for slot in _SLOTS]
        out.append(f"{w[0].capitalize()} {w[1]} {w[2]} {w[3]} the {w[4]} "
                   f"{w[5]} the {w[6]} {w[7]} {w[8]}.")
    return " ".join(out)


def _pii_value(st: Stream, kind: int) -> str:
    d = st.digits
    if kind == 0:
        return f"{d(1)}x{st.pick(_EN['noun'])}.{d(3)}@mail{d(2)}.example.org"
    if kind == 1:
        return f"{st.i(2, 9)}{d(2)}-{st.i(2, 9)}{d(2)}-{d(4)}"
    if kind == 2:
        return f"{st.i(1, 8)}{d(2)}-{d(2)}-{d(4)}"
    if kind == 3:
        g = f"{st.i(4, 5)}{d(15)}"
        return "-".join(g[i:i + 4] for i in range(0, 16, 4)) if st.u() < 0.5 else g
    return f"https://www.site{d(3)}.example.com/{st.pick(_EN['noun'])}/{d(4)}"


def _pii_values(st: Stream, lo: int, hi: int) -> list[str]:
    """lo..hi PII values of random kinds; rows with 3 or more repeat
    their first value half the time."""
    n = st.i(lo, hi)
    values = [_pii_value(st, st.i(0, 4)) for _ in range(n)]
    if n >= 3 and st.u() < 0.5:
        values[-1] = values[0]
    return values


def _pii_text(st: Stream, lo: int, hi: int,
              sent: tuple[int, int]) -> tuple[str, list[str]]:
    """English text with lo..hi planted PII values."""
    values = _pii_values(st, lo, hi)
    parts = [_sentences(st, st.i(*sent))]
    for v in values:
        parts.append(f"Please note {v} for the {st.pick(_EN['noun'])} "
                     f"{st.pick(_EN['noun'])} file.")
    return " ".join(parts), sorted(set(values))


def _drop_text(st: Stream, kind: str, r: int) -> str:
    if kind == "non_english":
        words = _NON_EN[list(_NON_EN)[r % len(_NON_EN)]].split()
        start = st.i(0, 5)
        return " ".join(words[start:start + st.i(14, 19)])
    if kind == "too_short":
        return ["fine", "ok sure", "yes", "see you", "thanks a lot"][r % 5]
    if kind == "symbols":
        return " ".join("".join(st.pick(_SYMBOLS) for _ in range(6))
                        for _ in range(st.i(8, 13)))
    if kind == "repetition":
        return " ".join([f"buy {st.pick(_EN['noun'])} now"] * st.i(6, 11))
    if kind == "dup_lines":
        line = _sentences(st, 1)
        return "\n".join([line] * st.i(4, 7) + [_sentences(st, 1)])
    return " ".join(str(st.i(10**6, 10**9)) for _ in range(12))


def text_rows(seed: int, n: int, keep_share: float, pii_share: float,
              pii_per_row: tuple[int, int], non_ascii_share: float,
              sentences: tuple[int, int], **_):
    """(texts, keep_truth, pii_truth) for the filter mix: clean English
    and English-with-PII rows are kept, every other kind is dropped.
    Non-English rows carry diacritics, so ``non_ascii_share`` is the
    share of non-ASCII documents."""
    st = Stream(seed, 1)
    other = (1.0 - keep_share - non_ascii_share) / (len(_DROP_KINDS) - 1)
    texts, keep, pii = [], np.zeros(n, dtype=bool), []
    for r in range(n):
        x = st.u()
        if x < keep_share - pii_share:
            texts.append(_sentences(st, st.i(*sentences)))
            keep[r] = True
            pii.append([])
        elif x < keep_share:
            t, vals = _pii_text(st, *pii_per_row, sentences)
            texts.append(t)
            keep[r] = True
            pii.append(vals)
        else:
            y = x - keep_share
            kind = ("non_english" if y < non_ascii_share else
                    _DROP_KINDS[1 + min(int((y - non_ascii_share) / other), 4)])
            texts.append(_drop_text(st, kind, r))
            pii.append([])
    return texts, keep, pii


# --- G.711 in the continuous companding form (mu = 255, A = 87.6) with
# codes = round((y + 1) * 127.5): the 8-bit layout the program decodes.
_MU, _A = 255.0, 87.6


def _ulaw(x: np.ndarray) -> np.ndarray:
    y = np.sign(x) * np.log1p(_MU * np.abs(x)) / np.log1p(_MU)
    return np.round((y + 1.0) * 127.5).astype(np.uint8)


def _alaw(x: np.ndarray) -> np.ndarray:
    ax = np.abs(x)
    y = np.where(ax < 1.0 / _A, _A * ax / (1.0 + np.log(_A)),
                 (1.0 + np.log(np.maximum(_A * ax, 1.0))) / (1.0 + np.log(_A)))
    return np.round((np.sign(x) * y + 1.0) * 127.5).astype(np.uint8)


def audio_rows(seed: int, n: int, pcm16_share: float, mean_dur_ms: int,
               max_dur_ms: int):
    """(codec, sr_hz, dur_ms, payload, rms_truth) — a tone plus noise at
    a seeded level (peak < 0.32 of full scale, so nothing clips);
    ~``pcm16_share`` PCM16, the rest split between mu-law and A-law;
    long-tail (lognormal) durations."""
    rng = np.random.default_rng([seed, 2])
    u = rng.random(n)
    codec = np.where(u < pcm16_share, "pcm16",
                     np.where(u < pcm16_share + (1 - pcm16_share) / 2, "ulaw", "alaw"))
    sr = np.where(codec == "pcm16", 16000, 8000).astype(np.int32)
    sigma = 0.8  # lognormal mean = exp(mu + sigma^2 / 2) = mean_dur_ms
    dur = np.clip(rng.lognormal(np.log(mean_dur_ms) - sigma**2 / 2, sigma, n),
                  100, max_dur_ms).astype(np.int32)
    payload, rms = [], np.zeros(n)
    for i in range(n):
        m = int(sr[i]) * int(dur[i]) // 1000
        t = np.arange(m) / sr[i]
        amp = 0.05 + 0.25 * rng.random()
        sig = amp * np.sin(2 * np.pi * (180 + 400 * rng.random()) * t)
        sig += 0.01 * rng.standard_normal(m)
        if codec[i] == "pcm16":
            pcm = np.round(sig * 32767).astype("<i2")
            rms[i] = float(np.sqrt(np.mean((pcm / 32767.0) ** 2)))
            payload.append(pcm.tobytes())
        else:
            rms[i] = float(np.sqrt(np.mean(sig ** 2)))
            payload.append((_ulaw if codec[i] == "ulaw" else _alaw)(sig).tobytes())
    return codec, sr, dur, payload, rms


def corpus_rows(seed: int, n: int, pii_per_row: tuple[int, int],
                near_dup_share: float, exact_share: float,
                cluster_size: tuple[int, int], words: tuple[int, int]):
    """(texts, pii_truth, pair_truth): documents of random-letter words
    with pii_per_row planted PII values each (repeats included), and
    ~near_dup_share of them in planted clusters — exact copies and
    one-letter edits of a base document.  Distinct documents share
    almost no 5-char shingles, so LSH candidates stay near the planted
    pairs; a one-letter edit keeps the shingle Jaccard near 0.98."""
    rng = np.random.default_rng([seed, 3])
    st = Stream(seed, 4)
    lens = rng.integers(3, 10, 20_000)
    letters = rng.integers(97, 123, int(lens.sum())).astype(np.uint8).tobytes().decode()
    ends = np.cumsum(lens)
    vocab = np.array([letters[e - k:e] for e, k in zip(ends, lens)])
    m = (cluster_size[0] + cluster_size[1]) / 2
    # chance a draw starts a cluster, so that ~near_dup_share of all
    # documents end up inside one
    p_cluster = near_dup_share / (m - near_dup_share * (m - 1))
    texts: list[str] = []
    pii: list[list[str]] = []
    pairs: list[tuple[int, int]] = []
    while len(texts) < n:
        tokens = list(rng.choice(vocab, int(rng.integers(words[0], words[1] + 1))))
        values = _pii_values(st, *pii_per_row)
        # distinct gaps of the word list, filled from the back: a word
        # always separates two values (adjacent card digits and a phone
        # would read as one card)
        gaps = rng.choice(len(tokens) + 1, len(values), replace=False)
        for gap, v in sorted(zip(gaps, values), reverse=True):
            tokens.insert(int(gap), v)
        planted = sorted(set(values))
        copies = 1
        if rng.random() < p_cluster:
            copies = int(rng.integers(cluster_size[0], cluster_size[1] + 1))
            ids = range(len(texts), len(texts) + copies)
            pairs += [(a, b) for a in ids for b in ids if a < b]
        texts.append(" ".join(tokens))
        for _ in range(copies - 1):
            edit = list(tokens)
            if rng.random() >= exact_share:  # one letter of one word
                words_at = [i for i, t in enumerate(edit) if t not in values]
                i = words_at[int(rng.integers(len(words_at)))]
                j = int(rng.integers(len(edit[i])))
                c = "q" if edit[i][j] == "z" else "z"
                edit[i] = edit[i][:j] + c + edit[i][j + 1:]
            texts.append(" ".join(edit))
        pii += [planted] * copies
    return texts[:n], pii[:n], [(a, b) for a, b in pairs if b < n]


def build(workload: str, seed: int):
    """(rows DataFrame for the program, truth dict for the checks)."""
    df, truth = _build(workload, seed)
    truth["rows"] = len(df)
    return df, truth


def _build(workload: str, seed: int):
    k = KNOBS[workload]
    n = k["rows"]
    if workload == "scrub_dedup":
        texts, pii, pairs = corpus_rows(seed, n, k["pii_per_row"], k["near_dup_share"],
                                        k["exact_share"], k["cluster_size"], k["words"])
        df = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})
        return df, {"pii": pii, "pairs": pairs}
    texts, keep, pii = text_rows(seed, n, **k)
    df = pd.DataFrame({"clip_id": np.arange(n, dtype=np.int64)})
    truth = {"keep": keep, "pii": pii}
    if workload == "filter_audio":
        codec, sr, dur, payload, rms = audio_rows(seed, n, k["pcm16_share"],
                                                  k["mean_dur_ms"], k["max_dur_ms"])
        df["bytes"] = payload
        df["sr_hz"] = sr
        df["dur_ms"] = dur
        df["codec"] = codec
        truth.update(dur_ms=dur, rms=rms)
    else:
        df["bytes"] = [b""] * n
        df["sr_hz"] = np.full(n, 16000, dtype=np.int32)
        df["dur_ms"] = np.full(n, 1000, dtype=np.int32)
        df["codec"] = "pcm16"
    df["transcript"] = texts
    return df, truth


def stamp(workload: str, seed: int) -> dict:
    return {"version": GEN_VERSION, "workload": workload, "seed": seed,
            "shards": SHARDS, "warm": [WARM_SHARDS, WARM_ROWS],
            "knobs": {k: list(v) if isinstance(v, tuple) else v
                      for k, v in KNOBS[workload].items()}}


def ensure_inputs(root: str, workload: str, seed: int) -> tuple[str, dict, bool]:
    """Parquet inputs + truth for (workload, seed) under ``root``, plus a
    ``warm`` sibling holding the first WARM_ROWS rows of WARM_SHARDS
    shards.
    Returns (input dir, truth, regenerated).  Reuses a directory only
    when its stamp matches exactly; anything else is regenerated."""
    d = os.path.join(root, workload)
    want = stamp(workload, seed)
    path = os.path.join(d, "stamp.json")
    if os.path.exists(path):
        with open(path) as f:
            if json.load(f) == want:
                return os.path.join(d, "rows"), pd.read_pickle(
                    os.path.join(d, "truth.pkl")), False
    shutil.rmtree(d, ignore_errors=True)
    rows, warm = os.path.join(d, "rows"), os.path.join(d, "warm")
    os.makedirs(rows)
    os.makedirs(warm)
    df, truth = build(workload, seed)
    for i, part in enumerate(np.array_split(np.arange(len(df)), SHARDS)):
        name = f"part-{i:05d}.parquet"
        df.iloc[part].to_parquet(os.path.join(rows, name), index=False)
        if i < WARM_SHARDS:
            df.iloc[part[:WARM_ROWS]].to_parquet(os.path.join(warm, name), index=False)
    pd.to_pickle(truth, os.path.join(d, "truth.pkl"))
    with open(path, "w") as f:
        json.dump(want, f)  # written last: a crash mid-write leaves no stamp
    return rows, truth, True
