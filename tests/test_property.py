"""Property-based tests (hypothesis) for kernel invariants.

These complement the golden corpus: instead of pinning specific outputs,
they assert the algebraic properties the reference's design implies, over
randomized inputs.
"""

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from top_secret_spark.kernel.filters import (
    DEFAULT_CONFIG,
    NORTH_STAR_CONFIG,
    RegexFilter,
    ScrubConfig,
    dictionary_filter,
)

from top_secret_spark.kernel.quality import (
    digit_ratio,
    dup_line_frac,
    symbol_ratio,
    top_bigram_frac,
)
from top_secret_spark.kernel.scrub import filter_text, restore_text, scan_text

# text without placeholder-shaped tokens (those are the one documented
# collision surface — reference accepts it, result.rb:55-58)
SAFE_TEXT = st.text(
    alphabet=st.characters(blacklist_characters="[]", blacklist_categories=("Cs",)),
    max_size=400,
)


_WORD = st.text(alphabet="abcdefghij xyz.,-", min_size=1, max_size=10)
_EMAIL = st.builds(
    lambda a, b: f"{a}@{b}.com",
    st.text(alphabet="abcz0129._", min_size=1, max_size=8).filter(
        lambda s: not s.startswith(".")
    ),
    st.text(alphabet="abcz", min_size=1, max_size=6),
)
_PHONE = st.builds(lambda a, b, c: f"{a:03d}-{b:03d}-{c:04d}",
                   st.integers(100, 999), st.integers(100, 999),
                   st.integers(1000, 9999))
_SSN = st.builds(lambda a, b, c: f"{a:03d}-{b:02d}-{c:04d}",
                 st.integers(100, 999), st.integers(10, 99),
                 st.integers(1000, 9999))
_CC = st.builds(lambda h, t: f"{h}{t:012d}", st.sampled_from(["4242", "3141", "5555", "6011"]),
                st.integers(0, 10**12 - 1))

# PII-dense texts: random interleavings of words and sensitive tokens
PII_TEXT = st.lists(
    st.one_of(_WORD, _EMAIL, _PHONE, _SSN, _CC), min_size=0, max_size=12
).map(" ".join)


@given(PII_TEXT)
@settings(max_examples=400, deadline=None)
def test_scrub_restore_roundtrip_pii_dense(text):
    scrubbed, mapping = filter_text(text)
    restored, unrestored, _ = restore_text(scrubbed, mapping)
    assert restored == text
    assert unrestored == []


@given(SAFE_TEXT)
@settings(max_examples=300, deadline=None)
def test_scrub_restore_roundtrip(text):
    """restore(scrub(x)) == x for any text without literal placeholder
    tokens — scrubbed values always come back."""
    scrubbed, mapping = filter_text(text)
    restored, unrestored, _ = restore_text(scrubbed, mapping)
    assert restored == text
    assert unrestored == []


@given(SAFE_TEXT)
@settings(max_examples=300, deadline=None)
def test_scan_is_pure_and_scrub_idempotent_on_clean(text):
    """scan never mutates; scrubbing a scrubbed text finds nothing new
    from the same values (the v1.0.1 no-refilter property)."""
    mapping1 = scan_text(text)
    scrubbed, _ = filter_text(text)
    mapping2 = scan_text(scrubbed)
    # every value found in the scrubbed text must be a value that was NOT
    # replaced (i.e., scrubbing again changes nothing for those keys that
    # were already substituted)
    replaced_values = {v for _, v in mapping1}
    for _, v in mapping2:
        assert v not in replaced_values or v in scrubbed


@given(SAFE_TEXT)
@settings(max_examples=300, deadline=None)
def test_mapping_keys_well_formed(text):
    for key, value in scan_text(text):
        assert re.fullmatch(r"[A-Z_]+_[0-9]+", key)
        assert value in text


@given(SAFE_TEXT)
@settings(max_examples=200, deadline=None)
def test_mapping_values_unique_per_type_and_numbered_from_one(text):
    mapping = scan_text(text)
    by_type: dict[str, list[int]] = {}
    for key, _ in mapping:
        t, _, n = key.rpartition("_")
        by_type.setdefault(t, []).append(int(n))
    for t, nums in by_type.items():
        assert nums == list(range(1, len(nums) + 1)), (t, nums)
    # a (type, value) pair appears at most once
    seen = set()
    for key, value in mapping:
        t = key.rpartition("_")[0]
        assert (t, value) not in seen
        seen.add((t, value))


@given(st.text(max_size=300))
@settings(max_examples=300, deadline=None)
def test_quality_ratios_bounded(text):
    for fn in (symbol_ratio, digit_ratio, dup_line_frac, top_bigram_frac):
        v = fn(text)
        assert 0.0 <= v <= 1.0, (fn.__name__, v)


@given(st.text(max_size=200), st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_scrub_deterministic(a, b):
    assert filter_text(a) == filter_text(a)
    if a != b:
        # determinism, not collision-freedom: equal inputs equal outputs
        assert filter_text(b) == filter_text(b)


@given(SAFE_TEXT)
@settings(max_examples=200, deadline=None)
def test_langid_and_ppl_total_functions(text):
    """Models never raise and always emit bounded outputs."""
    from top_secret_spark.kernel.langid import LANGS, UNKNOWN, detect_batch
    from top_secret_spark.kernel.perplexity import perplexity_batch

    langs, conf = detect_batch([text])
    assert langs[0] in LANGS + (UNKNOWN,)
    assert 0.0 <= conf[0] <= 1.0
    ppl = perplexity_batch([text])
    assert 0.0 < ppl[0] <= 1e6


# --- audio batch kernels: batched == scalar under random layouts --------------


import numpy as np
from hypothesis import strategies as st

_SRS = st.sampled_from([8000, 16000, 22050, 44100])
_CLIP = st.tuples(st.integers(min_value=0, max_value=900), _SRS)


@given(st.lists(_CLIP, min_size=0, max_size=12), _SRS)
@settings(max_examples=120, deadline=None)
def test_batch_resample_equivalence_property(specs, target_sr):
    """batch_resample == per-clip resample bit-for-bit under arbitrary
    clip-length/rate layouts, both kernel regimes (the strategy spans
    the BATCH_RESAMPLE_SHORT_CLIP threshold)."""
    from top_secret_spark.kernel.audio import batch_resample, resample, synth_pcm

    clips = [
        synth_pcm(31 + i, n, sr) if n else np.empty(0, dtype=np.float32)
        for i, (n, sr) in enumerate(specs)
    ]
    samples = (np.concatenate(clips) if clips
               else np.empty(0, dtype=np.float32))
    lengths = np.array([len(c) for c in clips], dtype=np.int64)
    srs = np.array([sr for _, sr in specs], dtype=np.int64)
    out, out_lengths = batch_resample(samples, lengths, srs, target_sr)
    exp = [resample(c, sr, target_sr) for c, sr in zip(clips, srs)]
    assert out_lengths.tolist() == [len(e) for e in exp]
    bounds = np.cumsum(out_lengths)
    for k, e in enumerate(exp):
        np.testing.assert_array_equal(out[(bounds[k] - len(e)):bounds[k]], e)


@given(st.lists(st.integers(min_value=0, max_value=500), min_size=0,
                max_size=10),
       st.floats(min_value=0.01, max_value=0.5),
       st.floats(min_value=1.5, max_value=200.0))
@settings(max_examples=120, deadline=None)
def test_batch_normalize_gain_equivalence_property(lens, target, cap):
    """batch gain == per-clip gain under arbitrary layouts, targets and
    caps; silent clips identity; output always within [-1, 1]."""
    from top_secret_spark.kernel.audio import batch_normalize_gain, synth_pcm

    clips = [
        (synth_pcm(77 + i, n, 8000) * (0.001 if i % 3 == 0 else 1.0)
         ).astype(np.float32) if n else np.empty(0, dtype=np.float32)
        for i, n in enumerate(lens)
    ]
    samples = (np.concatenate(clips) if clips
               else np.empty(0, dtype=np.float32))
    lengths = np.array([len(c) for c in clips], dtype=np.int64)
    out = batch_normalize_gain(samples, lengths, target, cap)
    assert out.dtype == np.float32 and len(out) == len(samples)
    if len(out):
        assert float(np.abs(out).max()) <= 1.0
    bounds = np.cumsum(lengths)
    for k, c in enumerate(clips):
        solo = batch_normalize_gain(c, np.array([len(c)]), target, cap)
        np.testing.assert_array_equal(
            out[(bounds[k] - len(c)):bounds[k]], solo)


# sparse voiced/silent structure: alternating runs of zeros and signal
_RUNS = st.lists(
    st.tuples(st.booleans(), st.integers(min_value=0, max_value=120)),
    min_size=0, max_size=8,
)


def _structured_clip(runs):
    parts = []
    for voiced, n in runs:
        if voiced:
            seg = np.full(n, 0.3, dtype=np.float32)
            seg[1::2] = -0.3
            parts.append(seg)
        else:
            parts.append(np.zeros(n, dtype=np.float32))
    return (np.concatenate(parts) if parts
            else np.empty(0, dtype=np.float32))


@given(st.lists(_RUNS, min_size=0, max_size=8),
       st.integers(min_value=0, max_value=30))
@settings(max_examples=120, deadline=None)
def test_batch_trim_bounds_equivalence_property(clip_runs, pad):
    """batch trim bounds == a scalar per-clip scan under arbitrary
    silence/signal run layouts and pads (incl. empty / all-silent /
    trailing-silent clips)."""
    from top_secret_spark.kernel.audio import batch_trim_bounds

    clips = [_structured_clip(r) for r in clip_runs]
    samples = (np.concatenate(clips) if clips
               else np.empty(0, dtype=np.float32))
    lengths = np.array([len(c) for c in clips], dtype=np.int64)
    starts, ends = batch_trim_bounds(samples, lengths, 0.01, pad)
    for k, c in enumerate(clips):
        hits = np.flatnonzero(np.abs(c) > 0.01)
        if hits.size:
            exp = (max(int(hits[0]) - pad, 0),
                   min(int(hits[-1]) + 1 + pad, len(c)))
        else:
            exp = (0, 0)
        assert (starts[k], ends[k]) == exp, (k, starts[k], ends[k], exp)


@given(st.lists(_RUNS, min_size=0, max_size=8),
       st.integers(min_value=1, max_value=200))
@settings(max_examples=120, deadline=None)
def test_batch_voiced_segments_equivalence_property(clip_runs, gap):
    """batch segment detection == a scalar per-clip scan under arbitrary
    run layouts and gap thresholds; segments never cross clip bounds."""
    from top_secret_spark.kernel.audio import batch_voiced_segments

    clips = [_structured_clip(r) for r in clip_runs]
    samples = (np.concatenate(clips) if clips
               else np.empty(0, dtype=np.float32))
    lengths = np.array([len(c) for c in clips], dtype=np.int64)
    ci, s, e = batch_voiced_segments(samples, lengths, 0.01, gap)
    got = {}
    for k in range(len(ci)):
        got.setdefault(int(ci[k]), []).append((int(s[k]), int(e[k])))
    for k, c in enumerate(clips):
        hits = np.flatnonzero(np.abs(c) > 0.01)
        segs = []
        if hits.size:
            start = prev = int(hits[0])
            for h in hits[1:]:
                if h - prev - 1 >= gap:
                    segs.append((start, prev + 1))
                    start = int(h)
                prev = int(h)
            segs.append((start, prev + 1))
        assert got.get(k, []) == segs, (k, got.get(k, []), segs)
        for a, b in segs:
            assert 0 <= a < b <= len(c)


_TEXTS = st.one_of(
    st.none(),
    st.text(max_size=60),                                   # full unicode
    st.text(st.characters(min_codepoint=9, max_codepoint=126), max_size=60),
)


@given(st.lists(_TEXTS, min_size=0, max_size=30))
@settings(max_examples=150, deadline=None)
def test_batch_char_signals_matches_regex_twins(texts):
    """batch_char_signals (byte-LUT ASCII fast path OR pandas regex
    fallback — hypothesis drives both branches) must equal the scalar
    regex twins on every text, including None, empty, unicode
    whitespace, and newline-bearing rows."""
    import re

    from top_secret_spark.kernel.quality import (
        _ALNUM_SPACE_RE,
        _DIGIT_RE,
        _WORD_RE,
        batch_char_signals,
    )

    n_chars, n_words, n_alsp, n_dig, has_nl = batch_char_signals(texts)
    for i, txt in enumerate(texts):
        ref = txt or ""
        assert n_chars[i] == len(ref), (i, txt)
        assert n_words[i] == len(_WORD_RE.findall(ref)), (i, txt)
        assert n_alsp[i] == len(_ALNUM_SPACE_RE.findall(ref)), (i, txt)
        assert n_dig[i] == len(_DIGIT_RE.findall(ref)), (i, txt)
        assert bool(has_nl[i]) == ("\n" in ref), (i, txt)


_MAP_VALS = st.text(
    st.characters(min_codepoint=32, max_codepoint=126), min_size=1, max_size=8
)


@given(
    st.text(st.characters(min_codepoint=32, max_codepoint=126), max_size=80),
    st.lists(st.tuples(st.sampled_from(["EMAIL_1", "PHONE_1", "SSN_2", "X_1"]),
                       _MAP_VALS), min_size=0, max_size=5),
)
@settings(max_examples=300, deadline=None)
def test_substitute_text_matches_regex_formulation(text, mapping):
    """The pure-string single-pass substitution must equal the regex
    ordered-alternation it replaced, byte for byte, on arbitrary text ×
    mapping combinations (overlaps, same-start ties, repeated values,
    values that are substrings of each other)."""
    import re

    from top_secret_spark.kernel.scrub import substitute_text

    got = substitute_text(text, mapping)
    if not mapping:
        assert got == text
        return
    value_to_label = {}
    for key, value in mapping:
        value_to_label[value] = f"[{key}]"
    pattern = "|".join(re.escape(v) for v in value_to_label)
    exp = re.sub(pattern, lambda m: value_to_label[m.group(0)], text)
    assert got == exp, (text, mapping)


@given(
    st.lists(_TEXTS, min_size=0, max_size=40),
    st.integers(min_value=1, max_value=4000),
)
# the edges of the interleaved segment bounds (kernel/hashing.py)
@example(["", "the quick brown fox", "und der hund"], 8)   # empty first doc
@example(["the quick brown fox", "ab"], 4000)            # last doc < order
@example(["ab", "c", "", None, "d"], 1)                  # no valid n-gram
@example(["ab\x00cd efgh", "x\x00", "\x00\x00\x00\x00"], 6)  # NUL bytes
@settings(max_examples=120, deadline=None)
def test_text_kernels_chunk_layout_invariance(texts, chunk_bytes):
    """langid / perplexity / char-signals results must be BIT-IDENTICAL
    under any _CHUNK_BYTES layout (the round-5 cache-resident chunking):
    hypothesis drives a random chunk budget — from 1 byte (every doc its
    own span, including oversize-doc spans) up — against the whole-batch
    layout.  Per-doc independence is the invariant that makes the
    chunked hot loops legal."""
    import numpy as np

    from top_secret_spark.kernel import langid, perplexity
    from top_secret_spark.kernel.quality import batch_char_signals

    texts = list(texts)

    def whole_batch(lengths, _cb=None):
        yield 0, len(lengths), 0, int(np.sum(lengths))

    def with_spans(spans_fn, chunk):
        orig_spans, orig_budget = langid.chunk_spans, langid._CHUNK_BYTES
        try:
            langid.chunk_spans = spans_fn
            perplexity.chunk_spans = spans_fn
            langid._CHUNK_BYTES = chunk
            langs, conf = langid.detect_batch(texts)
            ppl = perplexity.perplexity_batch(texts)
            sig = batch_char_signals(texts)
            return langs, conf, ppl, sig
        finally:
            langid.chunk_spans = orig_spans
            perplexity.chunk_spans = orig_spans
            langid._CHUNK_BYTES = orig_budget

    # real implementation at the random budget vs the whole-batch layout
    real = langid.chunk_spans
    got = with_spans(
        lambda lengths, cb=None: real(lengths, chunk_bytes), chunk_bytes
    )
    ref = with_spans(whole_batch, chunk_bytes)

    assert list(got[0]) == list(ref[0])
    np.testing.assert_array_equal(got[1], ref[1])
    np.testing.assert_array_equal(got[2], ref[2])
    for a, b in zip(got[3], ref[3]):
        np.testing.assert_array_equal(a, b)


@given(
    st.lists(st.integers(min_value=0, max_value=12), max_size=30),
    st.integers(min_value=1, max_value=4),
)
@example([], 2)
@example([0, 5, 1], 3)   # empty first doc, last doc shorter than the order
@example([2, 1], 3)      # no doc holds a whole n-gram
@settings(max_examples=200, deadline=None)
def test_doc_sums_matches_per_doc_loop(lengths, n):
    """doc_sums' interleaved reduceat bounds pick exactly each doc's
    in-document start positions (integer rows, so sums are exact)."""
    import numpy as np

    from top_secret_spark.kernel.hashing import doc_sums

    lengths = np.array(lengths, dtype=np.int64)
    n_pos = max(int(lengths.sum()) - n + 1, 0)
    values = (np.arange(2 * n_pos, dtype=np.int64) ** 2).reshape(n_pos, 2)
    docs, sums, counts = doc_sums(values, lengths, n)
    starts = np.cumsum(lengths) - lengths
    want = [i for i, ln in enumerate(lengths) if ln >= n]
    assert docs.tolist() == want
    assert counts.tolist() == [int(lengths[i]) - n + 1 for i in want]
    for i, got in zip(want, sums):
        rows = values[starts[i] : starts[i] + lengths[i] - n + 1]
        assert got.tolist() == rows.sum(axis=0).tolist(), (i, lengths, n)


# fragments that make and break toxic terms: uppercase, the Kelvin sign
# (lowers to ASCII "k"), dotted I (lowers to two characters), NUL, and
# letters that glue onto a term so its word boundary fails
_TOX_PIECES = st.sampled_from([
    "idiot", "IDIOT", "moron", "shut up", "Shut Up", "kill yourself",
    "\u212aill yourself", "go to hell", "loser", "freak", "İ", "\u212a",
    "\x00", "s", "ic", "a", " ", "-", "\n", "ß", "Σ", "é",
])


@given(st.lists(
    st.one_of(st.none(), st.lists(_TOX_PIECES, max_size=8).map("".join)),
    max_size=12,
))
@example([])
@example([None, "", "\x00idiot\x00", "İdiot", "\u212aill yourself"])
@settings(max_examples=200, deadline=None)
def test_toxic_match_counts_equals_per_text(texts):
    """The prefiltered batch count equals the per-text regex count."""
    import numpy as np

    from top_secret_spark.kernel.toxicity import (
        toxic_match_count,
        toxic_match_counts,
    )

    got = toxic_match_counts(texts)
    assert got.dtype == np.int64
    assert got.tolist() == [toxic_match_count(t) for t in texts], texts


# --- batch twins of the fused stage's per-row loops ----------------------

_NORM_TEXTS = st.one_of(
    st.none(),
    st.just(""),
    st.text(max_size=60),
    st.text(st.sampled_from(list("aZ éÀɏΣσς9#!'-\x00\x1c\x1d\x1e\x1f\xa0\t\n")),
            max_size=30),
)


@given(st.lists(_NORM_TEXTS, min_size=0, max_size=20))
@example([])
@example([None, ""])
@example(["a\x00b", "c d"])
@example(["\x1c a\x1d\x1e b\x1f", " x\xa0y "])
@example(["ΟΔΟΣ", "Σ ς σ"])
@example(["Àÿ ɏ Ā ɐ"])
@example(["12, rock 'n' roll!!", "...end 99"])
@settings(max_examples=300, deadline=None)
def test_normalize_batch_matches_normalize(texts):
    """normalize_batch (one NUL-joined regex pass, scalar fallback when
    a text holds a NUL) equals the scalar normalize text by text."""
    from top_secret_spark.kernel.perplexity import normalize, normalize_batch

    assert normalize_batch(texts) == [normalize(t) for t in texts]


_BIGRAM_WORDS = st.sampled_from(["a", "b", "the", "día", "日本", "x-1", "ΟΔΟΣ"])
_BIGRAM_TEXTS = st.one_of(
    st.none(),
    st.text(max_size=40),
    st.builds(
        lambda words, seps: "".join(w + s for w, s in zip(words, seps)),
        st.lists(_BIGRAM_WORDS, min_size=0, max_size=14),
        st.lists(st.sampled_from([" ", "  ", "\n", "\t", "\xa0", "\x1c"]),
                 min_size=14, max_size=14),
    ),
)


@given(st.lists(_BIGRAM_TEXTS, min_size=0, max_size=20))
@example([])
@example([None])
@example([" ".join("abcdefg"), " ".join("abcdefgh"), " ".join("abcdefghi")])
@example(["w " * 8, "w " * 9])
@example(["día 日本 día 日本 día 日本 día 日本"])
@settings(max_examples=300, deadline=None)
def test_batch_top_bigram_frac_matches_scalar(texts):
    """batch_top_bigram_frac (exact factorized word ids, np.unique over
    within-text bigram keys) equals the scalar Counter twin exactly,
    with the word counts batch_char_signals reports."""
    import numpy as np

    from top_secret_spark.kernel.quality import (
        batch_char_signals,
        batch_top_bigram_frac,
    )

    got = batch_top_bigram_frac(texts, batch_char_signals(texts)[1])
    assert got.dtype == np.float64 and len(got) == len(texts)
    assert got.tolist() == [top_bigram_frac(t) for t in texts]


class _ShoutFilter(RegexFilter):
    """A RegexFilter subclass whose call reads the upper-cased text, so
    its pattern says nothing about the characters of the original."""

    def call(self, text):
        return self._re.findall(text.upper())


class _DuckFilter:
    """A filter that is no RegexFilter at all (label/kind/call only)."""

    label = "DUCK"
    kind = "regex"

    def call(self, text):
        return re.findall(r"q.", text)


_CUSTOM_FILTERS = (
    dictionary_filter("TERM", ["cat", "dog", "ünï"]),
    RegexFilter("CASELESS", "(?i)secret"),
    RegexFilter("SCOPED", "(?i:key)s"),
    RegexFilter("AHEAD", r"\d+(?=kg)"),
    RegexFilter("BEHIND", r"(?<=\$)\d+"),
    RegexFilter("NEGATED", r"[^a-z ]{3}"),
    RegexFilter("ANCHORED", r"^\w+|\w+$"),
    RegexFilter("EMPTY", "x*"),
    _ShoutFilter("SHOUT", "CAT"),
)
SCRUB_CONFIGS = [
    DEFAULT_CONFIG,
    NORTH_STAR_CONFIG,
    ScrubConfig(custom_filters=_CUSTOM_FILTERS),
    ScrubConfig(custom_filters=(_DuckFilter(),)),
]

_SCRUB_TOKENS = st.sampled_from([
    "cat", "dog", "ünï", "SeCrEt", "KEYs", "keys", "5kg", "$12", "ABC",
    "x", "q!", "Ann", "Paris", "https://ex.io/a", "a\nb", "\t", "日本",
])
_SCRUB_TEXTS = st.one_of(
    st.none(),
    st.text(max_size=30),
    st.lists(st.one_of(_WORD, _EMAIL, _PHONE, _SSN, _CC, _SCRUB_TOKENS),
             min_size=0, max_size=10).map(" ".join),
)
_ENTITIES = st.one_of(
    st.none(),
    st.lists(st.fixed_dictionaries({
        "text": st.sampled_from(["Ann", "Paris", "cat"]),
        "tag": st.sampled_from(["PERSON", "LOCATION", "ORG"]),
        "score": st.sampled_from([0.2, 0.5, 0.9]),
    }), max_size=3),
)


def _scan_by_kind(text, entities, config):
    """scan_text's mapping rules with scrub_batch's kind dispatch — the
    per-row reference for filters scan_text refuses (duck-typed)."""
    mapping = {}
    for f in config.all_filters():
        if f.kind == "regex":
            values = f.call(text)
        else:
            values = f.call(entities or [], config.min_confidence_score)
        for i, value in enumerate(dict.fromkeys(values), 1):
            mapping[f"{f.label}_{i}"] = value
    return list(mapping.items())


@given(
    st.sampled_from(range(len(SCRUB_CONFIGS))),
    st.lists(st.tuples(_SCRUB_TEXTS, _ENTITIES), min_size=0, max_size=12),
    st.booleans(),
)
@example(2, [("dog", None), ("a cat", None), ("ünï", None)], False)
@settings(max_examples=400, deadline=None)
def test_prefiltered_scrub_batch_matches_per_row_scan(which, rows, with_entities):
    """scrub_batch runs a filter only on rows its required-character /
    entity gate admits; outputs and mappings must equal the unfiltered
    per-row scan + substitution on every row (None → ("", []))."""
    from top_secret_spark.kernel.scrub import scrub_batch, substitute_text

    config = SCRUB_CONFIGS[which]
    texts = [t for t, _ in rows]
    ents = [e for _, e in rows] if with_entities else None
    scan = _scan_by_kind if which == 3 else scan_text
    exp_out, exp_map = [], []
    for i, text in enumerate(texts):
        if text is None:
            exp_out.append("")
            exp_map.append([])
            continue
        mapping = scan(text, None if ents is None else ents[i], config)
        if which != 3:
            assert mapping == _scan_by_kind(
                text, None if ents is None else ents[i], config)
        exp_out.append(substitute_text(text, mapping) if mapping else text)
        exp_map.append(mapping)
    assert scrub_batch(texts, ents, config) == (exp_out, exp_map)
