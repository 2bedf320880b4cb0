"""Audio codec kernel: PCM16 / G.711 μ-law / G.711 A-law, vectorized numpy.

The clips table carries encoded audio as an opaque binary column with a
``codec`` tag (BASELINE.json input_hint).  This module implements the
standard, public G.711 companding transforms (ITU-T G.711) plus plain
little-endian PCM16 — enough for the decoded-PCM allclose / SNR ≥ 30 dB
passthrough invariant.  Everything operates on whole numpy arrays; the
Spark side calls these from ``mapInPandas`` so each Arrow batch is one
vectorized decode.

Codecs the container lacks libraries for (mp3/opus/...) are explicitly
stubbed: ``decode`` raises NotImplementedError with a clear message, and
the Spark plumbing (schema, batching, UDF signature) is identical — drop
in a real decoder and nothing else changes.
"""

from __future__ import annotations

import numpy as np

SUPPORTED_CODECS = ("pcm16", "ulaw", "alaw", "adpcm")

# Codecs whose samples are fixed-width and independently decodable, so a
# payload BYTE SLICE at a sample boundary is a valid clip (trim / chunk /
# time-mask / window-splice operate on these without re-encoding).
# IMA ADPCM is deliberately NOT here: each nibble's meaning depends on
# the (predictor, step-index) state accumulated from the start of the
# stream, so slicing mid-stream silently corrupts everything after the
# cut.  Structural byte-slice operators gate on THIS tuple and treat
# adpcm like an unknown codec (passthrough or loud raise, per operator
# contract); decode boundaries and re-encoding transforms use
# SUPPORTED_CODECS and handle adpcm with per-clip fresh-state kernels.
SEEKABLE_CODECS = ("pcm16", "ulaw", "alaw")

# Bytes per sample for every SEEKABLE codec — the ONE map byte-slice
# operators derive their Catalyst when-chains and slice arithmetic
# from.  Adding a codec here (and only here) flows to trim / chunk /
# time-mask / pad / redact / speaking-rate and the integrity audit;
# adpcm deliberately has no entry (4-bit nibbles, 2 samples/byte, and
# not byte-sliceable anyway — see SEEKABLE_CODECS above).
BYTES_PER_SAMPLE = {"pcm16": 2, "ulaw": 1, "alaw": 1}
assert tuple(BYTES_PER_SAMPLE) == SEEKABLE_CODECS

_MU = 255.0
_A = 87.6
_LN_A = float(np.log(_A))


# --- float [-1, 1] <-> int16 -------------------------------------------------


def float_to_pcm16(x: np.ndarray) -> np.ndarray:
    return np.clip(np.round(x * 32767.0), -32768, 32767).astype(np.int16)


def pcm16_to_float(x: np.ndarray) -> np.ndarray:
    return x.astype(np.float32) / 32767.0


# --- G.711 μ-law (continuous companding form) --------------------------------


def ulaw_encode(x: np.ndarray) -> np.ndarray:
    """float [-1,1] → uint8 μ-law code (8-bit quantized compression)."""
    x = np.clip(x, -1.0, 1.0)
    y = np.sign(x) * np.log1p(_MU * np.abs(x)) / np.log1p(_MU)
    return np.round((y + 1.0) * 127.5).astype(np.uint8)


def _ulaw_decode_formula(code: np.ndarray) -> np.ndarray:
    y = code.astype(np.float32) / 127.5 - 1.0
    return (np.sign(y) * ((1.0 + _MU) ** np.abs(y) - 1.0) / _MU).astype(np.float32)


# 8-bit codes have 256 possible values: decode is a single LUT gather,
# bit-identical to the formula (the table IS the formula, evaluated once
# at import).  The formula version ran sign/pow per sample — ~15x the
# cost of the gather and the dominant term of every decode boundary.
_ULAW_DECODE_LUT = _ulaw_decode_formula(np.arange(256, dtype=np.uint8))


def ulaw_decode(code: np.ndarray) -> np.ndarray:
    return _ULAW_DECODE_LUT[code]


# --- G.711 A-law (continuous companding form) --------------------------------


def alaw_encode(x: np.ndarray) -> np.ndarray:
    x = np.clip(x, -1.0, 1.0)
    ax = np.abs(x)
    y = np.where(
        ax < 1.0 / _A,
        _A * ax / (1.0 + _LN_A),
        (1.0 + np.log(np.maximum(_A * ax, 1.0))) / (1.0 + _LN_A),
    )
    y = np.sign(x) * y
    return np.round((y + 1.0) * 127.5).astype(np.uint8)


def _alaw_decode_formula(code: np.ndarray) -> np.ndarray:
    y = code.astype(np.float32) / 127.5 - 1.0
    ay = np.abs(y) * (1.0 + _LN_A)
    out = np.where(ay < 1.0, ay / _A, np.exp(ay - 1.0) / _A)
    return (np.sign(y) * out).astype(np.float32)


# same single-gather LUT as μ-law (see _ULAW_DECODE_LUT)
_ALAW_DECODE_LUT = _alaw_decode_formula(np.arange(256, dtype=np.uint8))


def alaw_decode(code: np.ndarray) -> np.ndarray:
    return _ALAW_DECODE_LUT[code]


# --- IMA/DVI ADPCM (4-bit, Intel/DVI variant) ---------------------------------
#
# The standard IMA ADPCM algorithm (IMA Digital Audio Focus Group, 1992;
# the same tables/recurrence CPython's audioop and every DVI4/RTP stack
# implement).  Both directions here are verified BIT-EXACT against the
# stdlib's independent C implementation (audioop.lin2adpcm/adpcm2lin)
# in tests/test_adpcm.py — a cross-implementation oracle, not a
# round-trip self-check.  audioop is deprecated (removed in 3.13), so
# the numpy scan below is the durable self-contained path; decode
# dispatches to audioop's C loop when importable because a sequential
# recurrence in C beats a sample-major vectorized scan (~40x measured —
# the scan pays per-iteration numpy overhead on every one of the clip's
# samples and only amortizes across the batch axis).

_ADPCM_STEP = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int32)
_ADPCM_INDEX = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8],
    dtype=np.int32,
)

try:  # stdlib C implementation — present through 3.12, removed in 3.13
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("ignore", DeprecationWarning)
        import audioop as _audioop  # noqa: N813
except Exception:  # pragma: no cover - 3.13+ containers
    _audioop = None


# Dense-matrix budget for the numpy sample-major scans: each group's
# (group_size × group_max_len) intermediates stay under this many
# elements (~16M ≈ 64-112 MB across the scan's matrices), so ONE long
# clip in an otherwise-short Arrow batch can never inflate every row's
# padded width into an O(n × max) allocation (10k short clips + one
# 10-minute 16 kHz clip would otherwise demand a ~384 GB matrix).
_ADPCM_GROUP_ELEMS = 1 << 24


def _adpcm_length_groups(lengths: np.ndarray):
    """Yield index arrays over ``lengths`` (a per-clip padded-width
    array) grouping clips so each group's dense matrix stays under
    ``_ADPCM_GROUP_ELEMS`` elements.  Descending length-sorted, so a
    group's width is its FIRST member's length and padding waste within
    a group is bounded; a single over-budget clip gets its own group."""
    order = np.argsort(-lengths, kind="stable")
    start = 0
    while start < len(order):
        width = max(int(lengths[order[start]]), 1)
        count = max(1, _ADPCM_GROUP_ELEMS // width)
        yield order[start : start + count]
        start += count


def batch_adpcm_decode(datas: list) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY IMA-ADPCM clips (fresh decoder state per clip) →
    (float32 samples concatenated in input order, per-clip lengths).

    Every byte holds two 4-bit codes, first sample in the HIGH nibble
    (the audioop/DVI packing), so ``lengths[i] == 2 * len(datas[i])``.

    Dispatch: audioop's C loop per clip when the stdlib provides it
    (sequential recurrences belong in C); otherwise the numpy
    sample-major scan — one vectorized step per sample index across the
    batch, run in length-sorted groups whose dense matrices stay under
    ``_ADPCM_GROUP_ELEMS`` — bit-identical output (cross-checked in
    tests)."""
    n = len(datas)
    lens_b = np.fromiter((len(d) for d in datas), np.int64, count=n)
    lengths = 2 * lens_b
    if n == 0 or int(lens_b.max(initial=0)) == 0:
        return np.empty(0, dtype=np.float32), lengths
    if _audioop is not None:
        chunks = [
            np.frombuffer(_audioop.adpcm2lin(bytes(d), 2, None)[0], "<i2")
            if len(d) else np.empty(0, "<i2")
            for d in datas
        ]
        flat = np.concatenate(chunks) if chunks else np.empty(0, "<i2")
        return pcm16_to_float(flat), lengths
    parts: list = [None] * n
    for idx in _adpcm_length_groups(lens_b):
        sub = _adpcm_decode_scan([datas[i] for i in idx], lens_b[idx])
        for k, i in enumerate(idx):
            parts[i] = sub[k]
    flat = np.concatenate(parts) if parts else np.empty(0, "<i2")
    return pcm16_to_float(flat), lengths


def _adpcm_decode_scan(datas: list, lens_b: np.ndarray) -> list:
    """Numpy sample-major IMA-ADPCM scan over one dense group →
    per-clip int16 arrays (fresh decoder state per clip)."""
    n = len(datas)
    lengths = 2 * lens_b
    max_b = int(lens_b.max())
    buf = np.zeros((n, max_b), np.uint8)
    for i, d in enumerate(datas):
        buf[i, : lens_b[i]] = np.frombuffer(d, np.uint8)
    nib = np.empty((n, 2 * max_b), np.uint8)
    nib[:, 0::2] = buf >> 4
    nib[:, 1::2] = buf & 0x0F
    pred = np.zeros(n, np.int32)
    index = np.zeros(n, np.int32)
    out = np.empty((n, 2 * max_b), np.int16)
    for t in range(2 * max_b):
        delta = nib[:, t].astype(np.int32)
        step = _ADPCM_STEP[index]
        # index advances BEFORE the difference is applied, but the
        # difference uses the OLD step (IMA spec order of operations)
        index = np.clip(index + _ADPCM_INDEX[delta], 0, 88)
        vpdiff = (
            (step >> 3)
            + step * ((delta >> 2) & 1)
            + (step >> 1) * ((delta >> 1) & 1)
            + (step >> 2) * (delta & 1)
        )
        pred = pred + (1 - ((delta >> 3) & 1) * 2) * vpdiff
        np.clip(pred, -32768, 32767, out=pred)
        out[:, t] = pred
    return [out[i, : lengths[i]] for i in range(n)]


def batch_adpcm_encode(
    samples: np.ndarray, lengths: np.ndarray
) -> list[bytes]:
    """Encode a concatenated float32 buffer into one IMA-ADPCM payload
    per clip, fresh encoder state per clip (a stateful stream must
    never carry prediction state across clip boundaries — unlike the
    G.711 paths, a single encode-then-slice over the concatenation
    would corrupt every clip after the first).

    Odd-length clips are padded by repeating their last sample so every
    payload holds a whole number of bytes (2 samples/byte exactly) —
    decoding returns the even-rounded count.  audioop instead silently
    DROPS a trailing odd sample; a curation transform must not lose
    signal, so we pad BEFORE either implementation runs.

    Dispatch mirrors decode: audioop's C loop per clip when the stdlib
    provides it (sequential recurrences belong in C — same ~40× as the
    decode direction); otherwise the sample-major numpy scan, one
    vectorized recurrence step per sample index, run in length-sorted
    groups whose (group × max_len) matrices stay under
    ``_ADPCM_GROUP_ELEMS``.  Both bit-exact vs audioop.lin2adpcm for
    even lengths (pytest-gated)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    n = len(lengths)
    if n == 0:
        return []
    x16 = float_to_pcm16(samples)
    even = lengths + (lengths & 1)
    if int(even.max(initial=0)) == 0:
        return [b""] * n
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=bounds[1:])
    if _audioop is not None:
        out: list[bytes] = []
        for i in range(n):
            li = int(lengths[i])
            if li == 0:
                out.append(b"")
                continue
            seg = x16[bounds[i] : bounds[i + 1]]
            if li & 1:  # repeat-pad so no trailing nibble is lost
                seg = np.concatenate([seg, seg[-1:]])
            out.append(_audioop.lin2adpcm(seg.tobytes(), 2, None)[0])
        return out
    results: list[bytes] = [b""] * n
    for idx in _adpcm_length_groups(even):
        sub = _adpcm_encode_scan(x16, bounds, lengths, idx)
        for k, i in enumerate(idx):
            results[i] = sub[k]
    return results


def _adpcm_encode_scan(
    x16: np.ndarray, bounds: np.ndarray, lengths: np.ndarray,
    idx: np.ndarray,
) -> list[bytes]:
    """Numpy sample-major IMA-ADPCM encode over one dense group
    (clips ``idx`` of the concatenated int16 buffer) → per-clip
    payload bytes (fresh encoder state per clip)."""
    n = len(idx)
    sub_len = lengths[idx]
    even = sub_len + (sub_len & 1)
    max_len = int(even.max(initial=0))
    mat = np.zeros((n, max_len), np.int32)
    for k, i in enumerate(idx):
        li = int(lengths[i])
        mat[k, :li] = x16[bounds[i] : bounds[i + 1]]
        if li & 1:  # repeat-pad to even so no trailing nibble is lost
            mat[k, li] = mat[k, li - 1]
    pred = np.zeros(n, np.int32)
    index = np.zeros(n, np.int32)
    nib = np.zeros((n, max_len), np.uint8)
    for t in range(max_len):
        val = mat[:, t]
        step = _ADPCM_STEP[index]
        diff = val - pred
        sign = (diff < 0).astype(np.int32)
        adiff = np.abs(diff)
        delta = np.zeros(n, np.int32)
        vpdiff = step >> 3
        ge = adiff >= step
        delta += 4 * ge
        adiff -= step * ge
        vpdiff += step * ge
        s2 = step >> 1
        ge = adiff >= s2
        delta += 2 * ge
        adiff -= s2 * ge
        vpdiff += s2 * ge
        s4 = step >> 2
        ge = adiff >= s4
        delta += ge
        vpdiff += s4 * ge
        pred = pred + (1 - 2 * sign) * vpdiff
        np.clip(pred, -32768, 32767, out=pred)
        delta |= 8 * sign
        index = np.clip(index + _ADPCM_INDEX[delta], 0, 88)
        nib[:, t] = delta
    if max_len & 1:  # matrix-level pad column so the packing below pairs up
        nib = np.concatenate([nib, np.zeros((n, 1), np.uint8)], axis=1)
    packed = (nib[:, 0::2] << 4) | nib[:, 1::2]
    return [
        packed[i, : (int(even[i]) + 1) // 2].tobytes() for i in range(n)
    ]


def adpcm_encode(x: np.ndarray) -> bytes:
    """float [-1,1] → IMA-ADPCM bytes (single clip, fresh state)."""
    return batch_adpcm_encode(
        np.asarray(x, dtype=np.float32), np.array([len(x)], dtype=np.int64)
    )[0]


def adpcm_decode(data: bytes) -> np.ndarray:
    """IMA-ADPCM bytes → float32 [-1,1] samples (single clip)."""
    samples, _ = batch_adpcm_decode([data])
    return samples


# --- byte-level encode/decode -------------------------------------------------


def encode(pcm: np.ndarray, codec: str) -> bytes:
    """float32 [-1,1] samples → encoded bytes."""
    if codec == "pcm16":
        return float_to_pcm16(pcm).tobytes()
    if codec == "ulaw":
        return ulaw_encode(pcm).tobytes()
    if codec == "alaw":
        return alaw_encode(pcm).tobytes()
    if codec == "adpcm":
        return adpcm_encode(pcm)
    raise NotImplementedError(
        f"codec '{codec}' requires an external decoder not present in this "
        f"container; supported: {SUPPORTED_CODECS}"
    )


def decode(data: bytes, codec: str) -> np.ndarray:
    """encoded bytes → float32 [-1,1] samples."""
    if codec == "pcm16":
        return pcm16_to_float(np.frombuffer(data, dtype="<i2"))
    if codec == "ulaw":
        return ulaw_decode(np.frombuffer(data, dtype=np.uint8))
    if codec == "alaw":
        return alaw_decode(np.frombuffer(data, dtype=np.uint8))
    if codec == "adpcm":
        return adpcm_decode(data)
    raise NotImplementedError(
        f"codec '{codec}' requires an external decoder not present in this "
        f"container; supported: {SUPPORTED_CODECS}"
    )


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """Signal-to-noise ratio of decoded vs reference, in dB."""
    reference = reference.astype(np.float64)
    decoded = decoded.astype(np.float64)
    noise = reference - decoded
    p_sig = float(np.mean(reference**2))
    p_noise = float(np.mean(noise**2))
    if p_noise == 0.0:
        return float("inf")
    return 10.0 * np.log10(p_sig / max(p_noise, 1e-300))


# --- deterministic synthesis (for the synthetic clips table) ------------------


def synth_pcm(seed: int, n_samples: int, sr_hz: int) -> np.ndarray:
    """Deterministic speech-band test signal: three harmonics + shaped
    noise, amplitude ~0.45 full scale (keeps companding SNR well above
    the 30 dB gate).  Pure function of (seed, n_samples, sr_hz)."""
    rng = np.random.default_rng(seed & 0xFFFFFFFF)
    t = np.arange(n_samples, dtype=np.float64) / sr_hz
    f0 = 90.0 + (seed % 211)
    sig = (
        0.30 * np.sin(2 * np.pi * f0 * t)
        + 0.12 * np.sin(2 * np.pi * 2.3 * f0 * t + 0.7)
        + 0.06 * np.sin(2 * np.pi * 4.1 * f0 * t + 1.9)
    )
    sig += 0.01 * rng.standard_normal(n_samples)
    return np.clip(sig, -1.0, 1.0).astype(np.float32)


# --- resample + frame sampling (the audio analogs of image resize /
# video frame-sample in a multimodal pipeline) ---------------------------------


def resample(pcm: np.ndarray, sr_from: int, sr_to: int) -> np.ndarray:
    """Linear-interpolation resampling (vectorized).  Adequate for
    feature extraction; a production pipeline would swap in a polyphase
    filter here without touching the Spark plumbing."""
    if sr_from == sr_to or len(pcm) == 0:
        return pcm.astype(np.float32)
    n_out = max(1, int(round(len(pcm) * sr_to / sr_from)))
    x_out = np.arange(n_out, dtype=np.float64) * (sr_from / sr_to)
    return np.interp(x_out, np.arange(len(pcm)), pcm).astype(np.float32)


def _concat_aranges(counts: np.ndarray) -> np.ndarray:
    """``concatenate([arange(c) for c in counts])`` without the loop."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.cumsum(counts) - counts
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


# Below this mean clip length the batched gather path wins (per-numpy-
# call overhead dominates); above it, per-clip np.interp wins (one tight
# C loop vs ~9 full-size float64 temporaries of memory traffic).
BATCH_RESAMPLE_SHORT_CLIP = 512

# The short-clip gather path processes clips in blocks of at most this
# many OUTPUT samples so its ~6 float64 intermediates (~0.5 MB each at
# 64k) stay cache-resident.  Sized to the intermediate, not the input:
# unblocked, an UPSAMPLING batch (out > in, e.g. 8 kHz -> 16 kHz)
# spills every temporary to DRAM and the gather path measures ~2x
# SLOWER than the per-clip loop it exists to beat (measured: 2000
# 80-200-sample 8 kHz clips -> 16 kHz: 36.6 ms unblocked, 11.5 ms
# blocked, 14.8 ms per-clip loop).
RESAMPLE_BLOCK_OUT = 1 << 16


def batch_resample(
    samples: np.ndarray,
    lengths: np.ndarray,
    srs: np.ndarray,
    target_sr: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Resample MANY concatenated clips to ``target_sr`` — bit-identical
    to per-clip :func:`resample` (equivalence pytest-gated).

    Layout matches :func:`batch_decode`: ``samples`` holds the clips
    back-to-back, ``lengths[i]`` is clip i's sample count, ``srs[i]``
    its source rate.  Returns ``(out_samples, out_lengths)`` in the same
    layout.

    Two regimes, picked by mean clip length (``BATCH_RESAMPLE_SHORT_CLIP``):
    short clips take a single-gather vectorized path (one fused
    multiply-add over every output sample of every clip, source indices
    clamped per clip so interpolation never crosses a boundary — exactly
    ``np.interp``'s right-edge clamp); long clips take per-clip
    ``np.interp`` into one preallocated buffer, because interp's tight
    C loop beats the gather's full-size float64 temporaries once the
    per-clip call overhead is amortized (measured: the gather is ~3x
    slower at 4-8k-sample clips, several-fold faster at <200)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    srs = np.asarray(srs, dtype=np.int64)
    n = len(lengths)
    out_lengths = np.zeros(n, dtype=np.int64)
    if n == 0:
        return np.empty(0, dtype=np.float32), out_lengths
    same = (srs == target_sr) & (lengths > 0)
    conv = (srs != target_sr) & (lengths > 0)
    # the scalar kernel raises ZeroDivisionError on sr_from <= 0; the
    # vectorized divide would instead emit inf -> int64 garbage lengths
    # and SILENTLY corrupt every clip after it — refuse loudly
    if (conv & (srs <= 0)).any():
        raise ValueError(
            "batch_resample: non-positive source sample rate for a "
            "non-empty clip — repair sr_hz metadata upstream"
        )
    out_lengths[same] = lengths[same]
    # (len * sr_to) exact in int64, THEN the double divide — the same
    # operation order as the scalar kernel, so the rounding ties agree
    out_lengths[conv] = np.maximum(
        1, np.round((lengths[conv] * target_sr) / srs[conv]).astype(np.int64)
    )
    offsets = np.cumsum(lengths) - lengths
    out_offsets = np.cumsum(out_lengths) - out_lengths
    out = np.empty(int(out_lengths.sum()), dtype=np.float32)
    if same.any():
        j = _concat_aranges(lengths[same])
        src = np.repeat(offsets[same], lengths[same]) + j
        dst = np.repeat(out_offsets[same], lengths[same]) + j
        out[dst] = samples[src]
    if conv.any():
        total_in = int(lengths[conv].sum())
        if total_in <= BATCH_RESAMPLE_SHORT_CLIP * int(conv.sum()):
            # clip-aligned blocks of <= RESAMPLE_BLOCK_OUT output
            # samples; per-clip arithmetic is identical in every block,
            # so blocking cannot change a single output bit
            idx = np.flatnonzero(conv)
            ends = np.cumsum(out_lengths[idx])
            start = 0
            while start < len(idx):
                base = int(ends[start - 1]) if start else 0
                stop = int(np.searchsorted(
                    ends, base + RESAMPLE_BLOCK_OUT, side="right"))
                stop = max(stop, start + 1)  # oversize clip: own block
                sel = idx[start:stop]
                cnt = out_lengths[sel]
                j = _concat_aranges(cnt)
                # x = j * (sr_from / sr_to) with the per-clip scalar
                # ratio broadcast per output sample — identical doubles
                # to the scalar kernel's arange(n_out) * (sr_from/sr_to)
                x = j * np.repeat(srs[sel] / target_sr, cnt)
                last = (lengths[sel] - 1).astype(np.float64)
                np.minimum(x, np.repeat(last, cnt), out=x)
                i0 = np.floor(x).astype(np.int64)
                frac = x - i0
                gi0 = np.repeat(offsets[sel], cnt) + i0
                gi1 = np.minimum(gi0 + 1, len(samples) - 1)
                s0 = samples[gi0].astype(np.float64)
                s1 = samples[gi1].astype(np.float64)
                dst = np.repeat(out_offsets[sel], cnt) + j
                # fp[i] + (fp[i+1] - fp[i]) * frac — np.interp's formula
                # and operation order, applied over the block at once
                out[dst] = (s0 + (s1 - s0) * frac).astype(np.float32)
                start = stop
        else:
            for i in np.flatnonzero(conv):
                o, ln = int(offsets[i]), int(lengths[i])
                x_out = (np.arange(int(out_lengths[i]), dtype=np.float64)
                         * (int(srs[i]) / target_sr))
                oo = int(out_offsets[i])
                out[oo:oo + int(out_lengths[i])] = np.interp(
                    x_out, np.arange(ln), samples[o:o + ln]
                ).astype(np.float32)
    return out, out_lengths


def frame_features(
    pcm: np.ndarray, sr_hz: int, frame_ms: int = 25, hop_ms: int = 10
) -> np.ndarray:
    """Per-frame RMS energy (dB) over a sliding window — the classic
    front-end framing step (frame-sampling), fully vectorized via a
    strided view.  Returns float32[n_frames]."""
    frame = max(1, int(sr_hz * frame_ms / 1000))
    hop = max(1, int(sr_hz * hop_ms / 1000))
    if len(pcm) < frame:
        return np.empty(0, dtype=np.float32)
    n_frames = 1 + (len(pcm) - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = pcm[idx].astype(np.float64)
    rms = np.sqrt(np.mean(frames**2, axis=1))
    return (20.0 * np.log10(np.maximum(rms, 1e-10))).astype(np.float32)


# --- feature extraction (vectorized per clip) ---------------------------------


def audio_features(pcm: np.ndarray, sr_hz: int) -> dict:
    """Cheap deterministic features over decoded PCM: RMS level,
    zero-crossing rate, measured duration."""
    if len(pcm) == 0:
        return {"rms": 0.0, "zcr": 0.0, "dur_ms_measured": 0}
    rms = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2)))
    zcr = float(np.mean(np.abs(np.diff(np.signbit(pcm).astype(np.int8)))))
    return {
        "rms": rms,
        "zcr": zcr,
        "dur_ms_measured": int(round(1000.0 * len(pcm) / sr_hz)),
    }


def batch_decode(datas: list[bytes], codec: str) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY same-codec clips in one pass → (samples, lengths).

    One ``frombuffer`` over the concatenated payloads and one companding
    transform over the whole buffer — removes the per-clip interpreter
    loop (per-clip numpy-call overhead dominates once clips are short).
    ``lengths[i]`` is clip i's sample count; samples are contiguous in
    input order."""
    if codec == "pcm16":
        joined = b"".join(datas)
        lengths = np.fromiter((len(d) // 2 for d in datas), dtype=np.int64,
                              count=len(datas))
        # every odd-length payload contributes exactly one byte to this
        # difference, so the O(1) check catches any number of them — the
        # concatenated frombuffer would otherwise shift every subsequent
        # clip's samples by a byte WITHOUT raising (the per-clip decode
        # raised loudly; this path must too)
        if 2 * int(lengths.sum()) != len(joined):
            raise ValueError(
                "pcm16 batch contains odd-length payload(s): each sample "
                "is 2 bytes little-endian; refusing to decode a batch "
                "whose clip boundaries cannot align"
            )
        samples = pcm16_to_float(np.frombuffer(joined, dtype="<i2"))
    elif codec == "ulaw":
        samples = ulaw_decode(np.frombuffer(b"".join(datas), dtype=np.uint8))
        lengths = np.fromiter((len(d) for d in datas), dtype=np.int64,
                              count=len(datas))
    elif codec == "alaw":
        samples = alaw_decode(np.frombuffer(b"".join(datas), dtype=np.uint8))
        lengths = np.fromiter((len(d) for d in datas), dtype=np.int64,
                              count=len(datas))
    elif codec == "adpcm":
        # stateful codec: per-clip fresh decoder state — the kernel
        # batches internally (C loop or sample-major scan), it just
        # cannot use the one-frombuffer-over-the-concatenation trick
        # (and must never pay a joined copy it would not use)
        samples, lengths = batch_adpcm_decode(datas)
    else:
        raise NotImplementedError(
            f"codec '{codec}' requires an external decoder not present in "
            f"this container; supported: {SUPPORTED_CODECS}"
        )
    return samples, lengths


def pcm16_aligned_indices(datas: list, idx: np.ndarray) -> np.ndarray:
    """Subset of ``idx`` whose payloads align to whole 2-byte pcm16
    samples — the shared poison-row guard: ``batch_decode`` refuses a
    whole batch containing any odd-length pcm16 payload (it cannot slice
    clip boundaries), so gate-style callers (feature extraction, pair
    SNR) use this to isolate the poison rows and decode the rest."""
    if not len(idx):
        return idx
    return idx[np.fromiter(
        (len(datas[i]) % 2 == 0 for i in idx), dtype=bool, count=len(idx)
    )]


# Clip-aligned block size for the segmented reductions below.  The
# full-buffer vectorization streamed several multi-ten-MB float64
# temporaries (astype, square, signbit-diff, abs) through DRAM per Arrow
# batch and LOST to the cache-resident per-clip loop (~1.7x in the r3
# kernel record); clip-aligned ~64k-sample blocks keep every temporary
# L2-resident while still amortizing numpy call overhead over hundreds
# of clips.  Blocks split only on clip boundaries, so per-clip results
# are bit-identical to the one-shot pass (no partial segments; a single
# clip longer than the block is its own block).
SEGMENT_BLOCK_SAMPLES = 1 << 16

# Mean-clip-length regime threshold for the segmented reductions (the
# batch_resample lesson, measured: at 2048-sample clips the vectorized
# block pass still wins 1.35x; at 4096 the per-clip loop wins 1.2x and
# the gap widens with length as per-call overhead amortizes while the
# vectorized pass keeps paying its fixed masking/indexing traffic).
# Above the threshold each clip is its own cache-resident numpy problem
# and the kernel dispatches to a per-clip slice loop.
SEGMENT_LONG_CLIP = 3000

# Chunk bounds for the clip-aligned chunked dispatches below (see
# _clip_blocks), sized by sweep on 1000x 2-5k-sample clips (short) and
# 60x 160k (long), both regimes timed per size.  Chunked beats BOTH
# previous regimes: short clips amortize per-call overhead inside the
# chunk (downmix 34 ms vs 60 ms plain loop / 77 ms old mean-split;
# declip 10 ms vs 31 / 32), and long-clip timings match the per-clip
# loop the old split hard-coded (chunk of one clip = the same work).
# Declip prefers smaller chunks — its repair pass keeps ~6 float64
# temporaries alive, so 32k samples keeps the set L2-adjacent.
DOWNMIX_CHUNK_SAMPLES = 1 << 16
DECLIP_CHUNK_SAMPLES = 1 << 15


def _clip_blocks(lengths: np.ndarray, block_samples: int):
    """Yield (clip_lo, clip_hi, samp_lo, samp_hi) covering whole clips,
    each block's sample count <= block_samples where possible (a clip
    larger than the block stands alone)."""
    bounds = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=bounds[1:])
    n = len(lengths)
    lo = 0
    while lo < n:
        # furthest clip whose END stays within the block budget
        hi = int(np.searchsorted(bounds, bounds[lo] + block_samples,
                                 side="right")) - 1
        hi = max(hi, lo + 1)
        yield lo, hi, int(bounds[lo]), int(bounds[hi])
        lo = hi


def segmented_features(
    samples: np.ndarray, lengths: np.ndarray, srs: np.ndarray,
    block_samples: int = SEGMENT_BLOCK_SAMPLES,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-clip (rms, zcr, dur_ms) over a concatenated sample buffer —
    the vectorized twin of ``audio_features``.

    Regime-adaptive (``SEGMENT_LONG_CLIP``): short clips take segment
    sums via ``add.reduceat`` over clip-aligned cache-sized blocks
    (``SEGMENT_BLOCK_SAMPLES``) so the float64 temporaries never stream
    through DRAM and per-clip call overhead amortizes; long clips take
    a per-clip slice loop — each clip is its own L2-resident numpy
    problem and the loop beats the vectorized pass's fixed masking /
    boundary-indexing traffic.  Zero-crossing diffs that straddle clip
    boundaries are masked out either way."""
    n = len(lengths)
    rms = np.zeros(n, dtype=np.float64)
    zcr = np.zeros(n, dtype=np.float64)
    dur_f = np.zeros(n, dtype=np.float64)
    np.divide(1000.0 * lengths, srs, out=dur_f, where=np.asarray(srs) > 0)
    dur = np.round(dur_f).astype(np.int64)
    if n == 0 or len(samples) == 0:
        return rms, zcr, dur
    if lengths.mean() > SEGMENT_LONG_CLIP:
        offs = np.cumsum(lengths) - lengths
        for i in range(n):
            ln = int(lengths[i])
            if ln == 0:
                continue
            pcm = samples[offs[i]:offs[i] + ln]
            x = pcm.astype(np.float64)
            rms[i] = np.sqrt(np.dot(x, x) / ln)
            if ln > 1:
                sb = np.signbit(pcm).astype(np.int8)
                zcr[i] = np.abs(np.diff(sb)).sum(dtype=np.int64) / (ln - 1)
        return rms, zcr, dur
    for clo, chi, slo, shi in _clip_blocks(lengths, block_samples):
        blens = lengths[clo:chi]
        bsamp = samples[slo:shi]
        offsets = np.zeros(chi - clo, dtype=np.int64)
        np.cumsum(blens[:-1], out=offsets[1:])
        nonempty = blens > 0
        if nonempty.any() and len(bsamp):
            sq = bsamp.astype(np.float64) ** 2
            sums = np.add.reduceat(sq, offsets[nonempty])
            rms[clo:chi][nonempty] = np.sqrt(sums / blens[nonempty])
            # zero crossings: |diff(signbit)|, cross-boundary masked;
            # d stays int8 and the cumsum widens via dtype= — never
            # materialize an int64 copy of the diff array
            sb = np.signbit(bsamp).astype(np.int8)
            d = np.abs(np.diff(sb))
            if len(d):
                boundary = offsets[1:] - 1  # diffs straddling clips
                # clamp BOTH ends: a zero-length clip at the START of
                # the block puts -1 here, which would zero d[-1] (the
                # LAST clip's final crossing) via negative indexing
                d[boundary[(boundary >= 0) & (boundary < len(d))]] = 0
                csum = np.zeros(len(d) + 1, dtype=np.int64)
                np.cumsum(d, dtype=np.int64, out=csum[1:])
                # csum has len(d)+1 entries; clamp BOTH indices to
                # len(d) — a zero-length clip at the END of the block
                # has offset == block samples, which would otherwise
                # index past csum
                hi_i = np.minimum(
                    np.maximum(offsets + blens - 1, offsets), len(d))
                lo_i = np.minimum(offsets, len(d))
                crossings = csum[hi_i] - csum[lo_i]
                multi = blens > 1
                zcr[clo:chi][multi] = crossings[multi] / (blens[multi] - 1)
    return rms, zcr, dur


# Silence floor ~-60 dBFS.  Must sit ABOVE the largest companded-zero
# reconstruction so an all-zero clip round-tripped through G.711 still
# reads as silent: A-law decodes the zero code to ~2.45e-4, mu-law to
# ~8.6e-5 (measured), both < 1e-3.
SILENCE_EPS = 1e-3
# |x| >= CLIP_LEVEL counts as a clipped sample; full-scale pcm16 decodes
# to exactly 1.0 (32767/32767) and -1.00003 (-32768/32767).
CLIP_LEVEL = 0.999


def gate_ratios(
    pcm: np.ndarray,
    silence_eps: float = SILENCE_EPS,
    clip_level: float = CLIP_LEVEL,
) -> dict:
    """Scalar twin of ``segmented_ratios`` for one decoded clip:
    silence_ratio (fraction of samples with |x| < silence_eps) and
    clipping_ratio (fraction with |x| >= clip_level).  Empty clip is
    defined as fully silent."""
    if len(pcm) == 0:
        return {"silence_ratio": 1.0, "clipping_ratio": 0.0}
    ab = np.abs(pcm.astype(np.float64))
    return {
        "silence_ratio": float(np.mean(ab < silence_eps)),
        "clipping_ratio": float(np.mean(ab >= clip_level)),
    }


def segmented_ratios(
    samples: np.ndarray,
    lengths: np.ndarray,
    silence_eps: float = SILENCE_EPS,
    clip_level: float = CLIP_LEVEL,
    block_samples: int = SEGMENT_BLOCK_SAMPLES,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-clip (silence_ratio, clipping_ratio) over a concatenated
    sample buffer — same clip-aligned blocked layout as
    ``segmented_features``: boolean masks summed per clip with
    ``add.reduceat`` over cache-sized blocks, no per-clip Python loop.
    Zero-length clips are defined as fully silent."""
    n = len(lengths)
    sil = np.ones(n, dtype=np.float64)
    clp = np.zeros(n, dtype=np.float64)
    if n == 0 or len(samples) == 0:
        return sil, clp
    if lengths.mean() > SEGMENT_LONG_CLIP:
        offs = np.cumsum(lengths) - lengths
        for i in range(n):
            ln = int(lengths[i])
            if ln == 0:
                continue
            ab = np.abs(samples[offs[i]:offs[i] + ln].astype(np.float64))
            sil[i] = np.count_nonzero(ab < silence_eps) / ln
            clp[i] = np.count_nonzero(ab >= clip_level) / ln
        return sil, clp
    for clo, chi, slo, shi in _clip_blocks(lengths, block_samples):
        blens = lengths[clo:chi]
        bsamp = samples[slo:shi]
        nonempty = blens > 0
        if not (nonempty.any() and len(bsamp)):
            continue
        offsets = np.zeros(chi - clo, dtype=np.int64)
        np.cumsum(blens[:-1], out=offsets[1:])
        starts = offsets[nonempty]
        ab = np.abs(bsamp.astype(np.float64))
        sil_n = np.add.reduceat((ab < silence_eps).astype(np.int64), starts)
        clp_n = np.add.reduceat((ab >= clip_level).astype(np.int64), starts)
        sil[clo:chi][nonempty] = sil_n / blens[nonempty]
        clp[clo:chi][nonempty] = clp_n / blens[nonempty]
    return sil, clp


def batch_normalize_gain(
    samples: np.ndarray,
    lengths: np.ndarray,
    target_rms: float = 0.1,
    max_gain: float = 100.0,
) -> np.ndarray:
    """Scale every clip in a concatenated buffer to ``target_rms`` —
    loudness normalization, the audio 'exposure correction' run before
    feature extraction so model inputs share a level.

    Per clip: gain = target_rms / rms, capped at ``max_gain`` (a
    near-silent clip must not be amplified into pure noise), identity
    for silent (rms == 0) and empty clips; output clipped to [-1, 1].
    One reduceat for the per-clip power sums and one np.repeat multiply
    over the whole buffer — no per-clip Python loop."""
    lengths = np.asarray(lengths, dtype=np.int64)
    n = len(lengths)
    if n == 0 or len(samples) == 0:
        return samples.astype(np.float32)
    offsets = np.cumsum(lengths) - lengths
    rms = np.zeros(n, dtype=np.float64)
    nonempty = lengths > 0
    sums = np.add.reduceat(samples.astype(np.float64) ** 2,
                           offsets[nonempty])
    rms[nonempty] = np.sqrt(sums / lengths[nonempty])
    gains = np.ones(n, dtype=np.float64)
    live = rms > 0
    gains[live] = np.minimum(target_rms / rms[live], max_gain)
    # regime-adaptive application (same rationale as batch_resample):
    # short clips -> one repeat-multiply over the whole buffer (per-call
    # overhead dominates); long clips -> per-clip scalar multiply into
    # the output (skips the repeat array + full-buffer f64 temporaries,
    # which dominate once call overhead is amortized)
    if len(samples) <= BATCH_RESAMPLE_SHORT_CLIP * n:
        out = samples.astype(np.float64) * np.repeat(gains, lengths)
        return np.clip(out, -1.0, 1.0).astype(np.float32)
    out = np.empty(len(samples), dtype=np.float32)
    ends = np.cumsum(lengths)
    for i in range(n):
        sl = slice(int(ends[i]) - int(lengths[i]), int(ends[i]))
        out[sl] = np.clip(
            samples[sl].astype(np.float64) * gains[i], -1.0, 1.0
        )
    return out


def batch_trim_bounds(
    samples: np.ndarray,
    lengths: np.ndarray,
    threshold: float = 0.01,
    pad: np.ndarray | int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-clip ``(start, end)`` sample bounds retaining the span from
    the first to the last sample with ``|x| > threshold`` — the
    leading/trailing-silence trim every ASR front-end runs — widened by
    ``pad`` samples (scalar or per-clip array) and clamped to the clip.
    All-silent and empty clips yield ``start == end == 0``.

    Layout matches :func:`batch_decode`; one ``flatnonzero`` over the
    whole buffer and two ``searchsorted`` calls against the clip
    offsets — no per-clip Python loop."""
    lengths = np.asarray(lengths, dtype=np.int64)
    n = len(lengths)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    hit = np.flatnonzero(np.abs(samples) > threshold)
    lo = np.searchsorted(hit, offs[:-1], side="left")
    hi = np.searchsorted(hit, offs[1:], side="left")
    starts = np.zeros(n, dtype=np.int64)
    ends = np.zeros(n, dtype=np.int64)
    has = hi > lo
    if hit.size and has.any():
        pad = np.broadcast_to(np.asarray(pad, dtype=np.int64), (n,))
        starts[has] = np.maximum(
            hit[lo[has]] - offs[:-1][has] - pad[has], 0
        )
        ends[has] = np.minimum(
            hit[hi[has] - 1] + 1 - offs[:-1][has] + pad[has], lengths[has]
        )
    return starts, ends


def batch_voiced_segments(
    samples: np.ndarray,
    lengths: np.ndarray,
    threshold: float = 0.01,
    gap: int = 1600,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Voiced-segment detection for utterance splitting: within each
    clip, cluster the samples with ``|x| > threshold`` into maximal
    groups whose internal silent runs are SHORTER than ``gap`` samples;
    each group is one segment ``[start, end)`` (relative to its clip),
    trimmed to its first/last voiced sample.  Silence runs >= ``gap``
    become cut points; edge silence always falls off (the per-segment
    trim).  Returns ``(clip_idx, seg_start, seg_end)`` — all-silent and
    empty clips contribute NO rows here (the operator decides how to
    represent them).

    One flatnonzero over the whole buffer, one diff, one searchsorted —
    run boundaries are where consecutive voiced samples are >= ``gap``
    apart or belong to different clips; no per-clip Python loop."""
    lengths = np.asarray(lengths, dtype=np.int64)
    offs = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    hit = np.flatnonzero(np.abs(samples) > threshold)
    if not hit.size:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()
    clip_of = np.searchsorted(offs[1:], hit, side="right")
    # break between consecutive voiced samples when the silent run
    # between them (diff - 1) reaches gap, or at a clip boundary
    brk = np.empty(len(hit), dtype=bool)
    brk[0] = True
    brk[1:] = (np.diff(hit) > gap) | (np.diff(clip_of) != 0)
    starts_at = np.flatnonzero(brk)
    seg_first = hit[starts_at]
    seg_last = hit[np.concatenate([starts_at[1:] - 1, [len(hit) - 1]])]
    clip_idx = clip_of[starts_at]
    base = offs[clip_idx]
    return clip_idx, seg_first - base, seg_last + 1 - base


def batch_pair_snr(
    datas_a: list, datas_b: list, codecs_a: list, codecs_b: list
) -> np.ndarray:
    """Pairwise SNR (dB) between the DECODED signals of aligned clip
    pairs — the verify kernel for cross-codec audio near-dup: two lossy
    encodings of the same recording score high (each codec holds SNR >=
    ~35 dB vs the source, so pairwise >= ~30 dB), unrelated recordings
    score ~0 dB.

    Vectorized like the rest of this module: pairs are grouped by
    (codec_a, codec_b) — at most 16 groups — each side decoded with ONE
    concatenated ``frombuffer`` per group, and per-pair signal/noise
    powers taken from cumsum-indexed segment sums.  No per-sample
    Python.  Pairs whose decoded lengths differ get ``-inf`` (callers
    key candidates on the sample count, so this is a guard, not a
    path)."""
    n = len(datas_a)
    out = np.full(n, -np.inf, dtype=np.float64)
    keys = list(zip(codecs_a, codecs_b))
    for key in sorted(set(keys)):
        idx = np.array(
            [i for i, k in enumerate(keys) if k == key], dtype=np.int64
        )
        # poison guard: an odd-length pcm16 payload cannot align to
        # 2-byte samples — batch_decode would raise for the whole group.
        # Such a pair is undecodable, not a near-dup: leave it at -inf.
        for side, datas in ((0, datas_a), (1, datas_b)):
            if key[side] == "pcm16":
                idx = pcm16_aligned_indices(datas, idx)
        if len(idx) == 0:
            continue
        sa, la = batch_decode([bytes(datas_a[i]) for i in idx], key[0])
        sb, lb = batch_decode([bytes(datas_b[i]) for i in idx], key[1])
        ok = la == lb
        if not ok.all():
            # slice the mismatched pairs' samples out of both buffers
            # instead of re-decoding the survivors from scratch
            sa = sa[np.repeat(ok, la)]
            sb = sb[np.repeat(ok, lb)]
            la, lb, idx = la[ok], lb[ok], idx[ok]
            if len(idx) == 0:
                continue
        # regime-adaptive per-pair powers (the SEGMENT_LONG_CLIP
        # lesson): the one-shot version streamed four multi-ten-MB
        # float64 temporaries (two astypes, subtract, square) plus two
        # cumsums through DRAM and LOST ~2.6x to the per-pair loop in
        # the r3 kernel record.  Long pairs -> per-pair slice dots
        # (each pair is an L2-resident numpy problem); short pairs ->
        # cache-sized pair-aligned blocks.
        m = len(la)
        p_sig = np.empty(m, dtype=np.float64)
        p_noise = np.empty(m, dtype=np.float64)
        if la.size and la.mean() > SEGMENT_LONG_CLIP:
            bounds = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(la, out=bounds[1:])
            for j in range(m):
                fa = sa[bounds[j]:bounds[j + 1]].astype(np.float64)
                fb = sb[bounds[j]:bounds[j + 1]].astype(np.float64)
                p_sig[j] = np.dot(fa, fa)
                fb -= fa
                p_noise[j] = np.dot(fb, fb)
        else:
            for plo, phi, slo, shi in _clip_blocks(la, SEGMENT_BLOCK_SAMPLES):
                fa = sa[slo:shi].astype(np.float64)
                fb = sb[slo:shi].astype(np.float64)
                sig = fa * fa
                fb -= fa
                nse = fb * fb
                cs = np.concatenate([[0.0], np.cumsum(sig)])
                cn = np.concatenate([[0.0], np.cumsum(nse)])
                bl = la[plo:phi]
                ends = np.cumsum(bl)
                offs = ends - bl
                p_sig[plo:phi] = cs[ends] - cs[offs]
                p_noise[plo:phi] = cn[ends] - cn[offs]
        # identical decodes → p_noise 0 → +300 dB; empty pairs → 0 dB
        out[idx] = 10.0 * np.log10(
            np.maximum(p_sig, 1e-300) / np.maximum(p_noise, 1e-300)
        )
    return out


# --- deterministic noise injection (counter-based RNG) -------------------------

# splitmix64 constants (Steele et al., "Fast Splittable Pseudorandom
# Number Generators", OOPSLA 2014) — the standard stateless mixer.
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized stateless splitmix64 finalizer over uint64 counters."""
    x = (x + _SM_GAMMA).astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * _SM_M1
    x = (x ^ (x >> np.uint64(27))) * _SM_M2
    return x ^ (x >> np.uint64(31))


# Sample block for the noise pipeline: the RNG->Box-Muller chain needs
# ~8 same-length temporaries; full-buffer vectorization over a 20k-clip
# Arrow batch streams ~10 passes of multi-hundred-MB traffic through
# memory, while a per-clip loop keeps everything cache-resident and WINS
# (the batch_resample long-clip lesson).  Clip-aligned 64k-sample
# blocks keep each temporary ~0.5 MB — the whole ~8-array set
# L2/L3-resident — at ~10 numpy calls per block.  Sized by sweep:
# 256k blocks (~2 MB each, ~16 MB set) measured a TIE with the
# per-clip loop; 64k measures ~1.4x (128k 1.29x, 32k 1.36x).
# Blocking never changes values: every sample's noise is a pure function
# of (key, within-clip index).
MIX_NOISE_BLOCK_SAMPLES = 1 << 16


def batch_mix_noise(
    samples: np.ndarray,
    lengths: np.ndarray,
    keys: np.ndarray,
    snr_db: float,
) -> np.ndarray:
    """Add white Gaussian noise at ``snr_db`` below each clip's measured
    signal power — the standard robustness augmentation — with noise
    that is a PURE FUNCTION of (clip key, sample index): counter-based
    splitmix64 → Box-Muller, no RNG state, so the result is identical
    under any batching, partitioning, or re-run (a noise overlay an
    auditor can regenerate exactly).

    ``keys[i]`` is clip i's 64-bit noise key (hash of its id + seed).
    Digital-silent clips pass through unchanged: "noise at X dB below
    zero signal" is undefined, and silence should stay silence for the
    silence gate to name.  Output is clipped to [-1, 1].
    """
    n = len(lengths)
    lengths = np.asarray(lengths, dtype=np.int64)
    if n == 0 or len(samples) == 0:
        return samples.astype(np.float64)
    out = samples.astype(np.float64)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    nonempty = lengths > 0
    power = np.zeros(n, dtype=np.float64)
    sums = np.add.reduceat(out**2, offsets[nonempty])
    power[nonempty] = sums / lengths[nonempty]
    # per-clip noise std for the target SNR; silent clips -> 0 (passthrough)
    std = np.sqrt(power / (10.0 ** (snr_db / 10.0)))
    base = _splitmix64(np.asarray(keys, dtype=np.uint64))
    # clip-aligned sample blocks (see MIX_NOISE_BLOCK_SAMPLES)
    ends = offsets + lengths
    i0 = 0
    while i0 < n:
        i1 = i0 + 1
        while i1 < n and ends[i1 - 1] - offsets[i0] < MIX_NOISE_BLOCK_SAMPLES:
            i1 += 1
        lo, hi = int(offsets[i0]), int(ends[i1 - 1])
        if hi > lo:
            blk_len = lengths[i0:i1]
            # counters: per-clip splitmix'd key base + within-clip index,
            # mixed again -> independent streams per clip, stateless
            ctr = (
                np.repeat(base[i0:i1], blk_len)
                + _concat_aranges(blk_len).astype(np.uint64)
            )
            h1 = _splitmix64(ctr)
            h2 = _splitmix64(h1)
            # (0, 1] uniforms from the top 53 bits (u1 > 0 keeps log finite)
            u1 = ((h1 >> np.uint64(11)).astype(np.float64) + 1.0) * (2.0 ** -53)
            u2 = (h2 >> np.uint64(11)).astype(np.float64) * (2.0 ** -53)
            z = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
            out[lo:hi] += np.repeat(std[i0:i1], blk_len) * z
        i0 = i1
    return np.clip(out, -1.0, 1.0)


# SNR estimate guard: all-silence clips read 0/0 -> 0 dB, never NaN.
SNR_EST_EPS = 1e-12


def snr_estimate(
    pcm: np.ndarray,
    sr_hz: int,
    frame_ms: int = 20,
    noise_q: float = 0.1,
) -> tuple[float, int]:
    """Scalar twin of ``batch_snr_estimate`` for ONE clip (per-frame
    loop-free but clip-at-a-time; property tests pin the batched kernel
    to this).  Returns (snr_db, n_frames).

    NIST-STNR-style frame-energy estimate: split into non-overlapping
    ``frame_ms`` frames (tail remainder dropped), noise power = mean of
    the quietest ``max(1, floor(noise_q * n_frames))`` frames, signal
    power = mean of the loudest ``ceil(n_frames / 2)`` frames, estimate
    = ``10 log10((signal + eps) / (noise + eps))``.  A steady signal
    (no pauses) correctly reads ~0 dB — the estimator needs quiet gaps
    to see the noise floor, exactly like real speech-quality screens;
    gate it together with silence/clipping ratios, not instead of."""
    if sr_hz <= 0:
        return 0.0, 0
    frame = max(1, int(sr_hz * frame_ms / 1000))
    nf = len(pcm) // frame
    if nf == 0:
        return 0.0, 0
    x = pcm[: nf * frame].astype(np.float64).reshape(nf, frame)
    e = np.sort((x * x).sum(axis=1))
    k_noise = max(1, int(noise_q * nf))
    k_sig = (nf + 1) // 2
    noise = float(e[:k_noise].mean())
    sig = float(e[nf - k_sig:].mean())
    return float(10.0 * np.log10((sig + SNR_EST_EPS)
                                 / (noise + SNR_EST_EPS))), nf


def batch_snr_estimate(
    samples: np.ndarray,
    lengths: np.ndarray,
    sr_hz: int,
    frame_ms: int = 20,
    noise_q: float = 0.1,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-clip frame-energy SNR estimate over a concatenated same-rate
    buffer → (snr_db [n] float64, n_frames [n] int64); definition in
    ``snr_estimate``.

    Fully vectorized across the batch: frame energies from ONE cumsum
    of the squared buffer (exact — no reduceat tail bleed across clip
    boundaries), per-clip ascending order via ONE ``np.lexsort`` keyed
    (clip, energy), and both quantile means from ONE prefix sum of the
    sorted energies indexed at per-clip offsets.  No per-clip Python."""
    lengths = np.asarray(lengths, dtype=np.int64)
    n = len(lengths)
    snr = np.zeros(n, dtype=np.float64)
    nfs = np.zeros(n, dtype=np.int64)
    if n == 0 or sr_hz <= 0 or len(samples) == 0:
        return snr, nfs
    frame = max(1, int(sr_hz * frame_ms / 1000))
    nfs = lengths // frame
    total = int(nfs.sum())
    if total == 0:
        return snr, nfs
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    clip_of = np.repeat(np.arange(n, dtype=np.int64), nfs)
    starts = offsets[clip_of] + frame * _concat_aranges(nfs)
    sq = samples.astype(np.float64) ** 2
    csum = np.concatenate([[0.0], np.cumsum(sq)])
    energy = csum[starts + frame] - csum[starts]
    order = np.lexsort((energy, clip_of))
    prefix = np.concatenate([[0.0], np.cumsum(energy[order])])
    fo = np.zeros(n, dtype=np.int64)
    np.cumsum(nfs[:-1], out=fo[1:])
    has = nfs > 0
    k_noise = np.maximum(1, (noise_q * nfs[has]).astype(np.int64))
    k_sig = (nfs[has] + 1) // 2
    lo = fo[has]
    noise = (prefix[lo + k_noise] - prefix[lo]) / k_noise
    hi = lo + nfs[has]
    sig = (prefix[hi] - prefix[hi - k_sig]) / k_sig
    snr[has] = 10.0 * np.log10((sig + SNR_EST_EPS) / (noise + SNR_EST_EPS))
    return snr, nfs


def decodable_indices(datas: list, codecs, codec: str, base_ok=None):
    """Indices of rows decodable as ``codec``: matching codec tag,
    non-NULL payload, pcm16 byte alignment — the ONE poison-row guard
    shared by every decode scaffold (``decode_sr_groups`` and the
    sr-agnostic verification paths), so an alignment rule for a new
    codec is added in exactly one place.  ``base_ok`` ANDs a caller
    mask (e.g. a positive-sample-rate requirement)."""
    ok = np.fromiter(
        (d is not None for d in datas), dtype=bool, count=len(datas)
    )
    if base_ok is not None:
        ok &= base_ok
    cidx = np.flatnonzero((codecs == codec) & ok)
    if codec == "pcm16":
        cidx = pcm16_aligned_indices(datas, cidx)
    return cidx


def decode_sr_groups(datas: list, codecs, srs):
    """Yield ``(idx, samples, lengths, sr)`` for every decodable
    (codec, sample-rate) group of an Arrow batch — the ONE shared
    scaffold behind every sr-dependent audio operator: supported-codec
    split, NULL-payload / NULL-or-nonpositive-sr exclusion, the pcm16
    odd-length poison guard, and one concatenated decode per group.
    Rows never yielded are the caller's poison rows.  The feature
    operators reach it through ``operators.audio._with_sr_features``,
    which hands each group to every requested feature kernel and leaves
    the poison rows at their ok=false defaults.

    ``datas`` is the raw payload list; ``codecs`` a string array;
    ``srs`` a float64 array with NaN for NULL rates."""
    srs = np.asarray(srs, dtype=np.float64)
    sr_ok = np.isfinite(srs) & (srs > 0)
    for codec in SUPPORTED_CODECS:
        cidx = decodable_indices(datas, codecs, codec, base_ok=sr_ok)
        if not len(cidx):
            continue
        for sr in np.unique(srs[cidx]):
            idx = cidx[srs[cidx] == sr]
            samples, lengths = batch_decode(
                [bytes(datas[i]) for i in idx], codec
            )
            yield idx, samples, lengths, int(sr)


def remove_dc(
    pcm: np.ndarray, sr_hz: int, win_ms: int = 125
) -> np.ndarray:
    """Scalar twin of ``batch_remove_dc`` for ONE clip: subtract a
    centered moving average (window clamped to clip bounds) — a zero-
    phase FIR high-pass that strips DC offset and sub-hertz drift
    (cheap mic/ADC defects) while leaving speech-band content intact.
    Pure function; output float32, same length."""
    n = len(pcm)
    if n == 0 or sr_hz <= 0:
        return pcm.astype(np.float32)
    w = max(1, int(sr_hz * win_ms / 1000) // 2)
    x = pcm.astype(np.float64)
    csum = np.concatenate([[0.0], np.cumsum(x)])
    pos = np.arange(n, dtype=np.int64)
    lo = np.maximum(pos - w, 0)
    hi = np.minimum(pos + w + 1, n)
    mean = (csum[hi] - csum[lo]) / (hi - lo)
    return (x - mean).astype(np.float32)


def batch_remove_dc(
    samples: np.ndarray,
    lengths: np.ndarray,
    sr_hz: int,
    win_ms: int = 125,
) -> np.ndarray:
    """DC/drift removal over a concatenated same-rate buffer — the
    vectorized twin of :func:`remove_dc` (equivalence pytest-gated):
    ONE global cumsum, per-sample window bounds clamped to each clip's
    own extent with pure index arithmetic (no per-clip Python, no
    cross-clip bleed).  Returns float32 samples in the same layout."""
    lengths = np.asarray(lengths, dtype=np.int64)
    n = len(lengths)
    if n == 0 or len(samples) == 0 or sr_hz <= 0:
        return samples.astype(np.float32)
    # REGIME-ADAPTIVE like batch_resample: the single-pass vectorized
    # form materializes three full-length int64 temporaries (repeat'd
    # clip bounds + positions) plus two csum gathers — ~7x faster than
    # per-clip calls when clips are tiny (call overhead dominates), ~2x
    # SLOWER when clips are long (memory traffic dominates; measured
    # 0.15 s vs 0.08 s at ~3.5k-sample clips).  Long clips take
    # per-clip remove_dc into one preallocated buffer; both paths are
    # bit-identical (same per-sample arithmetic).
    if lengths.mean() > BATCH_RESAMPLE_SHORT_CLIP:
        out = np.empty(len(samples), dtype=np.float32)
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lengths[:-1], out=offsets[1:])
        for o, ln in zip(offsets, lengths):
            if ln:
                out[o:o + ln] = remove_dc(
                    samples[o:o + ln], sr_hz, win_ms=win_ms)
        return out
    w = max(1, int(sr_hz * win_ms / 1000) // 2)
    x = samples.astype(np.float64)
    csum = np.concatenate([[0.0], np.cumsum(x)])
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    starts = np.repeat(offsets, lengths)
    ends = np.repeat(offsets + lengths, lengths)
    pos = np.arange(len(samples), dtype=np.int64)
    lo = np.maximum(pos - w, starts)
    hi = np.minimum(pos + w + 1, ends)
    mean = (csum[hi] - csum[lo]) / (hi - lo)
    return (x - mean).astype(np.float32)


# Window hashing for repeated-segment detection: an odd multiplier makes
# the uint64 polynomial hash a bijection per position, and the splitmix
# finalizer breaks the linear structure so nearby windows never cluster.
_WIN_HASH_P = np.uint64(0x9E3779B97F4A7C55)


def batch_window_hashes(
    samples: np.ndarray,
    lengths: np.ndarray,
    win: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fixed-width window fingerprints over a concatenated PCM buffer:
    each clip is cut into ``len // win`` complete ``win``-sample windows
    (the ragged tail is dropped — a partial window can't match a full
    one), every window's samples are quantized to pcm16 (so any codec's
    decode lands on the same lattice) and hashed with a uint64
    polynomial + splitmix finalizer.  Returns ``(clip_idx, win_idx,
    hashes)`` — one row per complete window.

    Fully vectorized: one quantize, one gather to a (n_windows, win)
    matrix, one row-wise multiply-add against the power vector — no
    per-window Python.  Byte-identical audio windows hash identically
    by construction; distinct windows collide with ~2^-64 probability."""
    lengths = np.asarray(lengths, dtype=np.int64)
    if win <= 0:
        raise ValueError("win must be a positive sample count")
    n_wins = lengths // win
    total = int(n_wins.sum())
    e = np.empty(0, dtype=np.int64)
    if total == 0:
        return e, e.copy(), e.copy()
    offs = np.cumsum(lengths) - lengths
    clip_idx = np.repeat(np.arange(len(lengths), dtype=np.int64), n_wins)
    win_idx = _concat_aranges(n_wins)
    # flat start of every window, then a (n_windows, win) gather
    starts = offs[clip_idx] + win_idx * win
    mat = float_to_pcm16(samples)[
        starts[:, None] + np.arange(win, dtype=np.int64)[None, :]
    ].astype(np.uint64)
    pow_vec = np.full(win, _WIN_HASH_P, dtype=np.uint64)
    pow_vec[0] = np.uint64(1)
    pow_vec = np.multiply.accumulate(pow_vec)  # wraps mod 2^64 silently
    h = (mat * pow_vec[None, :]).sum(axis=1, dtype=np.uint64)
    return clip_idx, win_idx, _splitmix64(h).view(np.int64)


def batch_envelope_bits(
    samples: np.ndarray,
    lengths: np.ndarray,
    n_frames: int = 32,
) -> tuple[np.ndarray, np.ndarray]:
    """Tempo-robust envelope fingerprint over a concatenated PCM
    buffer: each clip is cut into ``n_frames`` EQUAL time spans
    (whatever its length — that is the tempo invariance: a 0.9x or
    1.1x speed-perturbed copy stretches every span by the same factor,
    so the per-span mean-|x| PATTERN is unchanged), each span's mean
    |x| is thresholded at half the clip's max span energy, and the
    bits pack little-endian into one integer.

    Returns ``(ok, bits)`` — ``ok[i]`` false (bits 0) when the clip is
    shorter than ``n_frames`` samples (empty spans would be undefined)
    or fully silent (no max to threshold against).

    Vectorized: clips shorter than ``n_frames`` are compacted out with
    one gather so every span is non-empty and contiguous, then one
    |x| pass, one ``add.reduceat`` over all span boundaries, one
    reshape to (n_clips, n_frames) — no per-clip Python."""
    lengths = np.asarray(lengths, dtype=np.int64)
    n = len(lengths)
    ok = lengths >= n_frames
    bits = np.zeros(n, dtype=np.int64)
    if not ok.any():
        return ok, bits
    offs = np.cumsum(lengths) - lengths
    if ok.all():
        buf = samples
        ok_lens = lengths
        ok_offs = offs
    else:
        # compact: gather only the ok clips into a contiguous buffer so
        # reduceat spans never straddle an excluded clip
        ok_lens = lengths[ok]
        src_starts = offs[ok]
        idx = np.repeat(src_starts, ok_lens) + _concat_aranges(ok_lens)
        buf = samples[idx]
        ok_offs = np.cumsum(ok_lens) - ok_lens
    k = np.arange(n_frames, dtype=np.int64)
    starts = (
        ok_offs[:, None] + (k[None, :] * ok_lens[:, None]) // n_frames
    ).ravel()
    a = np.abs(buf)
    sums = np.add.reduceat(a, starts)
    span_lens = np.diff(
        np.append(starts, ok_offs[-1] + ok_lens[-1])
    ).astype(np.float64)
    means = (sums / span_lens).reshape(-1, n_frames)
    peak = means.max(axis=1)
    silent = peak <= 0.0
    thr = 0.5 * peak
    b = (means > thr[:, None]).astype(np.int64)
    weights = 1 << np.arange(n_frames, dtype=np.int64)
    packed = (b * weights[None, :]).sum(axis=1)
    packed[silent] = 0
    ok_idx = np.flatnonzero(ok)
    bits[ok_idx] = packed
    ok[ok_idx[silent]] = False
    return ok, bits


# Content-defined chunking (CDC) for audio: Rabin-style rolling window
# hash picks segment boundaries from CONTENT, so an inserted prefix
# (leading silence, a new intro) shifts every sample position but not
# the boundaries inside untouched content — the property that makes
# the segment hashes offset-robust where fixed windows
# (batch_window_hashes) are not.  P is odd, hence invertible mod 2^64;
# Q = P^-1 lets both the window hash and the segment hash be computed
# position-FREE from one prefix-sum pass (hash == the content's own
# polynomial, independent of where in the buffer it sits).
_CDC_P = np.uint64(0x9E3779B97F4A7C15)  # odd golden-ratio constant


def _uint64_inverse(p: int) -> int:
    """Modular inverse of an odd p mod 2^64 (Newton iteration)."""
    q = p
    for _ in range(6):
        q = (q * (2 - p * q)) & 0xFFFFFFFFFFFFFFFF
    return q


_CDC_Q = np.uint64(_uint64_inverse(int(_CDC_P)))
_CDC_BIAS = np.uint64(12345)  # lifts silence off x=0 (h would be 0)


def batch_cdc_segments(
    samples: np.ndarray,
    lengths: np.ndarray,
    window: int = 64,
    mask_bits: int = 10,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Content-defined segmentation of a concatenated PCM buffer:
    a boundary falls AFTER position i when the rolling hash of the
    last ``window`` pcm16-quantized samples hits a target in the low
    ``mask_bits`` bits (expected segment ~2^mask_bits samples); the
    target is chosen so a constant (silent) window can never match,
    so padding regions produce no boundary storm.  Returns
    ``(clip_idx, seg_idx, seg_hash)`` — one row per segment, where a
    segment is the content between consecutive boundaries (clip edges
    always close a segment).

    Both the window hash and the segment hash equal the CONTENT's own
    polynomial (position factored out via P^-1 powers), so a clip that
    re-appears inside a longer clip — extra leading silence, an
    appended outro — shares every interior segment hash with the
    original: the offset-robust member of the dedup family (exact /
    cross-codec / tempo / THIS).  Same-codec comparison only: the hash
    is over the decode lattice.

    Vectorized: one quantize, two prefix products/sums, one boundary
    scan — no per-sample Python."""
    lengths = np.asarray(lengths, dtype=np.int64)
    total = int(lengths.sum())
    e = np.empty(0, dtype=np.int64)
    if total == 0:
        return e, e.copy(), e.copy()
    x = float_to_pcm16(samples).astype(np.uint64) + _CDC_BIAS
    n = total
    # prefix powers of P and Q over global positions
    ppow = np.empty(n, dtype=np.uint64)
    qpow = np.empty(n, dtype=np.uint64)
    ppow[0] = np.uint64(1)
    qpow[0] = np.uint64(1)
    if n > 1:
        np.multiply.accumulate(
            np.full(n - 1, _CDC_P, dtype=np.uint64), out=ppow[1:]
        )
        np.multiply.accumulate(
            np.full(n - 1, _CDC_Q, dtype=np.uint64), out=qpow[1:]
        )
    # U(i) = sum_{j<=i} x[j] * P^j  (wrapping); window hash ending at i:
    # h(i) = Q^(i-w+1) * (U(i) - U(i-w))  == content polynomial
    u = np.cumsum(x * ppow, dtype=np.uint64)
    w = int(window)
    mask = np.uint64((1 << mask_bits) - 1)
    # target the silent window can never hit: h_const = BIAS * sum P^j
    # (computed in Python ints — the mod-2^64 wrap is intended, and
    # numpy scalars would warn on it)
    m64 = (1 << 64) - 1
    k_const = 0
    acc = 1
    for _ in range(w):
        k_const = (k_const + acc) & m64
        acc = (acc * int(_CDC_P)) & m64
    silent_low = np.uint64((int(_CDC_BIAS) * k_const) & m64) & mask
    target = silent_low ^ np.uint64(1)
    offs = np.cumsum(lengths) - lengths
    pos_in_clip = _concat_aranges(lengths)
    valid = pos_in_clip >= w - 1  # window entirely inside one clip
    i = np.arange(n, dtype=np.int64)
    h = np.empty(n, dtype=np.uint64)
    h[w - 1:] = (u[w - 1:] - np.concatenate(
        [np.uint64([0]), u[:-w]]
    )[: n - w + 1]) * qpow[: n - w + 1]
    is_boundary = np.zeros(n, dtype=bool)
    ok = valid & (i >= w - 1)
    is_boundary[ok] = (h[ok] & mask) == target
    # clip ends always close a segment
    ends = offs + lengths
    cut_after = np.flatnonzero(is_boundary) + 1
    seg_bounds = np.unique(np.concatenate([offs, ends, cut_after]))
    seg_bounds = seg_bounds[(seg_bounds >= 0) & (seg_bounds <= n)]
    starts = seg_bounds[:-1]
    stops = seg_bounds[1:]
    keep = stops > starts
    starts, stops = starts[keep], stops[keep]
    clip_idx = np.searchsorted(offs, starts, side="right") - 1
    # seg_hash = Q^start * (U(stop-1) - U(start-1)) — content polynomial
    u0 = np.concatenate([np.uint64([0]), u])
    seg_h = (u0[stops] - u0[starts]) * qpow[starts]
    seg_hash = _splitmix64(seg_h).view(np.int64)
    # per-clip segment ordinal
    seg_idx = np.arange(len(starts), dtype=np.int64)
    first = np.searchsorted(clip_idx, np.arange(len(lengths)), side="left")
    seg_idx = seg_idx - first[clip_idx]
    return clip_idx, seg_idx, seg_hash


# --- multichannel (interleaved) kernels ---------------------------------------
#
# The reference corpus is mono, but real call/meeting audio lands as
# frame-interleaved multichannel PCM (L R L R ...).  These kernels keep
# the concatenated-buffer layout of batch_decode: one flat buffer, one
# lengths array (lengths count INTERLEAVED samples), every clip in the
# call sharing one (codec, sr_hz, n_channels).  Everything is whole-
# buffer vectorized — the only per-clip work anywhere is slicing the
# already-encoded output bytes.


def _compact_to_multiple(
    samples: np.ndarray, lengths: np.ndarray, m: int
) -> tuple[np.ndarray, np.ndarray]:
    """Drop each clip's trailing ``length % m`` samples from a
    concatenated buffer so every clip's span is a multiple of ``m``.
    Returns ``(buf, kept_lengths)``; zero-copy fast path when every
    clip is already aligned (the common case — ragged tails only occur
    on truncated uploads)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    kept = (lengths // m) * m
    if int(kept.sum()) == int(lengths.sum()):
        return samples, kept
    pos = _concat_aranges(lengths)
    mask = pos < np.repeat(kept, lengths)
    return samples[mask], kept


def batch_downmix(
    samples: np.ndarray, lengths: np.ndarray, n_channels: int
) -> tuple[np.ndarray, np.ndarray]:
    """Downmix concatenated frame-interleaved multichannel clips to
    mono: one reshape + one mean over the channel axis for the WHOLE
    buffer (no per-clip loop).  Returns ``(mono_samples,
    mono_lengths)`` where ``mono_lengths[i] = lengths[i] //
    n_channels``; a ragged trailing partial frame is dropped (it has no
    complete sample for every channel).  Mono input passes through."""
    lengths = np.asarray(lengths, dtype=np.int64)
    nch = int(n_channels)
    if nch <= 1:
        return samples.astype(np.float32, copy=False), lengths
    # Clip-aligned chunking (see _clip_blocks), not a mean-length
    # per-clip split: the float64 reshape/mean temporaries stay bounded
    # at ~DOWNMIX_CHUNK_SAMPLES (cache-resident), short clips amortize
    # per-call overhead inside a chunk, and a long clip degenerates to
    # the per-clip case.  The previous mean>SEGMENT_LONG_CLIP loop made
    # the batched path ~0.8x the PLAIN loop at realistic 0.2-0.3 s clip
    # lengths (recursion setup per clip); chunked measures ~1.5x on the
    # same input and keeps the long-clip regime's cache advantage.
    # Bit-identical: the downmix is per-clip independent.
    if len(lengths) > 1 and int(lengths.sum()) > DOWNMIX_CHUNK_SAMPLES:
        out_lengths = lengths // nch
        oo = np.cumsum(out_lengths) - out_lengths
        out = np.empty(int(out_lengths.sum()), dtype=np.float32)
        for s0, s1, lo, hi in _clip_blocks(lengths, DOWNMIX_CHUNK_SAMPLES):
            o1, _ = batch_downmix(samples[lo:hi], lengths[s0:s1], nch)
            d0 = int(oo[s0])
            out[d0:d0 + len(o1)] = o1
        return out, out_lengths
    buf, kept = _compact_to_multiple(samples, lengths, nch)
    mono = (
        buf.astype(np.float64).reshape(-1, nch).mean(axis=1)
    ).astype(np.float32)
    return mono, kept // nch


def batch_channel_blocks(
    samples: np.ndarray,
    lengths: np.ndarray,
    n_channels: int,
    sr_hz: int,
    threshold: float = 0.01,
    block_ms: int = 10,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-clip per-channel speech activity over concatenated
    interleaved clips: split each channel into ``block_ms`` blocks, a
    block is voiced when its mean ``|x|`` >= ``threshold`` (block-energy
    VAD — deliberately simpler than ``batch_voiced_segments``'s
    gap-merge semantics, because the cross-channel conjunction below
    needs time-aligned units, not merged utterances).

    Returns ``(voiced_blocks, overtalk_blocks, n_blocks)``:
    ``voiced_blocks[i, c]`` = clip i's voiced block count on channel c
    (shape ``(n, n_channels)``), ``overtalk_blocks[i]`` = blocks where
    >= 2 channels are voiced simultaneously (0 for mono), ``n_blocks[i]``
    = complete blocks measured.  One reshape to ``(total_blocks,
    block_frames, nch)`` + one mean does the whole batch."""
    voiced, clip_of, n_blocks, n, nch = _block_voiced(
        samples, lengths, n_channels, sr_hz, threshold, block_ms
    )
    voiced_counts = np.zeros((n, nch), dtype=np.int64)
    overtalk = np.zeros(n, dtype=np.int64)
    if voiced is None:
        return voiced_counts, overtalk, n_blocks
    np.add.at(voiced_counts, clip_of, voiced.astype(np.int64))
    if nch >= 2:
        both = voiced.sum(axis=1) >= 2
        np.add.at(overtalk, clip_of, both.astype(np.int64))
    return voiced_counts, overtalk, n_blocks


def _block_voiced(samples, lengths, n_channels, sr_hz, threshold, block_ms):
    """Shared block-energy VAD core: per-block per-channel voiced flags
    over concatenated interleaved clips.  Returns ``(voiced, clip_of,
    n_blocks, n, nch)`` with ``voiced`` None when no complete block
    exists."""
    lengths = np.asarray(lengths, dtype=np.int64)
    n = len(lengths)
    nch = max(1, int(n_channels))
    b = max(1, int(sr_hz * block_ms / 1000))
    m = b * nch
    buf, kept = _compact_to_multiple(samples, lengths, m)
    n_blocks = kept // m
    total_blocks = int(n_blocks.sum())
    if total_blocks == 0:
        return None, None, n_blocks, n, nch
    blocks = np.abs(buf.astype(np.float64)).reshape(total_blocks, b, nch)
    voiced = blocks.mean(axis=1) >= threshold  # (total_blocks, nch)
    clip_of = np.repeat(np.arange(n, dtype=np.int64), n_blocks)
    return voiced, clip_of, n_blocks, n, nch


def batch_speaker_turns(
    samples: np.ndarray,
    lengths: np.ndarray,
    n_channels: int,
    sr_hz: int,
    threshold: float = 0.01,
    block_ms: int = 10,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-clip SPEAKER-TURN counts over interleaved multichannel
    clips: a turn is a change of the single-voiced channel between
    consecutive single-voiced blocks (silence and overlap blocks
    neither start nor break a turn — a pause inside one speaker's
    utterance is not a handoff).  The dialogue-density measure
    conversational-data curation ranks by: monologues read 0, clean
    alternation reads the handoff count.

    Fully vectorized: one shared block-VAD pass (``_block_voiced``),
    one mask compaction, one diff — turns are label changes within the
    same clip on the compacted single-voiced block sequence.  Returns
    ``(turns, n_blocks)``."""
    voiced, clip_of, n_blocks, n, nch = _block_voiced(
        samples, lengths, n_channels, sr_hz, threshold, block_ms
    )
    turns = np.zeros(n, dtype=np.int64)
    if voiced is None or nch < 2:
        return turns, n_blocks
    single = voiced.sum(axis=1) == 1
    if not single.any():
        return turns, n_blocks
    labels = np.argmax(voiced, axis=1)[single]
    clips = clip_of[single]
    if len(labels) > 1:
        change = (labels[1:] != labels[:-1]) & (clips[1:] == clips[:-1])
        np.add.at(turns, clips[1:][change], 1)
    return turns, n_blocks


def decode_sr_nch_groups(datas: list, codecs, srs, nchs):
    """:func:`decode_sr_groups` split further by channel count — the
    shared scaffold for every multichannel operator.  Yields
    ``(idx, samples, lengths, sr, nch, codec)``; rows with NULL or
    nonpositive ``n_channels`` are excluded (caller's poison rows,
    same convention as NULL sr).  The homogeneous-``nch`` case (the
    overwhelmingly common one — a fixture or a single upload source)
    takes a zero-copy fast path; mixed batches pay one gather."""
    nchs = np.asarray(nchs, dtype=np.float64)
    nch_ok = np.isfinite(nchs) & (nchs >= 1)
    srs = np.where(nch_ok, np.asarray(srs, dtype=np.float64), np.nan)
    codecs = np.asarray(codecs)
    for idx, samples, lengths, sr in decode_sr_groups(datas, codecs, srs):
        codec = str(codecs[idx[0]])
        for nch in np.unique(nchs[idx]):
            sub = nchs[idx] == nch
            if sub.all():
                yield idx, samples, lengths, sr, int(nch), codec
                continue
            offs = np.cumsum(lengths) - lengths
            keep = np.flatnonzero(sub)
            pos = _concat_aranges(lengths[keep]) + np.repeat(
                offs[keep], lengths[keep]
            )
            yield idx[keep], samples[pos], lengths[keep], sr, int(nch), codec


def batch_declip(
    samples: np.ndarray,
    lengths: np.ndarray,
    level: float = 0.95,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Clipping repair over a concatenated buffer: samples at or above
    ``level`` (absolute value) are CLIPPED; each clipped run is replaced
    by the linear interpolation between its flanking good samples —
    the standard declip-by-interpolation restoration.  A run touching a
    clip edge is HELD at its one available anchor; a clip with no good
    sample anywhere is left untouched (nothing to anchor to — the gate,
    not the repairer, owns that row).

    Fully vectorized across clips: previous/next good positions come
    from ONE global ``maximum.accumulate`` each way on global sample
    indices — cross-clip leakage is detected (and nulled) by comparing
    the propagated index against the clip's own span, which works
    precisely because the indices are global and monotone.  No per-clip
    loop, no per-run loop.

    Returns ``(repaired, n_clipped, n_repaired)`` — per-clip counts of
    detected and actually-repaired samples (``n_repaired < n_clipped``
    only for the unanchored all-clipped case)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    n = len(lengths)
    total = int(lengths.sum())
    # Clip-aligned chunking (see _clip_blocks): repair is per-clip
    # independent, so chunked evaluation is a pure layout change — the
    # vectorized pass's float64 temporaries stay cache-bounded, short
    # clips amortize per-call overhead, long clips degenerate to the
    # per-clip case the previous mean-length split hard-coded.
    # Bit-identical outputs.
    if n > 1 and total > DECLIP_CHUNK_SAMPLES:
        out = np.empty(total, dtype=np.float32)
        ncs = np.zeros(n, dtype=np.int64)
        nrs = np.zeros(n, dtype=np.int64)
        for s0, s1, lo, hi in _clip_blocks(lengths, DECLIP_CHUNK_SAMPLES):
            rep, nc1, nr1 = batch_declip(
                samples[lo:hi], lengths[s0:s1], level=level,
            )
            out[lo:hi] = rep
            ncs[s0:s1] = nc1
            nrs[s0:s1] = nr1
        return out, ncs, nrs
    x = samples.astype(np.float64, copy=True)
    n_clipped = np.zeros(n, dtype=np.int64)
    n_repaired = np.zeros(n, dtype=np.int64)
    if total == 0:
        return x.astype(np.float32), n_clipped, n_repaired
    offs = np.cumsum(lengths) - lengths
    clip_of = np.repeat(np.arange(n, dtype=np.int64), lengths)
    clipped = np.abs(x) >= level
    np.add.at(n_clipped, clip_of[clipped], 1)
    if not clipped.any():
        return x.astype(np.float32), n_clipped, n_repaired
    idx = np.arange(total, dtype=np.int64)
    # previous good GLOBAL index (monotone cummax; a value smaller than
    # the clip's own start index is a leak from an earlier clip)
    prev = np.maximum.accumulate(np.where(~clipped, idx, -1))
    prev = np.where(prev >= np.repeat(offs, lengths), prev, -1)
    # next good: the same trick on the reversed buffer
    nxt_r = np.maximum.accumulate(np.where(~clipped[::-1], idx, -1))
    nxt = (total - 1) - nxt_r[::-1]
    ends = offs + lengths
    nxt = np.where(
        (nxt <= np.repeat(ends - 1, lengths)) & (nxt_r[::-1] >= 0), nxt, -1
    )
    tgt = np.flatnonzero(clipped)
    p, q = prev[tgt], nxt[tgt]
    both = (p >= 0) & (q >= 0)
    only_p = (p >= 0) & (q < 0)
    only_q = (p < 0) & (q >= 0)
    t = tgt[both]
    pb, qb = p[both], q[both]
    with np.errstate(invalid="ignore", divide="ignore"):
        frac = (t - pb) / (qb - pb)
    x[t] = x[pb] + (x[qb] - x[pb]) * frac
    x[tgt[only_p]] = x[p[only_p]]
    x[tgt[only_q]] = x[q[only_q]]
    fixed = tgt[both | only_p | only_q]
    np.add.at(n_repaired, clip_of[fixed], 1)
    return x.astype(np.float32), n_clipped, n_repaired


# --- codec-family verification (metadata-lies detector) ------------------------


def _segmented_lag1_rho(
    sig: np.ndarray, lengths: np.ndarray
) -> np.ndarray:
    """Per-clip lag-1 autocorrelation (mean-removed) over a
    concatenated buffer of clips that are ALL length >= 2 (callers
    filter degenerate clips out before concatenating — reduceat
    silently merges zero-length segments, and cumsum-difference
    segmentation, the previous fix, spends ~half the kernel in serial
    cumsums).  Segment sums via reduceat; centered num/den from
    num = P - mu*(H + T) + (n-1)*mu^2, den = Q - n*mu^2.  Zero
    variance reads 0.0."""
    n_clips = len(lengths)
    rho = np.zeros(n_clips, dtype=np.float64)
    if n_clips == 0 or len(sig) == 0:
        return rho
    lengths = np.asarray(lengths, dtype=np.int64)
    if (lengths < 2).any():
        raise ValueError("_segmented_lag1_rho requires all lengths >= 2")
    starts = np.cumsum(lengths) - lengths
    ends = starts + lengths  # exclusive
    s = sig.astype(np.float64)
    S = np.add.reduceat(s, starts)
    Q = np.add.reduceat(s * s, starts)
    prod = s[:-1] * s[1:]
    # reduceat over prod includes the pair crossing into the next clip
    # for every clip but the last; subtract it explicitly
    P = np.add.reduceat(np.concatenate((prod, [0.0])), starts)
    last = ends - 1
    cross = last < len(prod)
    P[cross] -= prod[last[cross]]
    first_v = s[starts]
    last_v = s[last]
    n = lengths.astype(np.float64)
    mu = S / n
    H = S - last_v
    T = S - first_v
    num = P - mu * (H + T) + (n - 1.0) * mu * mu
    den = Q - n * mu * mu
    ok = den > 1e-12
    rho[ok] = num[ok] / den[ok]
    return rho


def batch_codec_family(
    datas: list, max_bytes: int = 4096
) -> tuple[np.ndarray, np.ndarray]:
    """Per-clip (rho_pcm16, rho_companded) — lag-1 autocorrelation of
    the payload decoded under each codec-FAMILY hypothesis, on a
    bounded prefix (``max_bytes``) so cost is O(1) per clip no matter
    the payload size.  Real audio is smooth: the correct hypothesis
    reads rho ~ 1.0 and the wrong one collapses (a 16-bit sample
    stream read per-byte, or companded bytes read as int16 pairs, has
    no sample-to-sample continuity).  mu-law and A-law are near-equal
    companding curves, so the detector discriminates FAMILIES
    (pcm16 vs companded), not the two companded codecs — asserting
    more would be guessing.  NULL/empty payloads read (0, 0):
    unverifiable, never asserted."""
    n = len(datas)
    pref = [
        (d[:max_bytes] if d is not None else b"") for d in datas
    ]
    blens = np.array([len(p) for p in pref], dtype=np.int64)
    if blens.sum() == 0:
        return np.zeros(n), np.zeros(n)
    plens = blens // 2 * 2
    rho_pcm = np.zeros(n, dtype=np.float64)
    rho_comp = np.zeros(n, dtype=np.float64)
    # each hypothesis concatenates ONLY its valid (>= 2 sample) clips
    # so the reduceat-based rho sees no degenerate segments
    chas = np.flatnonzero(blens >= 2)
    if len(chas):
        buf = np.frombuffer(
            b"".join(pref[i] for i in chas), dtype=np.uint8
        )
        rho_comp[chas] = _segmented_lag1_rho(
            ulaw_decode(buf), blens[chas]
        )
    phas = np.flatnonzero(plens >= 4)  # >= 2 int16 samples
    if len(phas):
        even = b"".join(pref[i][: plens[i]] for i in phas)
        pcm = np.frombuffer(even, dtype="<i2").astype(np.float64)
        rho_pcm[phas] = _segmented_lag1_rho(pcm, plens[phas] // 2)
    return rho_pcm, rho_comp
