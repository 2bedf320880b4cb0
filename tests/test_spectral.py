"""Frequency-domain feature kernel + operator tests (kernel/spectral.py,
operators/audio.py with_spectral_features).

Strategy mirrors the other audio kernels: (a) batched == scalar twin over
randomized clip layouts (hypothesis, including zero-length and
shorter-than-frame clips at every position), (b) block-size invariance of
the memory-bounding FFT chunking, (c) physics pins — a pure tone reads
its own frequency, white noise reads high flatness — and (d) the Spark
operator over mixed codecs with poison rows.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from top_secret_spark.kernel.audio import encode
from top_secret_spark.kernel.spectral import batch_spectral, spectral_features

SR = 16000


def _random_clip(rng, n):
    return np.clip(0.3 * rng.standard_normal(n), -1.0, 1.0)


@given(
    st.lists(st.integers(0, 1400), min_size=1, max_size=12),
    st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_batch_matches_scalar_over_random_layouts(lens, seed):
    rng = np.random.default_rng(seed)
    clips = [_random_clip(rng, n) for n in lens]
    samples = np.concatenate(clips) if clips else np.empty(0)
    c, f, k = batch_spectral(samples, np.array(lens, dtype=np.int64), SR)
    # pocketfft vectorizes ACROSS transforms, so rounding differs with
    # batch shape: equivalence is tight-float, not bit-identical
    for i, clip in enumerate(clips):
        cs, fs, ks = spectral_features(clip, SR)
        assert cs == pytest.approx(float(c[i]), rel=1e-5, abs=1e-3)
        assert fs == pytest.approx(float(f[i]), rel=1e-5, abs=1e-6)
        assert ks == int(k[i])


def test_block_size_does_not_change_results():
    rng = np.random.default_rng(11)
    lens = np.array([900, 0, 512, 2100, 100, 4800], dtype=np.int64)
    samples = np.concatenate([_random_clip(rng, n) for n in lens])
    ref = batch_spectral(samples, lens, SR)
    for block in (1, 2, 7, 64):
        got = batch_spectral(samples, lens, SR, block_frames=block)
        np.testing.assert_allclose(got[0], ref[0], rtol=1e-5, atol=1e-3)
        np.testing.assert_allclose(got[1], ref[1], rtol=1e-5, atol=1e-6)
        np.testing.assert_array_equal(got[2], ref[2])


def test_rolloff_block_size_does_not_change_results():
    """The per-block pooled accumulation (clips straddling block
    boundaries get partial sums added) must match the one-shot result —
    the memory-bounded path can't move the q-quantile bin."""
    from top_secret_spark.kernel.spectral import batch_rolloff

    rng = np.random.default_rng(13)
    lens = np.array([900, 0, 512, 2100, 100, 4800, 3000], dtype=np.int64)
    samples = np.concatenate([_random_clip(rng, n) for n in lens])
    ref = batch_rolloff(samples, lens, SR)
    for block in (1, 2, 7, 64):
        got = batch_rolloff(samples, lens, SR, block_frames=block)
        np.testing.assert_allclose(got[0], ref[0], rtol=1e-6, atol=1e-6)
        np.testing.assert_array_equal(got[1], ref[1])


def test_sub_frame_decodable_clip_is_not_ok_in_mel_and_mfcc(spark):
    """A DECODABLE clip shorter than one frame must get mel_ok=false /
    mfcc_ok=false — not ok=true with an authoritative-looking 0.0
    mel_argmax_hz that a downstream hum gate (argmax < 150 Hz) would
    silently match.  Matches with_snr_estimate / with_bandwidth's
    ok = (n_frames > 0) convention."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import with_log_mel, with_mfcc

    # 100 samples at 16 kHz < one 32 ms frame (512 samples) — decodable
    tiny = (0.3 * np.ones(100, dtype=np.float32))
    rows = [
        Row(clip_id="tiny", bytes=bytearray(encode(tiny, "pcm16")),
            sr_hz=16000, dur_ms=6, codec="pcm16", transcript=""),
    ]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    df = spark.createDataFrame(rows, schema)
    m = with_log_mel(df).collect()[0]
    assert not m["mel_ok"] and m["n_mel_frames"] == 0 and m["log_mel"] == []
    c = with_mfcc(df).collect()[0]
    assert not c["mfcc_ok"] and c["n_mfcc_frames"] == 0 and c["mfcc"] == []


def test_pure_tone_reads_its_frequency_and_low_flatness():
    t = np.arange(4800) / SR
    for f_hz in (500, 1000, 2500):
        pcm = 0.4 * np.sin(2 * np.pi * f_hz * t)
        c, fl, k = spectral_features(pcm, SR)
        assert abs(c - f_hz) < 10.0
        assert fl < 0.01
        assert k > 0


def test_noise_reads_high_flatness_and_silence_reads_one():
    rng = np.random.default_rng(3)
    c, fl, _ = spectral_features(0.2 * rng.standard_normal(4800), SR)
    assert fl > 0.3
    assert abs(c - SR / 4) < SR / 16  # white noise centroid ~ sr/4
    c0, fl0, k0 = spectral_features(np.zeros(4000), SR)
    assert (c0, fl0) == (0.0, 1.0)
    assert k0 > 0
    # shorter than one frame / empty -> zero frames, noise-like defaults
    for clip in (np.ones(10) * 0.1, np.empty(0)):
        c1, fl1, k1 = spectral_features(clip, SR)
        assert (c1, fl1, k1) == (0.0, 1.0, 0)


def test_trailing_empty_and_short_clips_in_batch():
    # the segmented_features ADVICE trap: empty clip LAST in the batch
    lens = np.array([4800, 0], dtype=np.int64)
    t = np.arange(4800) / SR
    samples = 0.4 * np.sin(2 * np.pi * 1000 * t)
    c, f, k = batch_spectral(samples, lens, SR)
    assert abs(c[0] - 1000) < 10 and k[1] == 0 and f[1] == 1.0


def test_nonpositive_sample_rate_is_defaults_not_crash():
    c, f, k = batch_spectral(np.ones(100), np.array([100]), 0)
    assert (c[0], f[0], k[0]) == (0.0, 1.0, 0)


def test_with_spectral_features_mixed_codecs_and_poison_rows(spark):
    from top_secret_spark.operators.audio import (
        spectral_drop_reason_col,
        with_spectral_features,
    )

    t = np.arange(4800) / SR
    tone = (0.4 * np.sin(2 * np.pi * 1000 * t)).astype(np.float32)
    rows = pd.DataFrame(
        {
            "clip_id": ["a", "b", "c", "d", "e", "f", "g", "h"],
            "bytes": [
                encode(tone, "pcm16"),
                encode(tone, "ulaw"),
                encode(tone, "alaw"),
                None,  # NULL payload
                b"\x00\x01\x02",  # odd-length pcm16 (poison)
                b"\x00\x01\x02\x03",  # unknown codec
                encode(tone[:100], "pcm16"),  # decodable, shorter than a frame
                encode(tone, "pcm16"),  # decodable, sr_hz = 0
            ],
            "sr_hz": pd.array([SR] * 7 + [0], dtype="int32"),
            "dur_ms": pd.array([300] * 8, dtype="int32"),
            "codec": ["pcm16", "ulaw", "alaw", "pcm16", "pcm16", "opus",
                      "pcm16", "pcm16"],
            "transcript": ["t"] * 8,
        }
    )
    out = (
        with_spectral_features(spark.createDataFrame(rows))
        .withColumn("reason", spectral_drop_reason_col())
        .orderBy("clip_id")
        .collect()
    )
    assert "bytes" not in out[0].asDict()
    for r in out[:3]:
        assert r.spectral_ok
        assert abs(r.spectral_centroid_hz - 1000) < 15
        assert r.spectral_flatness < 0.01
    # nothing measured: not ok, so the gate names decode_error rather
    # than reading the 0.0 centroid as low-frequency hum
    for r in out[3:]:
        assert not r.spectral_ok, r.clip_id
        assert (r.spectral_centroid_hz, r.spectral_flatness) == (0.0, 1.0)
        assert r.n_frames == 0
        assert r.reason == "decode_error", r.clip_id


def test_with_spectral_features_keep_bytes_and_mixed_sr(spark):
    from top_secret_spark.operators.audio import with_spectral_features

    # same tone frequency at two sample rates in ONE batch: the per-sr
    # split must hand each group its own frame length
    clips = []
    for sr in (8000, 16000):
        t = np.arange(sr // 2) / sr
        clips.append((0.4 * np.sin(2 * np.pi * 800 * t)).astype(np.float32))
    rows = pd.DataFrame(
        {
            "clip_id": ["lo", "hi"],
            "bytes": [encode(c, "pcm16") for c in clips],
            "sr_hz": pd.array([8000, 16000], dtype="int32"),
            "dur_ms": pd.array([500, 500], dtype="int32"),
            "codec": ["pcm16", "pcm16"],
            "transcript": ["t", "t"],
        }
    )
    out = (
        with_spectral_features(spark.createDataFrame(rows), keep_bytes=True)
        .orderBy("clip_id")
        .collect()
    )
    assert all(r.bytes is not None for r in out)
    for r in out:
        assert abs(r.spectral_centroid_hz - 800) < 15


def test_spectral_drop_reason_priority(spark):
    from top_secret_spark.operators.audio import spectral_drop_reason_col

    df = spark.createDataFrame(
        [
            (False, 0.0, 1.0),  # undecodable wins over everything
            (True, 4000.0, 0.6),  # broadband noise
            (True, 90.0, 0.01),  # hum
            (True, 1000.0, 0.01),  # clean -> NULL
        ],
        "spectral_ok boolean, spectral_centroid_hz double, spectral_flatness double",
    )
    got = [r[0] for r in df.select(spectral_drop_reason_col()).collect()]
    assert got == ["decode_error", "spectral_noise", "spectral_hum", None]


@given(
    lens=st.lists(st.integers(min_value=0, max_value=2000),
                  min_size=1, max_size=8),
    seed=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=20, deadline=None)
def test_log_mel_batch_matches_scalar_over_random_layouts(lens, seed):
    from top_secret_spark.kernel.audio import synth_pcm
    from top_secret_spark.kernel.spectral import batch_log_mel, log_mel_features

    clips = [synth_pcm(seed + i, ln, 16000) if ln else
             np.empty(0, dtype=np.float32) for i, ln in enumerate(lens)]
    samples = (np.concatenate(clips) if any(lens)
               else np.empty(0, dtype=np.float32))
    lengths = np.array(lens, dtype=np.int64)
    mel, nf = batch_log_mel(samples, lengths, 16000)
    off = 0
    for i, c in enumerate(clips):
        ref = log_mel_features(c, 16000)
        assert nf[i] == len(ref)
        got = mel[off:off + nf[i]]
        off += nf[i]
        if len(ref):
            np.testing.assert_allclose(got, ref, atol=1e-3)
    assert off == len(mel)


def test_mel_filterbank_structure():
    from top_secret_spark.kernel.spectral import mel_filterbank

    fb, centers = mel_filterbank(16000, 512, 40)
    assert fb.shape == (40, 257)
    assert (fb >= 0).all()
    assert (fb.sum(axis=1) > 0).all()          # no dead filter
    assert (np.diff(centers) > 0).all()        # centers strictly increase
    assert centers[0] > 0 and centers[-1] < 8000
    with pytest.raises(ValueError, match="n_mels"):
        mel_filterbank(16000, 512, 0)


def test_with_log_mel_operator_planted_and_poison(spark):
    """Tone clips read their planted frequency at the time-mean mel
    peak; matrix shape is (n_mel_frames, n_mels); poison rows (odd
    pcm16, NULL payload, NULL sr) get mel_ok=false + empty matrix;
    bytes dropped by default."""
    from pyspark.sql import Row

    from top_secret_spark.kernel.audio import synth_pcm
    from top_secret_spark.operators.audio import with_log_mel

    t = np.arange(4800) / 16000.0
    tone = (0.4 * np.sin(2 * np.pi * 1000.0 * t)).astype(np.float32)
    rows = [
        Row(clip_id="tone", bytes=bytearray(encode(tone, "pcm16")),
            sr_hz=16000, dur_ms=300, codec="pcm16", transcript=""),
        Row(clip_id="ulaw", bytes=bytearray(encode(
            synth_pcm(5, 2000, 8000), "ulaw")),
            sr_hz=8000, dur_ms=250, codec="ulaw", transcript=""),
        Row(clip_id="odd", bytes=bytearray(b"\x01\x02\x03"),
            sr_hz=16000, dur_ms=0, codec="pcm16", transcript=""),
        Row(clip_id="nullb", bytes=None, sr_hz=16000, dur_ms=0,
            codec="pcm16", transcript=""),
    ]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    out = with_log_mel(spark.createDataFrame(rows, schema), n_mels=40)
    assert "bytes" not in out.columns
    got = {r["clip_id"]: r for r in out.collect()}
    g = got["tone"]
    assert g["mel_ok"] and g["n_mel_frames"] == 17
    assert len(g["log_mel"]) == 17 and len(g["log_mel"][0]) == 40
    assert abs(g["mel_argmax_hz"] - 1000.0) <= 120.0
    assert got["ulaw"]["mel_ok"] and got["ulaw"]["n_mel_frames"] > 0
    for bad in ("odd", "nullb"):
        assert not got[bad]["mel_ok"]
        assert got[bad]["log_mel"] == [] and got[bad]["n_mel_frames"] == 0
        assert got[bad]["mel_argmax_hz"] == 0.0


def test_dct_matrix_orthonormal_and_validation():
    from top_secret_spark.kernel.spectral import dct_matrix

    d = dct_matrix(40, 40)
    np.testing.assert_allclose(d @ d.T, np.eye(40), atol=1e-12)
    assert dct_matrix(40, 13).shape == (13, 40)
    with pytest.raises(ValueError, match="n_out"):
        dct_matrix(40, 0)
    with pytest.raises(ValueError, match="n_out"):
        dct_matrix(40, 41)


@given(
    lens=st.lists(st.integers(min_value=0, max_value=2000),
                  min_size=1, max_size=6),
    seed=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=15, deadline=None)
def test_mfcc_batch_matches_scalar_over_random_layouts(lens, seed):
    from top_secret_spark.kernel.audio import synth_pcm
    from top_secret_spark.kernel.spectral import batch_mfcc, mfcc_features

    clips = [synth_pcm(seed + i, ln, 16000) if ln else
             np.empty(0, dtype=np.float32) for i, ln in enumerate(lens)]
    samples = (np.concatenate(clips) if any(lens)
               else np.empty(0, dtype=np.float32))
    mf, nf = batch_mfcc(samples, np.array(lens, dtype=np.int64), 16000)
    off = 0
    for i, c in enumerate(clips):
        ref = mfcc_features(c, 16000)
        assert nf[i] == len(ref)
        if len(ref):
            np.testing.assert_allclose(mf[off:off + nf[i]], ref, atol=2e-3)
        off += nf[i]
    assert off == len(mf)


def test_with_mfcc_operator_classes_and_poison(spark):
    """Planted classes separate in (c0, c1); matrix shape is
    (n_frames, n_mfcc); poison rows get mfcc_ok=false."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import with_mfcc
    from top_secret_spark.sources.clips import spectral_clips_df

    out = with_mfcc(spectral_clips_df(spark, 24, partitions=2))
    got = out.collect()
    assert all(r["n_mfcc_frames"] == 17 and len(r["mfcc"]) == 17
               and len(r["mfcc"][0]) == 13 for r in got)
    for r in got:
        if r["transcript"] == "tone":
            assert r["mfcc_c0_mean"] < -100.0
        elif r["transcript"] == "noise":
            assert r["mfcc_c0_mean"] > 0.0
        else:
            assert -100.0 < r["mfcc_c0_mean"] < -50.0
            assert r["mfcc_c1_mean"] > 10.0
    rows = [Row(clip_id="bad", bytes=bytearray(b"\x01"), sr_hz=16000,
                dur_ms=0, codec="pcm16", transcript="")]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    p = with_mfcc(spark.createDataFrame(rows, schema)).collect()[0]
    assert not p["mfcc_ok"] and p["mfcc"] == [] and p["n_mfcc_frames"] == 0


@given(
    lens=st.lists(st.integers(min_value=0, max_value=3000),
                  min_size=1, max_size=6),
    seed=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=15, deadline=None)
def test_rolloff_batch_matches_scalar_over_random_layouts(lens, seed):
    from top_secret_spark.kernel.audio import synth_pcm
    from top_secret_spark.kernel.spectral import (
        batch_rolloff,
        rolloff_features,
    )

    clips = [synth_pcm(seed + i, ln, 16000) if ln else
             np.empty(0, dtype=np.float32) for i, ln in enumerate(lens)]
    samples = (np.concatenate(clips) if any(lens)
               else np.empty(0, dtype=np.float32))
    r, nf = batch_rolloff(samples, np.array(lens, dtype=np.int64), 16000)
    for i, c in enumerate(clips):
        er, en = rolloff_features(c, 16000)
        assert nf[i] == en
        assert r[i] == pytest.approx(er, abs=1e-9)


def test_with_bandwidth_planted_classes_and_poison(spark):
    """Upsampled-from-8k clips flag; genuine wideband and honest
    native-8k do not; poison rows read bw_ok=false and never flag."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import with_bandwidth
    from top_secret_spark.sources.clips import bw_clips_df

    got = with_bandwidth(bw_clips_df(spark, 30, partitions=2)).collect()
    for r in got:
        assert r["bw_ok"] and r["bw_n_frames"] == 36
        assert r["upsampled_suspect"] == (r["transcript"] == "upsampled"), r
        frac = r["rolloff_hz"] / r["sr_hz"]
        if r["transcript"] == "upsampled":
            assert frac < 0.30
        else:
            assert frac > 0.40
    rows = [Row(clip_id="bad", bytes=bytearray(b"\x01"), sr_hz=16000,
                dur_ms=0, codec="pcm16", transcript="")]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    p = with_bandwidth(spark.createDataFrame(rows, schema)).collect()[0]
    assert not p["bw_ok"] and not p["upsampled_suspect"]
    assert p["rolloff_hz"] == 0.0 and p["bw_n_frames"] == 0


# --- spectral-subtraction denoise (q108) --------------------------------------


class TestDenoise:
    def test_alpha_zero_reconstructs_interior_exactly(self):
        import numpy as np

        from top_secret_spark.kernel.spectral import batch_denoise

        rng = np.random.default_rng(3)
        x = rng.uniform(-0.5, 0.5, 4000).astype(np.float32)
        out, nf = batch_denoise(
            x.copy(), np.array([4000]), 16000, alpha=0.0, beta=0.0
        )
        frame = 512
        assert int(nf[0]) > 0
        np.testing.assert_allclose(
            out[frame:-frame], x[frame:-frame], atol=1e-6
        )

    def test_edges_and_short_clips_pass_through(self):
        import numpy as np

        from top_secret_spark.kernel.spectral import batch_denoise

        short = np.full(100, 0.3, np.float32)   # < one frame
        long = np.full(2000, 0.3, np.float32)
        out, nf = batch_denoise(
            np.concatenate([short, long]), np.array([100, 2000]), 16000
        )
        assert int(nf[0]) == 0
        np.testing.assert_array_equal(out[:100], short)
        # OLA low-coverage head/tail of the long clip pass through
        np.testing.assert_allclose(out[100:110], 0.3, atol=1e-6)

    def test_noise_floor_drops_in_gaps(self):
        import numpy as np

        from top_secret_spark.kernel.spectral import batch_denoise

        sr, n = 16000, 9600
        t = np.arange(n) / sr
        burst = 0.4 * np.sin(2 * np.pi * 1000 * t)
        burst *= ((np.arange(n) // 640) % 2 == 0)
        rng = np.random.default_rng(11)
        noisy = np.clip(
            burst + 0.1 * rng.standard_normal(n), -1, 1
        ).astype(np.float32)
        out, _ = batch_denoise(noisy.copy(), np.array([n]), sr)
        gaps = ((np.arange(n) // 640) % 2 == 1)
        gaps[:640] = gaps[-640:] = False  # skip OLA pass-through edges

        def rms(v):
            return float(np.sqrt(np.mean(v.astype(np.float64) ** 2)))

        assert rms(out[gaps]) < 0.4 * rms(noisy[gaps])
        # speech bursts survive: overall level not gutted
        assert rms(out) > 0.5 * rms(noisy)


@given(
    lens=st.lists(st.integers(min_value=0, max_value=6000),
                  min_size=2, max_size=8),
    seed=st.integers(min_value=0, max_value=1000),
    chunk=st.sampled_from([1, 4097, 20000]),
    block=st.sampled_from([3, 1024]),
)
@settings(max_examples=20, deadline=None)
def test_denoise_chunking_bit_identical_over_random_layouts(
    lens, seed, chunk, block
):
    """Clip-aligned chunking and FFT block size are pure layout
    choices: any (chunk, block) combination must reproduce the
    unchunked full-batch output bit for bit (per-clip independence;
    each OLA sample receives the same <= 2 addends)."""
    import top_secret_spark.kernel.spectral as ks
    from top_secret_spark.kernel.audio import synth_pcm

    clips = [synth_pcm(seed + i, ln, 16000) if ln else
             np.empty(0, dtype=np.float32) for i, ln in enumerate(lens)]
    buf = (np.concatenate(clips) if any(lens)
           else np.empty(0, dtype=np.float32))
    lens_a = np.array(lens, dtype=np.int64)
    ref_out, ref_nf = ks.batch_denoise(buf.copy(), lens_a, 16000)
    old = ks.DENOISE_CHUNK_SAMPLES
    try:
        ks.DENOISE_CHUNK_SAMPLES = chunk
        got_out, got_nf = ks.batch_denoise(
            buf.copy(), lens_a, 16000, block_frames=block)
    finally:
        ks.DENOISE_CHUNK_SAMPLES = old
    np.testing.assert_array_equal(ref_out, got_out)
    np.testing.assert_array_equal(ref_nf, got_nf)


# --- pitch (f0) estimation ----------------------------------------------------


@given(
    lens=st.lists(st.integers(min_value=0, max_value=2000),
                  min_size=1, max_size=6),
    seed=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=15, deadline=None)
def test_pitch_batch_matches_scalar_over_random_layouts(lens, seed):
    from top_secret_spark.kernel.audio import synth_pcm
    from top_secret_spark.kernel.spectral import batch_pitch, pitch_features

    clips = [synth_pcm(seed + i, ln, 16000) if ln else
             np.empty(0, dtype=np.float32) for i, ln in enumerate(lens)]
    samples = (np.concatenate(clips) if any(lens)
               else np.empty(0, dtype=np.float32))
    f0, vr, nf = batch_pitch(samples, np.array(lens, dtype=np.int64), 16000)
    for i, c in enumerate(clips):
        sf0, svr, snf = pitch_features(c, 16000)
        assert nf[i] == snf
        np.testing.assert_allclose(f0[i], sf0, atol=1e-9)
        np.testing.assert_allclose(vr[i], svr, atol=1e-9)


def test_pitch_block_size_invariant():
    """Pooling must be block-size independent (the reduceat-per-block
    accumulator must not double-count a clip spanning blocks)."""
    from top_secret_spark.kernel.spectral import batch_pitch

    sr = 16000
    t = np.arange(sr, dtype=np.float64) / sr
    clips = [
        (0.3 * np.sin(2 * np.pi * f * t)).astype(np.float32)
        for f in (100.0, 150.0, 220.0)
    ]
    lens = np.array([len(c) for c in clips], dtype=np.int64)
    buf = np.concatenate(clips)
    ref = batch_pitch(buf, lens, sr)
    for bf in (1, 2, 7, 64):
        got = batch_pitch(buf, lens, sr, block_frames=bf)
        for a, b in zip(ref, got):
            np.testing.assert_allclose(a, b, atol=1e-9)


def test_pitch_reads_fundamental_not_partial():
    from top_secret_spark.kernel.spectral import pitch_features

    sr = 16000
    t = np.arange(sr, dtype=np.float64) / sr
    # 2nd partial twice as strong as the fundamental — autocorrelation
    # still peaks first at the 120 Hz period
    saw = (0.1 * np.sin(2 * np.pi * 120 * t)
           + 0.25 * np.sin(2 * np.pi * 240 * t))
    f0, vr, nf = pitch_features(saw, sr)
    assert abs(f0 - 120.0) <= 0.02 * 120.0
    assert vr >= 0.9


def test_pitch_unvoiced_and_degenerate_inputs():
    from top_secret_spark.kernel.spectral import batch_pitch, pitch_features

    sr = 16000
    rng = np.random.default_rng(7)
    f0, vr, nf = pitch_features(rng.standard_normal(sr) * 0.3, sr)
    assert f0 == 0.0 and vr == 0.0 and nf > 0
    assert pitch_features(np.zeros(sr, dtype=np.float32), sr) == (0.0, 0.0, 61)
    assert pitch_features(np.zeros(10, dtype=np.float32), sr) == (0.0, 0.0, 0)
    # empty batch
    z = batch_pitch(np.empty(0), np.empty(0, dtype=np.int64), sr)
    assert all(len(a) == 0 for a in z)


def test_pitch_lag_window_validation():
    from top_secret_spark.kernel.spectral import pitch_features

    with pytest.raises(ValueError, match="lag window"):
        pitch_features(np.zeros(16000), 16000, frame_ms=2, f_min=60.0)


def test_with_pitch_operator_planted_classes_and_poison(spark):
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import with_pitch
    from top_secret_spark.sources.clips import PITCH_F0, pitch_clips_df

    out = with_pitch(pitch_clips_df(spark, 24, partitions=2))
    assert "bytes" not in out.columns
    for r in out.collect():
        assert r["pitch_ok"]
        if r["transcript"] == "noise":
            assert r["f0_hz"] == 0.0 and r["voiced_ratio"] < 0.2
        else:
            planted = PITCH_F0[r["transcript"]]
            assert abs(r["f0_hz"] - planted) <= 0.02 * planted
            assert r["voiced_ratio"] >= 0.9
    rows = [Row(clip_id="bad", bytes=bytearray(b"\x01"), sr_hz=16000,
                dur_ms=0, codec="pcm16", transcript=""),
            Row(clip_id="nullsr", bytes=bytearray(b"\x00\x00" * 100),
                sr_hz=None, dur_ms=0, codec="pcm16", transcript="")]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    bad = with_pitch(spark.createDataFrame(rows, schema))
    for r in bad.collect():
        assert not r["pitch_ok"] and r["f0_hz"] == 0.0


# --- reverberation (RT60 proxy) -------------------------------------------------


def _reverb_clip(tau, seed, dur_s=3.0, sr=16000):
    rng = np.random.default_rng(seed)
    n = int(sr * dur_s)
    x = np.zeros(n)
    spacing = max(0.3, 9.0 * tau)
    for b in range(max(2, int(dur_s / spacing))):
        at = int(b * spacing * sr)
        tail_n = min(int(7.0 * tau * sr), n - at)
        if tail_n <= 0:
            break
        t = np.arange(tail_n) / sr
        x[at:at + tail_n] += 0.3 * rng.standard_normal(tail_n) * np.exp(-t / tau)
    return np.clip(x, -1, 1).astype(np.float32)


def test_reverb_closed_form_accuracy():
    """rt60 must track 6.908*tau (60 dB energy drop for an amplitude
    tail exp(-t/tau)) across the gate-relevant range."""
    from top_secret_spark.kernel.spectral import reverb_features

    for tau in (0.05, 0.1, 0.2):
        rt, pairs, _ = reverb_features(_reverb_clip(tau, seed=11), 16000)
        assert pairs >= 6
        assert abs(rt - 6.908 * tau) <= 0.25 * 6.908 * tau, (tau, rt)


def test_reverb_unmeasurable_classes():
    from top_secret_spark.kernel.spectral import reverb_features

    sr = 16000
    for seed in range(5):
        rng = np.random.default_rng(seed)
        rt, pairs, nf = reverb_features(rng.standard_normal(2 * sr) * 0.3, sr)
        assert rt == 0.0 and pairs < 6, (seed, rt, pairs)
    t = np.arange(sr) / sr
    assert reverb_features(0.3 * np.sin(2 * np.pi * 220 * t), sr)[0] == 0.0
    assert reverb_features(np.zeros(sr, dtype=np.float32), sr)[:2] == (0.0, 0)
    assert reverb_features(np.zeros(10, dtype=np.float32), sr) == (0.0, 0, 0)


def test_reverb_batch_matches_scalar():
    from top_secret_spark.kernel.spectral import batch_reverb, reverb_features

    sr = 16000
    clips = [
        _reverb_clip(0.05, seed=1),
        np.random.default_rng(2).standard_normal(sr).astype(np.float32) * 0.3,
        _reverb_clip(0.2, seed=3),
        np.empty(0, dtype=np.float32),
        np.zeros(100, dtype=np.float32),
    ]
    lens = np.array([len(c) for c in clips], dtype=np.int64)
    rt, pairs, nf = batch_reverb(np.concatenate(clips), lens, sr)
    for i, c in enumerate(clips):
        s = reverb_features(c, sr)
        np.testing.assert_allclose(rt[i], s[0], atol=1e-9)
        assert pairs[i] == s[1] and nf[i] == s[2]


def test_with_reverb_operator_and_poison(spark):
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import (
        reverb_drop_reason_col,
        with_reverb,
    )
    from top_secret_spark.sources.clips import reverb_clips_df

    out = with_reverb(reverb_clips_df(spark, 16, partitions=2)).withColumn(
        "reason", reverb_drop_reason_col(max_rt60_s=1.0)
    )
    assert "bytes" not in out.columns
    for r in out.collect():
        assert r["reverb_ok"]
        if r["transcript"] == "steady":
            assert r["n_decay_pairs"] < 6 and r["reason"] is None
        elif r["transcript"] == "reverberant":
            assert r["reason"] == "reverb"
        else:
            assert r["reason"] is None
    rows = [Row(clip_id="bad", bytes=bytearray(b"\x01"), sr_hz=16000,
                dur_ms=0, codec="pcm16", transcript="")]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    bad = with_reverb(spark.createDataFrame(rows, schema))
    assert all(not r["reverb_ok"] for r in bad.collect())


def test_voice_health_equals_individual_operators(spark):
    """The fused stage must emit byte-identical statistics to the three
    individual operators (same kernels, same defaults) — fusion is an
    execution-shape change, never a semantics change."""
    from top_secret_spark.operators.audio import (
        with_pitch,
        with_reverb,
        with_snr_estimate,
        with_voice_health,
    )
    from top_secret_spark.sources.clips import (
        pitch_clips_df,
        reverb_clips_df,
    )

    clips = pitch_clips_df(spark, 12, partitions=2).unionByName(
        reverb_clips_df(spark, 12, partitions=2)
    )
    fused = {r["clip_id"]: r for r in with_voice_health(clips).collect()}
    for op, cols in (
        (with_pitch, ["pitch_ok", "f0_hz", "voiced_ratio", "n_pitch_frames"]),
        (with_reverb, ["reverb_ok", "rt60_s", "n_decay_pairs",
                       "n_reverb_frames"]),
        (with_snr_estimate, ["snr_ok", "snr_est_db", "snr_n_frames"]),
    ):
        for r in op(clips).collect():
            f = fused[r["clip_id"]]
            for c in cols:
                assert f[c] == r[c], (r["clip_id"], c, f[c], r[c])


def test_voice_health_single_python_boundary(spark):
    """One fused stage = ONE Python evaluation node in the plan (the
    composed form has three)."""
    from top_secret_spark.operators.audio import (
        with_pitch,
        with_reverb,
        with_snr_estimate,
        with_voice_health,
    )
    from top_secret_spark.sources.clips import pitch_clips_df

    clips = pitch_clips_df(spark, 8, partitions=2)
    fused_plan = (
        with_voice_health(clips)._jdf.queryExecution().executedPlan().toString()
    )
    assert fused_plan.count("MapInPandas") == 1 + 1  # fixture gen + fused
    composed = with_snr_estimate(
        with_reverb(with_pitch(clips, keep_bytes=True), keep_bytes=True)
    )
    composed_plan = (
        composed._jdf.queryExecution().executedPlan().toString()
    )
    assert composed_plan.count("MapInPandas") == 1 + 3


def test_speech_curation_pipeline_two_python_boundaries(spark):
    """The q123 composition must stay at exactly two Python stages
    (codec verify + fused voice health) beyond the three fixture
    generators — fusing health into one boundary is the point."""
    from pyspark.sql import functions as F

    from top_secret_spark.operators.audio import (
        codec_mismatch_reason_col,
        reverb_drop_reason_col,
        with_codec_verify,
        with_voice_health,
    )
    from top_secret_spark.sources.clips import (
        codec_lie_clips_df,
        pitch_clips_df,
        reverb_clips_df,
    )

    clips = (
        codec_lie_clips_df(spark, 8, partitions=2)
        .unionByName(pitch_clips_df(spark, 8, partitions=2))
        .unionByName(reverb_clips_df(spark, 8, partitions=2))
    )
    out = with_voice_health(with_codec_verify(clips)).withColumn(
        "reason",
        F.coalesce(
            codec_mismatch_reason_col(),
            reverb_drop_reason_col(max_rt60_s=1.0),
        ),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 3 + 2  # 3 fixture gens + 2 stages
    assert "Exchange" not in plan  # map-only until a caller aggregates
