"""Audio codec kernel + Spark decode operator tests, including the
decoded-PCM passthrough invariant: allclose at SNR >= 30 dB
(BASELINE.json input_hint)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from top_secret_spark.kernel.audio import (
    alaw_decode,
    alaw_encode,
    decode,
    encode,
    float_to_pcm16,
    pcm16_to_float,
    snr_db,
    synth_pcm,
    ulaw_decode,
    ulaw_encode,
)


@pytest.fixture(scope="module")
def pcm():
    return synth_pcm(seed=123, n_samples=16000, sr_hz=16000)


def test_pcm16_roundtrip_snr(pcm):
    assert snr_db(pcm, pcm16_to_float(float_to_pcm16(pcm))) > 80


def test_ulaw_roundtrip_snr(pcm):
    assert snr_db(pcm, ulaw_decode(ulaw_encode(pcm))) >= 30


def test_alaw_roundtrip_snr(pcm):
    assert snr_db(pcm, alaw_decode(alaw_encode(pcm))) >= 30


@pytest.mark.parametrize("codec", ["pcm16", "ulaw", "alaw"])
def test_encode_decode_bytes_roundtrip(codec, pcm):
    decoded = decode(encode(pcm, codec), codec)
    assert len(decoded) == len(pcm)
    assert snr_db(pcm, decoded) >= 30


def test_unknown_codec_raises():
    with pytest.raises(NotImplementedError, match="external decoder"):
        decode(b"\x00\x01", "opus")
    with pytest.raises(NotImplementedError, match="external decoder"):
        encode(np.zeros(4, np.float32), "mp3")


def test_synth_deterministic():
    a = synth_pcm(7, 1000, 8000)
    b = synth_pcm(7, 1000, 8000)
    np.testing.assert_array_equal(a, b)
    c = synth_pcm(8, 1000, 8000)
    assert not np.array_equal(a, c)


# --- Spark decode operator + per-row passthrough invariant --------------------


def test_spark_decode_snr_passthrough(spark):
    """Generate clips via Spark, decode via the operator, regenerate the
    reference PCM from the row seed (pure function), assert SNR >= 30 dB
    and transcript equality clip-by-clip."""
    from top_secret_spark.operators.audio import decoded_pcm_df, with_audio_features
    from top_secret_spark.sources.clips import SEED, clips_df, rows_for_range

    n = 60
    df = clips_df(spark, n, with_audio=True, partitions=4).cache()
    decoded = {r["clip_id"]: np.array(r["pcm"]) for r in decoded_pcm_df(df).collect()}
    expected = rows_for_range(0, n, with_audio=False)

    assert len(decoded) == n
    for r in range(n):
        clip_id = f"clip-{r:010d}"
        row = expected.iloc[r]
        ref = synth_pcm(SEED * 7_000_003 + r,
                        int(row["sr_hz"] * row["dur_ms"] / 1000), int(row["sr_hz"]))
        got = decoded[clip_id]
        assert len(got) == len(ref)
        assert snr_db(ref, got) >= 30.0

    # transcript equality: Spark-generated vs pure-function reference
    spark_rows = {r["clip_id"]: r["transcript"]
                  for r in df.select("clip_id", "transcript").collect()}
    for r in range(n):
        assert spark_rows[f"clip-{r:010d}"] == expected.iloc[r]["transcript"]

    feats = with_audio_features(df).select("clip_id", "decode_ok", "rms",
                                           "dur_ms_measured", "dur_ms").collect()
    for row in feats:
        assert row["decode_ok"] is True
        assert row["rms"] > 0.1  # synth signal is ~0.3 RMS
        assert abs(row["dur_ms_measured"] - row["dur_ms"]) <= 1
    df.unpersist()


def test_resample_kernel_preserves_signal():
    from top_secret_spark.kernel.audio import resample

    sr_a, sr_b = 8000, 16000
    t = np.arange(8000) / sr_a
    sig = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    up = resample(sig, sr_a, sr_b)
    assert len(up) == 16000
    # upsample then downsample recovers the original well above 30 dB
    back = resample(up, sr_b, sr_a)
    assert snr_db(sig[10:-10], back[10:-10]) >= 30


def test_frame_features_shape_and_level():
    from top_secret_spark.kernel.audio import frame_features

    pcm = synth_pcm(5, 16000, 16000)  # 1 s
    frames = frame_features(pcm, 16000, frame_ms=25, hop_ms=10)
    assert len(frames) == 1 + (16000 - 400) // 160
    assert (frames > -40).all()  # synth signal ~0.3 RMS ≈ -10 dB
    assert frame_features(np.empty(0, np.float32), 16000).size == 0


def test_spark_resample_and_frames(spark):
    from top_secret_spark.operators.audio import frame_energy_df, resampled_clips
    from top_secret_spark.sources.clips import clips_df

    clips = clips_df(spark, 30, with_audio=True, partitions=2).cache()
    rs = resampled_clips(clips, target_sr=16000)
    rows = rs.select("clip_id", "sr_hz", "codec").collect()
    assert all(r["sr_hz"] == 16000 and r["codec"] == "pcm16" for r in rows)
    assert len(rows) == 30

    frames = {r["clip_id"]: r["frame_db"] for r in frame_energy_df(clips).collect()}
    durs = {r["clip_id"]: r["dur_ms"] for r in clips.collect()}
    for cid, fdb in frames.items():
        if durs[cid] >= 50:
            assert len(fdb) > 0
            assert all(v > -60 for v in fdb)
    clips.unpersist()


def test_segmented_features_match_per_clip():
    """The concatenated batch-decode + segmented-feature pass must agree
    with the per-clip reference path (mixed lengths incl. empty/1-sample
    clips, all three codecs)."""
    import numpy as np

    from top_secret_spark.kernel.audio import (
        audio_features,
        batch_decode,
        decode,
        encode,
        segmented_features,
        synth_pcm,
    )

    for codec in ("pcm16", "ulaw", "alaw"):
        clips = [
            synth_pcm(7, 2400, 8000),
            np.zeros(0, dtype=np.float32),          # empty clip
            synth_pcm(11, 1, 8000),                  # single sample
            synth_pcm(13, 5000, 16000),
            synth_pcm(17, 333, 8000),
        ]
        srs = np.array([8000, 8000, 8000, 16000, 8000], dtype=np.float64)
        datas = [encode(c, codec) for c in clips]
        samples, lengths = batch_decode(datas, codec)
        r, z, d = segmented_features(samples, lengths, srs)
        for i, data in enumerate(datas):
            pcm = decode(data, codec)
            if len(pcm) >= 2:
                ref = audio_features(pcm, int(srs[i]))
                assert abs(r[i] - ref["rms"]) < 1e-9, (codec, i)
                assert abs(z[i] - ref["zcr"]) < 1e-12, (codec, i)
                assert d[i] == ref["dur_ms_measured"], (codec, i)
            else:
                # per-clip path yields nan zcr for <2 samples (mean of an
                # empty diff); segmented defines degenerate clips as
                # rms=|x| or 0, zcr=0 — saner, and no real clip is that
                # short
                exp_rms = float(abs(pcm[0])) if len(pcm) else 0.0
                assert abs(r[i] - exp_rms) < 1e-9, (codec, i)
                assert z[i] == 0.0, (codec, i)
                assert d[i] == round(1000.0 * len(pcm) / srs[i]), (codec, i)


def test_segmented_features_trailing_empty_clip():
    """A zero-length clip at the END of the batch: its offset equals the
    total sample count, which used to index past the crossing csum
    (ADVICE r2).  All three codecs, empty-only batch included."""
    import numpy as np

    from top_secret_spark.kernel.audio import (
        batch_decode,
        encode,
        segmented_features,
        synth_pcm,
    )

    for codec in ("pcm16", "ulaw", "alaw"):
        clips = [synth_pcm(7, 1200, 8000), np.zeros(0, dtype=np.float32)]
        datas = [encode(c, codec) for c in clips]
        samples, lengths = batch_decode(datas, codec)
        r, z, d = segmented_features(
            samples, lengths, np.array([8000.0, 8000.0])
        )
        assert r[1] == 0.0 and z[1] == 0.0 and d[1] == 0
        assert r[0] > 0.0
    # batch of ONLY empty clips
    samples, lengths = batch_decode([b"", b""], "pcm16")
    r, z, d = segmented_features(samples, lengths, np.array([8000.0, 8000.0]))
    assert list(r) == [0.0, 0.0] and list(z) == [0.0, 0.0]


def test_batch_decode_pcm16_rejects_odd_length_payload():
    """One odd-length pcm16 payload shifts every later clip by a byte in
    a concatenated decode; the batch path must raise like the per-clip
    path did — even when the odd lengths sum to an even total."""
    import pytest

    from top_secret_spark.kernel.audio import batch_decode

    with pytest.raises(ValueError, match="odd-length"):
        batch_decode([b"\x01", b"\x02\x03\x04"], "pcm16")
    with pytest.raises(ValueError, match="odd-length"):
        batch_decode([b"\x01\x02\x03"], "pcm16")


def test_batch_decode_rejects_unknown_codec():
    import pytest

    from top_secret_spark.kernel.audio import batch_decode

    with pytest.raises(NotImplementedError, match="mp3"):
        batch_decode([b"\x00\x01"], "mp3")


def test_segmented_ratios_match_per_clip():
    """Vectorized silence/clipping ratios must agree with the scalar
    twin across codecs, mixed lengths, empty and trailing-empty clips —
    including an all-zero clip round-tripped through G.711 companding
    (the decoded 'zero' is nonzero but must stay under SILENCE_EPS)."""
    from top_secret_spark.kernel.audio import (
        batch_decode,
        decode,
        gate_ratios,
        segmented_ratios,
    )

    for codec in ("pcm16", "ulaw", "alaw"):
        clips = [
            synth_pcm(7, 2400, 8000),
            np.zeros(1600, dtype=np.float32),                 # silent
            np.zeros(0, dtype=np.float32),                    # empty
            np.clip(10.0 * synth_pcm(13, 800, 8000), -1, 1),  # clipped
            synth_pcm(17, 333, 8000),
            np.zeros(0, dtype=np.float32),                    # trailing empty
        ]
        datas = [encode(np.asarray(c, dtype=np.float32), codec) for c in clips]
        samples, lengths = batch_decode(datas, codec)
        sil, clp = segmented_ratios(samples, lengths)
        for i, data in enumerate(datas):
            ref = gate_ratios(decode(data, codec))
            assert abs(sil[i] - ref["silence_ratio"]) < 1e-12, (codec, i)
            assert abs(clp[i] - ref["clipping_ratio"]) < 1e-12, (codec, i)
        assert sil[1] == 1.0, codec       # companded zeros still silent
        assert clp[3] > 0.5, codec        # overdriven clip detected
        assert sil[2] == 1.0 and clp[2] == 0.0  # empty = silent by definition


def test_audio_keep_drop_gate(spark):
    """End-to-end audio-quality gate over planted defects: each row's
    drop reason must equal the planted rule (r % 6), and the gate must
    be pure Catalyst above one Arrow decode boundary."""
    from top_secret_spark.operators.audio import with_audio_keep_drop
    from top_secret_spark.sources.clips import gate_clips_df

    gated = with_audio_keep_drop(gate_clips_df(spark, 18, partitions=2))
    rows = {r["clip_id"]: r for r in gated.collect()}
    expected = {
        0: "silent", 1: "clipped", 2: "too_short_audio",
        3: "decode_error", 4: None, 5: None,
    }
    assert len(rows) == 18
    for r_idx in range(18):
        row = rows[f"gate-{r_idx:010d}"]
        exp = expected[r_idx % 6]
        assert row["audio_drop_reason"] == exp, (r_idx, dict(row.asDict()))
        assert row["audio_keep"] == (exp is None)
        if exp is None:
            assert row["silence_ratio"] < 0.5
            assert row["clipping_ratio"] == 0.0
            assert row["dur_ms_measured"] == 1000
    # bytes must not be carried past the decode boundary
    assert "bytes" not in gated.columns


def test_batch_pair_snr_matches_scalar():
    from top_secret_spark.kernel.audio import batch_pair_snr

    x1 = synth_pcm(11, 3200, 8000)
    x2 = synth_pcm(12, 3200, 8000)
    da = [encode(x1, "pcm16"), encode(x1, "ulaw"), encode(x1, "pcm16")]
    db = [encode(x1, "ulaw"), encode(x1, "alaw"), encode(x2, "pcm16")]
    ca, cb = ["pcm16", "ulaw", "pcm16"], ["ulaw", "alaw", "pcm16"]
    got = batch_pair_snr(da, db, ca, cb)
    for i in range(3):
        exp = snr_db(decode(da[i], ca[i]), decode(db[i], cb[i]))
        assert got[i] == pytest.approx(exp, abs=1e-9), i


def test_batch_pair_snr_guards():
    from top_secret_spark.kernel.audio import batch_pair_snr

    x = synth_pcm(13, 1600, 8000)
    # decoded-length mismatch → -inf, not a crash or a wrong score
    s = batch_pair_snr(
        [encode(x, "pcm16")], [encode(x[:800], "pcm16")], ["pcm16"], ["pcm16"]
    )
    assert s[0] == float("-inf")
    # empty payloads → 0 dB (no signal, no pair)
    s = batch_pair_snr([b"", b""], [b"", b""], ["pcm16", "ulaw"], ["pcm16", "ulaw"])
    assert list(s) == [0.0, 0.0]
    # identical decodes → astronomically high
    s = batch_pair_snr([encode(x, "pcm16")], [encode(x, "pcm16")], ["pcm16"], ["pcm16"])
    assert s[0] > 200.0


def test_audio_near_duplicates_planted_families(spark):
    from top_secret_spark.operators.audio import (
        audio_near_duplicates,
        audio_oversize_buckets,
    )
    from top_secret_spark.sources.clips import neardup_clips_df

    clips = neardup_clips_df(spark, 30, partitions=2)  # 10 families
    pairs = audio_near_duplicates(clips).collect()
    fam = lambda cid: int(cid.split("-")[1]) // 3
    assert len(pairs) == 30  # 3 per family, nothing else
    assert all(fam(r["a"]) == fam(r["b"]) for r in pairs)
    assert all(r["snr_db"] >= 30.0 for r in pairs)
    # families sharing (sr, duration) DID produce cross candidates; the
    # verify stage must be what rejected them — check a cross pair
    # scores ~0 dB through the kernel
    from top_secret_spark.kernel.audio import batch_pair_snr
    from top_secret_spark.sources.clips import neardup_rows_for_range

    rows = neardup_rows_for_range(0, 30)
    same_dur = [
        (i, j)
        for i in range(30)
        for j in range(i + 1, 30)
        if rows["dur_ms"][i] == rows["dur_ms"][j]
        and i // 3 != j // 3
    ]
    i, j = same_dur[0]
    s = batch_pair_snr(
        [rows["bytes"][i]], [rows["bytes"][j]],
        [rows["codec"][i]], [rows["codec"][j]],
    )
    assert s[0] < 10.0
    # cap accounting: a tiny max_bucket drops pairs LOUDLY, and the
    # accounting twin reports the dropped buckets
    assert audio_oversize_buckets(clips, max_bucket=1).count() > 0
    capped = audio_near_duplicates(clips, max_bucket=1).count()
    assert capped < 30


def test_rate_consistency_gate(spark):
    from top_secret_spark.operators.audio import (
        with_audio_features,
        with_rate_consistency,
    )
    from top_secret_spark.sources.clips import RATE_TRANSCRIPTS, rate_clips_df

    rated = with_rate_consistency(
        with_audio_features(rate_clips_df(spark, 16, partitions=2))
    )
    rows = {r["clip_id"]: r for r in rated.collect()}
    expected = {0: None, 1: "rate_too_fast", 2: "rate_too_slow", 3: "empty_transcript"}
    for r_idx in range(16):
        row = rows[f"rate-{r_idx:08d}"]
        kind = r_idx % 4
        assert row["rate_drop_reason"] == expected[kind], (r_idx, row)
        assert row["chars_per_sec"] == float(
            len(RATE_TRANSCRIPTS[kind].strip())
        )
    # a decode_error row (dur 0) must stay NULL — the audio gate owns it
    from pyspark.sql import functions as F

    broken = rated.limit(1).withColumn(
        "dur_ms_measured", F.lit(0)
    )
    out = with_rate_consistency(
        broken.drop("chars_per_sec", "rate_drop_reason")
    ).collect()[0]
    assert out["chars_per_sec"] is None
    assert out["rate_drop_reason"] is None


def test_with_audio_features_poison_pcm16_row(spark):
    """An odd-length pcm16 payload (truncated upload) must mark THAT
    clip decode_ok=false — not raise inside mapInPandas and kill the
    stage with every other clip in the Arrow batch."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import with_audio_keep_drop

    good = synth_pcm(41, 3200, 8000)  # 400 ms — above the gate's min_dur_ms
    rows = [
        Row(clip_id="ok-1", bytes=bytearray(encode(good, "pcm16")),
            sr_hz=8000, dur_ms=400, codec="pcm16", transcript="a"),
        Row(clip_id="poison", bytes=bytearray(encode(good, "pcm16")[:-1]),
            sr_hz=8000, dur_ms=400, codec="pcm16", transcript="b"),
        Row(clip_id="ok-2", bytes=bytearray(encode(good, "ulaw")),
            sr_hz=8000, dur_ms=400, codec="ulaw", transcript="c"),
    ]
    out = {
        r["clip_id"]: r
        for r in with_audio_keep_drop(
            spark.createDataFrame(rows).repartition(1)
        ).collect()
    }
    assert out["poison"]["decode_ok"] is False
    assert out["poison"]["audio_drop_reason"] == "decode_error"
    for cid in ("ok-1", "ok-2"):
        assert out[cid]["decode_ok"] is True
        assert out[cid]["dur_ms_measured"] == 400
        assert out[cid]["audio_keep"] is True


def test_batch_pair_snr_poison_and_mismatch_mixed():
    """Odd-length pcm16 payloads score -inf (undecodable ≠ near-dup,
    and must not raise for the whole codec group); a length-mismatched
    pair mixed into the same group leaves the survivors' scores exactly
    equal to the scalar kernel's (the mismatch path slices segments out
    instead of re-decoding)."""
    from top_secret_spark.kernel.audio import batch_pair_snr

    x1 = synth_pcm(21, 1600, 8000)
    x2 = synth_pcm(22, 2400, 8000)
    da = [
        encode(x1, "pcm16"),
        encode(x1, "pcm16")[:-1],      # odd-length poison
        encode(x2, "pcm16"),
        encode(x1, "pcm16"),
    ]
    db = [
        encode(x1, "ulaw"),
        encode(x1, "ulaw"),
        encode(x2[:800], "ulaw"),       # decoded-length mismatch
        encode(x2, "ulaw"),             # mismatch (different lengths)
    ]
    ca, cb = ["pcm16"] * 4, ["ulaw"] * 4
    got = batch_pair_snr(da, db, ca, cb)
    assert got[1] == float("-inf")
    assert got[2] == float("-inf")
    assert got[3] == float("-inf")
    exp = snr_db(decode(da[0], "pcm16"), decode(db[0], "ulaw"))
    assert got[0] == pytest.approx(exp, abs=1e-9)


@pytest.mark.parametrize("scale", [1, 16])
def test_batch_resample_matches_per_clip(scale):
    """batch_resample must be bit-identical to the scalar resample for
    every clip — mixed rates, identity rate, empty, single-sample, and
    a trailing empty clip (the segment-layout edge that bit ADVICE r2).
    scale=1 keeps mean length under BATCH_RESAMPLE_SHORT_CLIP (gather
    path); scale=16 pushes it over (per-clip interp path) — BOTH
    regimes must match the scalar kernel exactly."""
    from top_secret_spark.kernel.audio import batch_resample, resample

    srs = [8000, 16000, 44100, 16000, 22050, 8000, 16000]
    lengths = [100 * scale, 0, 441, 1, 137 * scale, 3, 0]
    clips = [
        synth_pcm(100 + i, n, sr) if n else np.empty(0, dtype=np.float32)
        for i, (n, sr) in enumerate(zip(lengths, srs))
    ]
    samples = np.concatenate(clips) if clips else np.empty(0, np.float32)
    out, out_lengths = batch_resample(
        samples, np.array(lengths), np.array(srs), 16000
    )
    exp = [resample(c, sr, 16000) for c, sr in zip(clips, srs)]
    assert out_lengths.tolist() == [len(e) for e in exp]
    bounds = np.cumsum(out_lengths)
    start = 0
    for k, e in enumerate(exp):
        got = out[start:bounds[k]]
        assert np.array_equal(got, e), f"clip {k} diverged"
        start = int(bounds[k])
    # empty batch
    o, ol = batch_resample(np.empty(0, np.float32), np.array([], dtype=np.int64),
                           np.array([], dtype=np.int64), 16000)
    assert len(o) == 0 and len(ol) == 0


def test_resampled_clips_matches_per_clip_reference(spark):
    """The batched resampled_clips operator must emit byte-identical
    payloads to the scalar decode→resample→encode chain, across mixed
    codecs and rates in one partition, with metadata rewritten."""
    from pyspark.sql import Row

    from top_secret_spark.kernel.audio import decode, resample
    from top_secret_spark.operators.audio import resampled_clips

    specs = [("pcm16", 16000, 777), ("ulaw", 8000, 1201),
             ("pcm16", 44100, 4410), ("alaw", 8000, 1), ("pcm16", 16000, 0)]
    rows, exp = [], {}
    for i, (codec, sr, n) in enumerate(specs):
        pcm = (synth_pcm(500 + i, n, sr) if n
               else np.empty(0, dtype=np.float32))
        data = encode(pcm, codec)
        cid = f"c{i}"
        rows.append(Row(clip_id=cid, bytes=bytearray(data), sr_hz=sr,
                        dur_ms=int(1000 * n / sr) if n else 0, codec=codec,
                        transcript=f"t{i}"))
        exp[cid] = encode(resample(decode(data, codec), sr, 16000), "pcm16")
    got = {r["clip_id"]: r for r in
           resampled_clips(spark.createDataFrame(rows).repartition(1)).collect()}
    for cid, want in exp.items():
        assert bytes(got[cid]["bytes"]) == want, cid
        assert got[cid]["sr_hz"] == 16000
        assert got[cid]["codec"] == "pcm16"
        assert got[cid]["transcript"].startswith("t")


def test_resampled_clips_raises_on_poison_payload(spark):
    """resampled_clips is a transform (output must cover every row), so
    an undecodable payload raises loudly instead of passing through."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import resampled_clips
    from top_secret_spark.kernel.audio import synth_pcm as _synth

    good = encode(_synth(9, 800, 8000), "pcm16")
    df = spark.createDataFrame([
        Row(clip_id="a", bytes=bytearray(good), sr_hz=8000, dur_ms=100,
            codec="pcm16", transcript="x"),
        Row(clip_id="b", bytes=bytearray(good[:-1]), sr_hz=8000, dur_ms=100,
            codec="pcm16", transcript="y"),
    ]).repartition(1)
    with pytest.raises(Exception, match="odd-length|cannot align"):
        resampled_clips(df).collect()


def test_chunked_clips_matches_python_slicing(spark):
    """chunked_clips must equal per-clip byte slicing at sample
    boundaries: full coverage (concat of chunks == original payload),
    bounded duration, transcript on chunk 0 only, unknown codec and
    empty payload pass through as a single chunk."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import chunked_clips

    specs = [
        ("pcm16", 16000, 40000),   # 2.5 s -> 3 chunks at 1 s
        ("ulaw", 8000, 8000),      # exactly 1 s -> 1 chunk
        ("alaw", 8000, 8001),      # 1 s + 1 sample -> 2 chunks
        ("pcm16", 16000, 0),       # empty -> 1 empty chunk
        ("opus", 48000, 1000),     # unsupported -> 1 passthrough chunk
    ]
    rows = []
    for i, (codec, sr, n) in enumerate(specs):
        if codec in ("pcm16", "ulaw", "alaw") and n:
            data = encode(synth_pcm(42 + i, n, sr), codec)
        elif n:
            data = bytes(range(256)) * 4  # opaque fake payload
        else:
            data = b""
        rows.append(Row(clip_id=f"c{i}", bytes=bytearray(data), sr_hz=sr,
                        dur_ms=int(1000 * n / sr) if n else 0, codec=codec,
                        transcript=f"t{i}"))
    out = chunked_clips(
        spark.createDataFrame(rows), max_dur_ms=1000
    ).collect()
    by_clip = {}
    for r in out:
        by_clip.setdefault(r["clip_id"], []).append(r)
    for i, (codec, sr, n) in enumerate(specs):
        chunks = sorted(by_clip[f"c{i}"], key=lambda r: r["chunk_idx"])
        orig = bytes(rows[i]["bytes"])
        if codec in ("pcm16", "ulaw", "alaw"):
            bps = 2 if codec == "pcm16" else 1
            cs = sr * bps  # 1000 ms of bytes
            exp_n = max(1, -(-len(orig) // cs))
            assert len(chunks) == exp_n, (codec, n)
            assert b"".join(bytes(c["bytes"]) for c in chunks) == orig
            for c in chunks:
                assert len(bytes(c["bytes"])) <= cs
                assert c["dur_ms"] <= 1000
        else:
            assert len(chunks) == 1
            assert bytes(chunks[0]["bytes"]) == orig
            assert chunks[0]["dur_ms"] == rows[i]["dur_ms"]
        assert chunks[0]["transcript"] == f"t{i}"
        assert all(c["transcript"] is None for c in chunks[1:])
        assert chunks[0]["chunk_id"] == f"c{i}#0000"


def test_chunked_clips_null_payload_passes_through(spark):
    """A NULL bytes payload must emit ONE passthrough chunk (null bytes,
    original dur_ms) — never silently drop the row (explode over a NULL
    sequence would)."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import chunked_clips

    df = spark.createDataFrame(
        [Row(clip_id="n", bytes=None, sr_hz=8000, dur_ms=123,
             codec="pcm16", transcript="t"),
         Row(clip_id="ok", bytes=bytearray(b"\x00\x01" * 8000), sr_hz=8000,
             dur_ms=1000, codec="pcm16", transcript="u")],
        schema="clip_id string, bytes binary, sr_hz int, dur_ms int, "
               "codec string, transcript string",
    )
    out = chunked_clips(df, max_dur_ms=500).collect()
    by = {}
    for r in out:
        by.setdefault(r["clip_id"], []).append(r)
    assert len(by["n"]) == 1
    assert by["n"][0]["bytes"] is None
    assert by["n"][0]["dur_ms"] == 123
    assert by["n"][0]["transcript"] == "t"
    assert len(by["ok"]) == 2


def test_chunked_clips_plan_is_pure_catalyst(spark):
    """The chunker must stay JVM-side: no Python eval and no Exchange
    anywhere in the physical plan — at 10^12 rows it runs at scan
    speed or it is the wrong design."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import chunked_clips

    df = spark.createDataFrame(
        [Row(clip_id="a", bytes=bytearray(b"\x00\x01" * 100), sr_hz=8000,
             dur_ms=12, codec="pcm16", transcript="x")]
    )
    plan = chunked_clips(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode


def test_batch_normalize_gain_semantics():
    """Per-clip gain to target RMS with cap; silent and empty clips are
    identity; output clipped to [-1, 1]; trailing empty clip safe."""
    from top_secret_spark.kernel.audio import batch_normalize_gain

    loud = synth_pcm(3, 1000, 8000)
    quiet = (synth_pcm(4, 700, 8000) * 0.01).astype(np.float32)
    tiny = np.full(50, 1e-9, dtype=np.float32)   # gain would be huge -> cap
    silent = np.zeros(80, dtype=np.float32)
    empty = np.empty(0, dtype=np.float32)
    clips = [loud, quiet, tiny, silent, empty]
    samples = np.concatenate(clips)
    lengths = np.array([len(c) for c in clips])
    out = batch_normalize_gain(samples, lengths, target_rms=0.1, max_gain=100.0)
    bounds = np.cumsum(lengths)
    got = [out[(bounds[k] - lengths[k]):bounds[k]] for k in range(len(clips))]
    for k in (0, 1):
        rms = float(np.sqrt(np.mean(got[k].astype(np.float64) ** 2)))
        assert abs(rms - 0.1) < 1e-6, (k, rms)
    # capped: exactly 100x, far below target
    np.testing.assert_allclose(got[2], np.clip(tiny * 100.0, -1, 1), rtol=1e-6)
    np.testing.assert_array_equal(got[3], silent)
    assert got[4].size == 0
    assert np.abs(out).max() <= 1.0
    # scalar-equivalence: each clip alone must give the same bytes
    for k, c in enumerate(clips):
        solo = batch_normalize_gain(c, np.array([len(c)]), 0.1, 100.0)
        np.testing.assert_array_equal(solo, got[k]), k


def test_normalized_clips_operator(spark):
    """Mixed codecs in one partition: every non-silent clip lands on the
    target RMS (within pcm16 quantization), silent clips stay silent,
    codec rewritten to pcm16, sr preserved."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import (
        normalized_clips,
        with_audio_features,
    )

    rows = [
        Row(clip_id="loud", bytes=bytearray(encode(synth_pcm(11, 4000, 8000), "ulaw")),
            sr_hz=8000, dur_ms=500, codec="ulaw", transcript="a"),
        Row(clip_id="quiet", bytes=bytearray(encode(
            (synth_pcm(12, 4000, 16000) * 0.03).astype(np.float32), "pcm16")),
            sr_hz=16000, dur_ms=250, codec="pcm16", transcript="b"),
        Row(clip_id="silent", bytes=bytearray(encode(
            np.zeros(800, dtype=np.float32), "pcm16")),
            sr_hz=8000, dur_ms=100, codec="pcm16", transcript="c"),
    ]
    df = spark.createDataFrame(rows).repartition(1)
    out = {r["clip_id"]: r for r in
           with_audio_features(normalized_clips(df)).collect()}
    assert abs(out["loud"]["rms"] - 0.1) < 0.005   # ulaw companding noise
    assert abs(out["quiet"]["rms"] - 0.1) < 0.001
    assert out["silent"]["rms"] == 0.0
    meta = {r["clip_id"]: r for r in normalized_clips(df).collect()}
    for cid in meta:
        assert meta[cid]["codec"] == "pcm16"
    assert meta["loud"]["sr_hz"] == 8000 and meta["quiet"]["sr_hz"] == 16000


def test_batch_resample_rejects_nonpositive_sr():
    """sr_from <= 0 must raise (the scalar kernel's ZeroDivisionError
    shape) — the vectorized divide would emit inf -> int64 garbage and
    silently corrupt every later clip in the buffer."""
    from top_secret_spark.kernel.audio import batch_resample

    s = synth_pcm(1, 100, 8000)
    with pytest.raises(ValueError, match="non-positive source sample rate"):
        batch_resample(s, np.array([100]), np.array([0]), 16000)
    # empty clip with sr 0 is fine (nothing to resample)
    out, ol = batch_resample(np.empty(0, np.float32), np.array([0]),
                             np.array([0]), 16000)
    assert ol.tolist() == [0]


def test_chunked_clips_zero_sr_passthrough(spark):
    """sr_hz = 0 makes chunk_bytes 0: the row must pass through with its
    payload INTACT (substring(bytes, 1, 0) would have emptied it)."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import chunked_clips

    payload = b"\x01\x02" * 50
    df = spark.createDataFrame(
        [Row(clip_id="z", bytes=bytearray(payload), sr_hz=0, dur_ms=77,
             codec="pcm16", transcript="t")]
    )
    out = chunked_clips(df, max_dur_ms=1000).collect()
    assert len(out) == 1
    assert bytes(out[0]["bytes"]) == payload
    assert out[0]["dur_ms"] == 77


def test_batch_trim_bounds_matches_scalar():
    """Vectorized bounds == a per-clip scalar scan, across: leading-only,
    trailing-only, both-sided padding, no-trim, all-silent, empty, and a
    trailing all-silent clip (the reduceat-style edge ADVICE flagged in
    segmented_features)."""
    from top_secret_spark.kernel.audio import batch_trim_bounds

    sig = np.full(64, 0.3, dtype=np.float32)
    sig[1::2] = -0.3
    z = lambda n: np.zeros(n, dtype=np.float32)
    clips = [
        np.concatenate([z(10), sig]),          # leading pad
        np.concatenate([sig, z(7)]),           # trailing pad
        np.concatenate([z(3), sig, z(5)]),     # both
        sig.copy(),                            # no trim
        z(20),                                 # all silent
        np.empty(0, dtype=np.float32),         # empty
        z(9),                                  # trailing silent clip
    ]
    samples = np.concatenate(clips)
    lengths = np.array([len(c) for c in clips], dtype=np.int64)
    starts, ends = batch_trim_bounds(samples, lengths, threshold=0.01)
    for k, c in enumerate(clips):
        hits = np.flatnonzero(np.abs(c) > 0.01)
        exp = (int(hits[0]), int(hits[-1]) + 1) if hits.size else (0, 0)
        assert (starts[k], ends[k]) == exp, (k, starts[k], ends[k], exp)
    # pad widens and clamps at clip edges
    s2, e2 = batch_trim_bounds(samples, lengths, threshold=0.01, pad=6)
    assert (s2[0], e2[0]) == (4, lengths[0])      # 10-6=4, clamp right
    assert (s2[2], e2[2]) == (0, lengths[2])      # 3-6 clamps to 0
    assert (s2[4], e2[4]) == (0, 0)               # silent stays empty
    # per-clip pad array
    s3, e3 = batch_trim_bounds(
        samples, lengths, 0.01, pad=np.array([0, 1, 2, 0, 0, 0, 0])
    )
    assert (s3[1], e3[1]) == (0, 65)
    assert (s3[2], e3[2]) == (1, 3 + 64 + 2)


def test_trimmed_clips_operator(spark):
    """Byte-exact slice of the ORIGINAL payload (codec preserved, no
    re-encode), dur_ms rewritten, silent clips emptied not dropped,
    unknown codec raises (transform contract)."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import trimmed_clips

    sig = np.full(800, 0.3, dtype=np.float32)
    sig[1::2] = -0.3
    z = lambda n: np.zeros(n, dtype=np.float32)
    rows = [
        Row(clip_id="pad-ulaw",
            bytes=bytearray(encode(np.concatenate([z(400), sig, z(160)]), "ulaw")),
            sr_hz=8000, dur_ms=170, codec="ulaw", transcript="padded"),
        Row(clip_id="clean-pcm",
            bytes=bytearray(encode(sig, "pcm16")),
            sr_hz=16000, dur_ms=50, codec="pcm16", transcript="clean"),
        Row(clip_id="silent-alaw",
            bytes=bytearray(encode(z(500), "alaw")),
            sr_hz=8000, dur_ms=63, codec="alaw", transcript="silent"),
    ]
    df = spark.createDataFrame(rows).repartition(1)
    out = {r["clip_id"]: r for r in trimmed_clips(df).collect()}
    # ulaw: 1 byte/sample — retained region is the original bytes [400:1200)
    orig = bytes(rows[0]["bytes"])
    assert bytes(out["pad-ulaw"]["bytes"]) == orig[400:1200]
    assert out["pad-ulaw"]["codec"] == "ulaw"
    assert out["pad-ulaw"]["dur_ms"] == 100           # 800 samples @ 8 kHz
    assert bytes(out["clean-pcm"]["bytes"]) == bytes(rows[1]["bytes"])
    assert out["clean-pcm"]["dur_ms"] == 50
    assert bytes(out["silent-alaw"]["bytes"]) == b""
    assert out["silent-alaw"]["dur_ms"] == 0
    # transcript/metadata pass through untouched
    assert out["pad-ulaw"]["transcript"] == "padded"
    # pad_ms keeps context: 10 ms @ 8 kHz = 80 samples each side
    padded = {r["clip_id"]: r for r in trimmed_clips(df, pad_ms=10).collect()}
    assert bytes(padded["pad-ulaw"]["bytes"]) == orig[320:1280]
    bad = spark.createDataFrame(
        [Row(clip_id="x", bytes=bytearray(b"\x00\x01"), sr_hz=8000,
             dur_ms=1, codec="opus", transcript="t")]
    )
    with pytest.raises(Exception, match="not byte-sliceable"):
        trimmed_clips(bad).collect()


def test_trim_planted_classes_roundtrip(spark):
    """The q49 planted table under the operator: retained sample count
    equals the planted signal length exactly for clean AND padded across
    all three codecs; silent empties."""
    from top_secret_spark.operators.audio import trimmed_clips
    from top_secret_spark.sources.clips import trim_clips_df

    out = trimmed_clips(trim_clips_df(spark, 54, partitions=2)).collect()
    for r in out:
        rid = int(r["clip_id"].split("-")[1])
        bps = 2 if r["codec"] == "pcm16" else 1
        n_out = len(r["bytes"]) // bps
        if rid % 3 == 2:
            assert n_out == 0, r
        else:
            assert n_out == 400 + 16 * (rid % 7), r
            assert r["dur_ms"] == n_out // 8


def test_batch_voiced_segments_matches_scalar():
    """Vectorized segment detection == a per-clip scalar scan across:
    single block, split gap, non-split gap, multiple gaps, edge silence,
    all-silent, empty, and clip-boundary runs that must NOT merge."""
    from top_secret_spark.kernel.audio import batch_voiced_segments

    sig = lambda n: np.full(n, 0.3, dtype=np.float32)
    z = lambda n: np.zeros(n, dtype=np.float32)
    GAP = 50
    clips = [
        np.concatenate([z(10), sig(30), z(5)]),                 # 1 seg
        np.concatenate([sig(20), z(60), sig(25)]),              # split
        np.concatenate([sig(20), z(50), sig(25)]),              # run == gap: splits
        np.concatenate([sig(20), z(49), sig(25)]),              # run < gap: stays
        np.concatenate([sig(8), z(70), sig(9), z(80), sig(7)]), # 3 segs
        z(40),                                                  # silent
        np.empty(0, dtype=np.float32),                          # empty
        sig(12),                                                # ends voiced: next
        sig(13),                                                # clip must not merge
    ]
    samples = np.concatenate(clips)
    lengths = np.array([len(c) for c in clips], dtype=np.int64)
    ci, s, e = batch_voiced_segments(samples, lengths, 0.01, GAP)

    def scalar_segments(c):
        hits = np.flatnonzero(np.abs(c) > 0.01)
        if not hits.size:
            return []
        segs, start, prev = [], hits[0], hits[0]
        for h in hits[1:]:
            if h - prev - 1 >= GAP:
                segs.append((start, prev + 1))
                start = h
            prev = h
        segs.append((start, prev + 1))
        return segs

    got = {}
    for k in range(len(ci)):
        got.setdefault(int(ci[k]), []).append((int(s[k]), int(e[k])))
    for k, c in enumerate(clips):
        assert got.get(k, []) == scalar_segments(c), k


def test_split_clips_on_silence_operator(spark):
    """Byte-exact segment slices, codec preserved, transcript on seg 0
    only, all-silent clip emits one empty segment, seg ids ranked."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import split_clips_on_silence

    sig = np.full(800, 0.3, dtype=np.float32)
    sig[1::2] = -0.3
    z = lambda n: np.zeros(n, dtype=np.float32)
    two = np.concatenate([z(80), sig, z(400), sig, z(48)])
    rows = [
        Row(clip_id="two", bytes=bytearray(encode(two, "ulaw")),
            sr_hz=8000, dur_ms=266, codec="ulaw", transcript="hello there"),
        Row(clip_id="quiet", bytes=bytearray(encode(z(300), "pcm16")),
            sr_hz=8000, dur_ms=38, codec="pcm16", transcript="x"),
    ]
    df = spark.createDataFrame(rows).repartition(1)
    got = sorted(
        split_clips_on_silence(df, min_gap_ms=25).collect(),
        key=lambda r: r["seg_id"],
    )
    by_id = {r["seg_id"]: r for r in got}
    assert set(by_id) == {"two#s000", "two#s001", "quiet#s000"}
    orig = bytes(rows[0]["bytes"])
    assert bytes(by_id["two#s000"]["bytes"]) == orig[80:880]
    assert bytes(by_id["two#s001"]["bytes"]) == orig[1280:2080]
    assert by_id["two#s000"]["transcript"] == "hello there"
    assert by_id["two#s001"]["transcript"] is None
    assert by_id["two#s000"]["dur_ms"] == 100
    assert by_id["two#s000"]["codec"] == "ulaw"
    assert bytes(by_id["quiet#s000"]["bytes"]) == b""
    assert by_id["quiet#s000"]["dur_ms"] == 0
    assert by_id["quiet#s000"]["transcript"] == "x"


def test_trim_and_split_null_payload_passthrough(spark):
    """NULL bytes pass through both transforms untouched (chunked_clips
    policy): original payload/dur kept, one segment emitted."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import (
        split_clips_on_silence,
        trimmed_clips,
    )

    sig = np.full(400, 0.3, dtype=np.float32)
    rows = [
        Row(clip_id="null", bytes=None, sr_hz=8000, dur_ms=77,
            codec="pcm16", transcript="t"),
        Row(clip_id="live", bytes=bytearray(encode(sig, "pcm16")),
            sr_hz=8000, dur_ms=50, codec="pcm16", transcript="u"),
    ]
    df = spark.createDataFrame(rows).repartition(1)
    t = {r["clip_id"]: r for r in trimmed_clips(df).collect()}
    assert t["null"]["bytes"] is None and t["null"]["dur_ms"] == 77
    assert len(t["live"]["bytes"]) == 800 and t["live"]["dur_ms"] == 50
    s = {r["seg_id"]: r
         for r in split_clips_on_silence(df, min_gap_ms=25).collect()}
    assert set(s) == {"null#s000", "live#s000"}
    assert s["null#s000"]["bytes"] is None
    assert s["null#s000"]["dur_ms"] == 77
    assert s["null#s000"]["transcript"] == "t"


def test_speed_perturbed_clips(spark):
    """sox `speed` semantics: n_out = round(n * sr / round(sr*factor)),
    sr metadata preserved, codec pcm16, dur rewritten, factor 1.0 is
    sample-identical passthrough, NULL payload passes through."""
    from pyspark.sql import Row

    import pytest as _pytest

    from top_secret_spark.operators.audio import speed_perturbed_clips

    pcm = synth_pcm(91, 1100, 8000)
    rows = [
        Row(clip_id="a", bytes=bytearray(encode(pcm, "pcm16")),
            sr_hz=8000, dur_ms=138, codec="pcm16", transcript="t"),
        Row(clip_id="n", bytes=None, sr_hz=8000, dur_ms=5,
            codec="pcm16", transcript="u"),
    ]
    df = spark.createDataFrame(rows).repartition(1)
    got = {r["clip_id"]: r
           for r in speed_perturbed_clips(df, factor=1.1).collect()}
    n_out = round(1100 * 8000 / 8800)  # 1000
    assert len(got["a"]["bytes"]) == n_out * 2
    assert got["a"]["sr_hz"] == 8000 and got["a"]["codec"] == "pcm16"
    assert got["a"]["dur_ms"] == 125
    assert got["n"]["bytes"] is None and got["n"]["dur_ms"] == 5
    ident = {r["clip_id"]: r
             for r in speed_perturbed_clips(df, factor=1.0).collect()}
    assert bytes(ident["a"]["bytes"]) == bytes(rows[0]["bytes"])
    with _pytest.raises(ValueError, match="factor"):
        speed_perturbed_clips(df, factor=0)


def test_time_masked_clips_byte_splice(spark):
    """Masking is a pure byte splice: output equals the independent
    bytes-level expectation for every codec, poison rows pass through
    unchanged, payload length and codec never change, and the plan has
    no Python eval and no Exchange."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest
    from pyspark.sql import functions as F

    from top_secret_spark.kernel.audio import encode
    from top_secret_spark.operators.audio import time_masked_clips

    sr = 8000
    t = np.arange(800) / sr
    tone = (0.4 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    rows = pd.DataFrame({
        "clip_id": ["a", "b", "c", "d", "e", "f"],
        "bytes": [encode(tone, "pcm16"), encode(tone, "ulaw"), None,
                  b"\x01\x02\x03",  # misaligned pcm16: 1 sample + odd tail
                  encode(tone, "alaw"), b""],
        "sr_hz": pd.array([sr] * 6, dtype="int32"),
        "dur_ms": pd.array([100] * 6, dtype="int32"),
        "codec": ["pcm16", "ulaw", "pcm16", "pcm16", "opus", "alaw"],
        "transcript": ["x"] * 6,
    })
    df = spark.createDataFrame(rows)
    out = {r.clip_id: r.bytes for r in
           time_masked_clips(df, mask_ms=25, start_key=F.lit(12345)).collect()}

    def expected(data, bps, zero, n_mask, key=12345):
        n = len(data) // bps
        m = min(n_mask, n)
        start = key % (n - m + 1)
        return data[:start * bps] + zero * m + data[(start + m) * bps:]

    assert out["a"] == expected(encode(tone, "pcm16"), 2, b"\x00\x00", 200)
    assert out["b"] == expected(encode(tone, "ulaw"), 1, b"\x80", 200)
    assert out["c"] is None                      # NULL payload passthrough
    assert out["d"] == b"\x00\x00\x03"           # full mask, odd tail kept
    assert out["e"] == encode(tone, "alaw")      # unknown codec passthrough
    assert out["f"] == b""                       # empty clip passthrough
    assert len(out["a"]) == len(encode(tone, "pcm16"))
    plan = (time_masked_clips(df, 25)._jdf.queryExecution()
            .executedPlan().toString())
    assert "EvalPython" not in plan and "Exchange" not in plan
    with _pytest.raises(ValueError, match="mask_ms"):
        time_masked_clips(df, 0)


def test_time_masked_clips_default_key_deterministic(spark):
    import numpy as np
    import pandas as pd

    from top_secret_spark.kernel.audio import encode
    from top_secret_spark.operators.audio import time_masked_clips

    tone = (0.3 * np.ones(400)).astype(np.float32)
    rows = pd.DataFrame({
        "clip_id": ["k1", "k2"],
        "bytes": [encode(tone, "pcm16")] * 2,
        "sr_hz": pd.array([8000] * 2, dtype="int32"),
        "dur_ms": pd.array([50] * 2, dtype="int32"),
        "codec": ["pcm16"] * 2,
        "transcript": ["x"] * 2,
    })
    df = spark.createDataFrame(rows)
    one = {r.clip_id: bytes(r.bytes)
           for r in time_masked_clips(df, mask_ms=10).collect()}
    two = {r.clip_id: bytes(r.bytes)
           for r in time_masked_clips(df.repartition(5), mask_ms=10).collect()}
    assert one == two                      # placement is a row property
    assert one["k1"] != one["k2"]          # different ids, different mask
    # different seed moves the mask
    three = {r.clip_id: bytes(r.bytes)
             for r in time_masked_clips(df, mask_ms=10, seed=7).collect()}
    assert three["k1"] != one["k1"]


def test_batch_mix_noise_snr_silence_and_batch_independence():
    import numpy as np

    from top_secret_spark.kernel.audio import (
        batch_mix_noise,
        snr_db,
        synth_pcm,
    )

    sr = 16000
    clips = [synth_pcm(7 + i, 4800, sr) for i in range(3)]
    clips += [np.zeros(1000), np.zeros(0)]  # silent + empty (trailing)
    lengths = np.array([len(c) for c in clips])
    samples = np.concatenate(clips)
    keys = np.arange(5, dtype=np.uint64) * 987654321
    mixed = batch_mix_noise(samples, lengths, keys, 20.0)
    off = 0
    for i, c in enumerate(clips):
        m = mixed[off:off + len(c)]
        off += len(c)
        if len(c) == 0:
            continue
        if not c.any():
            assert (m == 0).all()  # silence stays silence
        else:
            assert 19.5 <= snr_db(c.astype(np.float64), m) <= 20.5
    # noise is a row property: first two clips alone give identical bytes
    sub = batch_mix_noise(
        np.concatenate(clips[:2]), lengths[:2], keys[:2], 20.0
    )
    assert np.array_equal(sub, mixed[: lengths[:2].sum()])
    # different keys give different noise
    other = batch_mix_noise(samples, lengths, keys + 1, 20.0)
    assert not np.array_equal(other, mixed)


def test_noise_mixed_clips_operator(spark):
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from top_secret_spark.kernel.audio import decode, encode, snr_db
    from top_secret_spark.operators.audio import noise_mixed_clips

    sr = 8000
    t = np.arange(2400) / sr
    tone = (0.4 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    rows = pd.DataFrame({
        "clip_id": ["p", "u", "s"],
        "bytes": [encode(tone, "pcm16"), encode(tone, "ulaw"),
                  encode(np.zeros(2400, dtype=np.float32), "alaw")],
        "sr_hz": pd.array([sr] * 3, dtype="int32"),
        "dur_ms": pd.array([300] * 3, dtype="int32"),
        "codec": ["pcm16", "ulaw", "alaw"],
        "transcript": ["x"] * 3,
    })
    df = spark.createDataFrame(rows)
    out = {r.clip_id: r for r in noise_mixed_clips(df, snr_db=15.0).collect()}
    # output codec pcm16, 2 bytes/sample regardless of input codec
    for cid in ("p", "u", "s"):
        assert out[cid].codec == "pcm16"
        assert len(out[cid].bytes) == 2400 * 2
    for cid, codec in (("p", "pcm16"), ("u", "ulaw")):
        orig = decode(bytes(rows.loc[rows.clip_id == cid, "bytes"].iloc[0]),
                      codec).astype(np.float64)
        got = snr_db(orig, decode(bytes(out[cid].bytes), "pcm16"))
        assert 14.0 <= got <= 16.0, (cid, got)
    # companded "silence" decodes to the nonzero G.711 zero-code
    # reconstruction (~2.4e-4), so it gets noise 15 dB below THAT —
    # the result must still read silent to the gate (< SILENCE_EPS)
    from top_secret_spark.kernel.audio import SILENCE_EPS

    assert np.abs(decode(bytes(out["s"].bytes), "pcm16")).max() < SILENCE_EPS
    # true digital silence (pcm16 zeros) passes through byte-identical
    dz = pd.DataFrame({
        "clip_id": ["z"], "bytes": [b"\x00" * 4800],
        "sr_hz": pd.array([sr], dtype="int32"),
        "dur_ms": pd.array([300], dtype="int32"),
        "codec": ["pcm16"], "transcript": ["x"],
    })
    zout = noise_mixed_clips(spark.createDataFrame(dz)).first()
    assert bytes(zout.bytes) == b"\x00" * 4800
    # determinism across partitionings (noise keyed on the row)
    again = {r.clip_id: bytes(r.bytes) for r in
             noise_mixed_clips(df.repartition(5), snr_db=15.0).collect()}
    assert again == {k: bytes(v.bytes) for k, v in out.items()}
    # undecodable payload raises loudly (transform, not a gate)
    from pyspark.sql import functions as sf

    bad = df.withColumn("codec", sf.lit("opus"))
    with _pytest.raises(Exception):
        noise_mixed_clips(bad).collect()


def test_time_masked_clips_null_start_key_is_passthrough(spark):
    """A NULL in a user-supplied start_key column must pass the payload
    through unchanged, never NULL it out through the splice."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as sf

    from top_secret_spark.kernel.audio import encode
    from top_secret_spark.operators.audio import time_masked_clips

    tone = (0.3 * np.ones(400)).astype(np.float32)
    rows = pd.DataFrame({
        "clip_id": ["a", "b"],
        "bytes": [encode(tone, "pcm16")] * 2,
        "sr_hz": pd.array([8000] * 2, dtype="int32"),
        "dur_ms": pd.array([50] * 2, dtype="int32"),
        "codec": ["pcm16"] * 2,
        "transcript": ["x"] * 2,
        "key": pd.array([None, 5], dtype="Int64"),
    })
    df = spark.createDataFrame(rows)
    out = {r.clip_id: bytes(r.bytes) for r in
           time_masked_clips(df, mask_ms=10,
                             start_key=sf.col("key")).collect()}
    assert out["a"] == bytes(encode(tone, "pcm16"))  # passthrough
    assert out["b"] != bytes(encode(tone, "pcm16"))  # masked


def test_with_spectral_features_null_sr_is_poison_not_crash(spark):
    import numpy as np
    import pandas as pd

    from top_secret_spark.kernel.audio import encode
    from top_secret_spark.operators.audio import with_spectral_features

    tone = (0.4 * np.sin(2 * np.pi * 1000 * np.arange(4800) / 16000)
            ).astype(np.float32)
    rows = pd.DataFrame({
        "clip_id": ["ok", "nosr"],
        "bytes": [encode(tone, "pcm16")] * 2,
        "sr_hz": pd.array([16000, None], dtype="Int32"),
        "dur_ms": pd.array([300] * 2, dtype="int32"),
        "codec": ["pcm16"] * 2,
        "transcript": ["x"] * 2,
    })
    out = {r.clip_id: r for r in
           with_spectral_features(spark.createDataFrame(rows)).collect()}
    assert out["ok"].spectral_ok and abs(
        out["ok"].spectral_centroid_hz - 1000) < 15
    assert not out["nosr"].spectral_ok
    assert out["nosr"].spectral_flatness == 1.0


def test_merge_segments_semantics(spark):
    """Offset-based packing: a 40ms segment starting below the boundary
    joins the group (overflow < one segment); oversized single segments
    keep their own group; payload bytes are conserved and concatenate
    in seg order; merge never crosses a clip boundary."""
    import collections

    import pytest as _pytest
    from pyspark.sql import functions as sf

    from top_secret_spark.operators.audio import (
        merge_segments,
        split_clips_on_silence,
    )
    from top_secret_spark.sources.clips import (
        SEGMENT_CLASSES,
        segment_clips_df,
    )

    segs = split_clips_on_silence(segment_clips_df(spark, 48),
                                  min_gap_ms=25).cache()
    # big window: every clip merges to ONE row; two_utterances rows
    # carry n_segments=2 and the concat of both segments' bytes
    m1 = merge_segments(segs, 1000)
    rows = m1.collect()
    assert len(rows) == 48
    assert all(r.n_segments == 2 for r in rows
               if r.transcript == "two_utterances")
    sb = segs.agg(sf.sum(sf.length("bytes"))).first()[0]
    assert m1.agg(sf.sum(sf.length("bytes"))).first()[0] == sb
    # 30ms window: two 40-48ms utterances cannot share a group
    cnt = collections.Counter()
    for r in merge_segments(segs, 30).collect():
        cnt[r.clip_id] += 1
    for i in range(48):
        exp = 2 if SEGMENT_CLASSES[i % 4] == "two_utterances" else 1
        assert cnt[f"sg-{i:08d}"] == exp, i
    # 50ms window: second 40ms segment STARTS below the boundary ->
    # same group (offset-based assignment, overflow < one segment)
    assert all(n == 1 for n in collections.Counter(
        r.clip_id for r in merge_segments(segs, 50).collect()).values())
    with _pytest.raises(ValueError, match="max_dur_ms"):
        merge_segments(segs, 0)
    segs.unpersist()


def test_batch_mix_noise_block_invariance():
    """Clip-aligned blocking is a memory-traffic knob, not a semantics
    knob: any MIX_NOISE_BLOCK_SAMPLES must give bit-identical output
    (noise is a pure function of key + within-clip index)."""
    import numpy as np

    import top_secret_spark.kernel.audio as ka
    from top_secret_spark.kernel.audio import batch_mix_noise, synth_pcm

    clips = [synth_pcm(5 + i, 700 + 61 * i, 8000) for i in range(20)]
    clips.insert(3, np.zeros(0))
    clips.append(np.zeros(0))
    samples = np.concatenate(clips)
    lengths = np.array([len(c) for c in clips], dtype=np.int64)
    keys = np.arange(len(clips), dtype=np.uint64) * 37
    ref = batch_mix_noise(samples, lengths, keys, 18.0)
    old = ka.MIX_NOISE_BLOCK_SAMPLES
    try:
        for block in (1, 100, 1 << 30):
            ka.MIX_NOISE_BLOCK_SAMPLES = block
            np.testing.assert_array_equal(
                batch_mix_noise(samples, lengths, keys, 18.0), ref
            )
    finally:
        ka.MIX_NOISE_BLOCK_SAMPLES = old


def test_transcode_clips_matches_scalar_and_passes_through(spark):
    """transcode_clips must emit byte-identical payloads to the scalar
    decode→encode chain for every codec pair, pass same-codec rows
    through byte-identical, rewrite the codec column, and preserve
    sr/duration/transcript."""
    from pyspark.sql import Row

    from top_secret_spark.kernel.audio import decode
    from top_secret_spark.operators.audio import transcode_clips

    specs = [("pcm16", 777), ("ulaw", 1201), ("alaw", 800),
             ("ulaw", 0), ("pcm16", 1)]
    rows, src = [], {}
    for i, (codec, n) in enumerate(specs):
        pcm = (synth_pcm(900 + i, n, 8000) if n
               else np.empty(0, dtype=np.float32))
        data = encode(pcm, codec)
        cid = f"c{i}"
        src[cid] = (codec, data)
        rows.append(Row(clip_id=cid, bytes=bytearray(data), sr_hz=8000,
                        dur_ms=int(1000 * n / 8000), codec=codec,
                        transcript=f"t{i}"))
    df = spark.createDataFrame(rows).repartition(1)
    for target in ("pcm16", "ulaw", "alaw"):
        got = {r["clip_id"]: r for r in transcode_clips(df, target).collect()}
        for cid, (codec, data) in src.items():
            want = (data if codec == target
                    else encode(decode(data, codec), target))
            assert bytes(got[cid]["bytes"]) == want, (cid, target)
            assert got[cid]["codec"] == target
            assert got[cid]["sr_hz"] == 8000
            assert got[cid]["transcript"] == f"t{cid[1:]}"


def test_transcode_clips_snr_invariant_and_bad_codec(spark):
    """Every supported codec pair holds SNR >= 30 dB vs the source
    decode (north-rule invariant; G.711 floor ~35 dB measured), and an
    unsupported target codec raises NotImplementedError at plan time."""
    import pytest as _pytest
    from pyspark.sql import Row

    from top_secret_spark.kernel.audio import decode, snr_db
    from top_secret_spark.operators.audio import transcode_clips

    rows, src = [], {}
    for i, codec in enumerate(("pcm16", "ulaw", "alaw")):
        pcm = synth_pcm(40 + i, 1500, 8000)
        data = encode(pcm, codec)
        src[f"c{i}"] = (codec, data)
        rows.append(Row(clip_id=f"c{i}", bytes=bytearray(data), sr_hz=8000,
                        dur_ms=187, codec=codec, transcript=""))
    df = spark.createDataFrame(rows)
    for target in ("pcm16", "ulaw", "alaw"):
        for r in transcode_clips(df, target).collect():
            codec, data = src[r["clip_id"]]
            s = snr_db(decode(data, codec), decode(bytes(r["bytes"]), target))
            assert s >= 30.0, (codec, target, s)
    with _pytest.raises(NotImplementedError, match="opus"):
        transcode_clips(df, "opus")


def test_transcode_clips_null_payload_passthrough(spark):
    """NULL bytes pass through NULL (nothing to transcode) for both the
    passthrough and the re-encode codec path; codec column still
    rewritten uniformly."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import transcode_clips

    rows = [
        Row(clip_id="n0", bytes=None, sr_hz=8000, dur_ms=0,
            codec="pcm16", transcript="x"),
        Row(clip_id="n1", bytes=None, sr_hz=8000, dur_ms=0,
            codec="ulaw", transcript="y"),
        Row(clip_id="s0", bytes=bytearray(encode(synth_pcm(3, 100, 8000),
                                                 "pcm16")),
            sr_hz=8000, dur_ms=12, codec="pcm16", transcript="z"),
    ]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    got = {r["clip_id"]: r for r in
           transcode_clips(spark.createDataFrame(rows, schema),
                           "ulaw").collect()}
    assert got["n0"]["bytes"] is None and got["n0"]["codec"] == "ulaw"
    assert got["n1"]["bytes"] is None and got["n1"]["codec"] == "ulaw"
    assert len(bytes(got["s0"]["bytes"])) == 100


@given(
    lens=st.lists(st.integers(min_value=0, max_value=4000),
                  min_size=1, max_size=8),
    seed=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=20, deadline=None)
def test_batch_snr_estimate_matches_scalar(lens, seed):
    from top_secret_spark.kernel.audio import batch_snr_estimate, snr_estimate

    clips = [synth_pcm(seed + i, ln, 16000) if ln else
             np.empty(0, dtype=np.float32) for i, ln in enumerate(lens)]
    samples = (np.concatenate(clips) if any(lens)
               else np.empty(0, dtype=np.float32))
    s, nf = batch_snr_estimate(samples, np.array(lens, dtype=np.int64), 16000)
    for i, c in enumerate(clips):
        es, en = snr_estimate(c, 16000)
        assert nf[i] == en
        assert s[i] == pytest.approx(es, abs=1e-9)


def test_snr_estimate_planted_bands():
    """The planted q73 classes read their documented bands: bursts over
    a quiet floor HIGH, bursts over noise mid, gapless noise ~0 dB."""
    from top_secret_spark.kernel.audio import batch_decode, batch_snr_estimate
    from top_secret_spark.sources.clips import snr_rows_for_range

    pdf = snr_rows_for_range(0, 30)
    samples, lengths = batch_decode(
        [bytes(b) for b in pdf["bytes"]], "pcm16")
    snr, nf = batch_snr_estimate(samples, lengths, 16000)
    assert set(nf) == {30}
    cls = pdf["transcript"].to_numpy()
    assert snr[cls == "gapped_clean"].min() > 30.0
    mid = snr[cls == "gapped_noisy"]
    assert mid.min() > 3.0 and mid.max() < 15.0
    assert snr[cls == "steady_noise"].max() < 3.0


def test_with_snr_estimate_poison_rows(spark):
    """Undecodable payload / NULL sr / unknown codec → snr_ok=false,
    0.0 dB, 0 frames — never a stage kill; bytes dropped by default."""
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import with_snr_estimate

    rows = [
        Row(clip_id="good", bytes=bytearray(encode(
            synth_pcm(3, 3200, 16000), "pcm16")),
            sr_hz=16000, dur_ms=200, codec="pcm16", transcript=""),
        Row(clip_id="odd", bytes=bytearray(b"\x01"), sr_hz=16000,
            dur_ms=0, codec="pcm16", transcript=""),
        Row(clip_id="nullsr", bytes=bytearray(b"\x00\x00"), sr_hz=None,
            dur_ms=0, codec="pcm16", transcript=""),
        Row(clip_id="badcodec", bytes=bytearray(b"\x00\x00"), sr_hz=8000,
            dur_ms=0, codec="opus", transcript=""),
        # decodes fine but is SHORTER than one 20 ms frame: nothing was
        # measured, so it must read snr_ok=false, not an authoritative 0 dB
        Row(clip_id="short", bytes=bytearray(encode(
            synth_pcm(9, 240, 16000), "pcm16")),
            sr_hz=16000, dur_ms=15, codec="pcm16", transcript=""),
    ]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    out = with_snr_estimate(spark.createDataFrame(rows, schema))
    assert "bytes" not in out.columns
    got = {r["clip_id"]: r for r in out.collect()}
    assert got["good"]["snr_ok"] and got["good"]["snr_n_frames"] == 10
    for bad in ("odd", "nullsr", "badcodec", "short"):
        assert not got[bad]["snr_ok"]
        assert got[bad]["snr_est_db"] == 0.0
        assert got[bad]["snr_n_frames"] == 0


@given(
    lens=st.lists(st.integers(min_value=0, max_value=4000),
                  min_size=1, max_size=6),
    seed=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=15, deadline=None)
def test_batch_remove_dc_matches_scalar(lens, seed):
    from top_secret_spark.kernel.audio import batch_remove_dc, remove_dc

    clips = [(synth_pcm(seed + i, ln, 16000) + 0.25).astype(np.float32)
             if ln else np.empty(0, dtype=np.float32)
             for i, ln in enumerate(lens)]
    samples = (np.concatenate(clips) if any(lens)
               else np.empty(0, dtype=np.float32))
    out = batch_remove_dc(samples, np.array(lens, dtype=np.int64), 16000)
    off = 0
    for i, c in enumerate(clips):
        ref = remove_dc(c, 16000)
        np.testing.assert_allclose(out[off:off + lens[i]], ref, atol=1e-7)
        off += lens[i]


def test_dc_removed_clips_strips_offset_keeps_signal(spark):
    from pyspark.sql import functions as F

    from top_secret_spark.operators.audio import (
        dc_removed_clips,
        with_audio_features,
    )
    from top_secret_spark.sources.clips import dc_clips_df

    clips = dc_clips_df(spark, 20, partitions=2)
    out = with_audio_features(dc_removed_clips(clips))
    got = {r["clip_id"]: r for r in out.collect()}
    for cid, r in got.items():
        # both classes converge on the tone's rms after the high-pass
        assert 0.26 < r["rms"] < 0.30, (cid, r["rms"])
        assert r["codec"] == "pcm16" and r["sr_hz"] == 16000
    # NULL sr raises loudly (transform, not a gate)
    from pyspark.sql import Row
    bad = spark.createDataFrame(
        [Row(clip_id="x", bytes=bytearray(b"\x00\x00"), sr_hz=None,
             dur_ms=0, codec="pcm16", transcript="")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    with pytest.raises(Exception, match="sr_hz"):
        dc_removed_clips(bad).collect()


def test_segmented_kernels_regime_paths_agree():
    """The long-clip per-slice loop and the short-clip blocked reduceat
    path must produce identical results on the SAME batch — the regime
    dispatch (SEGMENT_LONG_CLIP on mean length) is a performance choice,
    never a semantics one.  Forced via monkeypatching the threshold."""
    import numpy as np

    from top_secret_spark.kernel import audio as ka

    rng = np.random.default_rng(7)
    lens = [0, 1, 333, 5000, 9000, 2, 12000, 0, 800]
    clips = [rng.standard_normal(n).astype(np.float32) * 0.4 for n in lens]
    samples = np.concatenate([c for c in clips]) if clips else np.empty(0)
    samples = samples.astype(np.float32)
    lengths = np.array(lens, dtype=np.int64)
    srs = np.full(len(lens), 16000.0)

    old = ka.SEGMENT_LONG_CLIP
    try:
        ka.SEGMENT_LONG_CLIP = 10**9  # force blocked vectorized path
        r1, z1, d1 = ka.segmented_features(samples, lengths, srs)
        s1, c1 = ka.segmented_ratios(samples, lengths)
        ka.SEGMENT_LONG_CLIP = 0  # force per-clip slice loop
        r2, z2, d2 = ka.segmented_features(samples, lengths, srs)
        s2, c2 = ka.segmented_ratios(samples, lengths)
    finally:
        ka.SEGMENT_LONG_CLIP = old
    np.testing.assert_allclose(r1, r2, rtol=0, atol=1e-12)
    np.testing.assert_array_equal(z1, z2)
    np.testing.assert_array_equal(d1, d2)
    np.testing.assert_array_equal(s1, s2)
    np.testing.assert_array_equal(c1, c2)


def test_batch_pair_snr_regime_paths_agree():
    """Pair-SNR long (per-pair dot) and short (blocked cumsum) regimes
    must agree within float tolerance on the same pairs."""
    import numpy as np

    from top_secret_spark.kernel import audio as ka
    from top_secret_spark.kernel.audio import encode, synth_pcm

    pairs_a, pairs_b = [], []
    for i in range(12):
        x = synth_pcm(100 + i, 4000 + i * 37, 8000)
        y = x if i % 3 else synth_pcm(999 + i, len(x), 8000)
        pairs_a.append(encode(x, "pcm16"))
        pairs_b.append(encode(y, "ulaw"))
    ca, cb = ["pcm16"] * 12, ["ulaw"] * 12

    old = ka.SEGMENT_LONG_CLIP
    try:
        ka.SEGMENT_LONG_CLIP = 10**9
        short_path = ka.batch_pair_snr(pairs_a, pairs_b, ca, cb)
        ka.SEGMENT_LONG_CLIP = 0
        long_path = ka.batch_pair_snr(pairs_a, pairs_b, ca, cb)
    finally:
        ka.SEGMENT_LONG_CLIP = old
    # cumsum-difference vs per-pair dot rounding: ~1e-9 dB apart, eight
    # orders below the 20-30 dB gate margins
    np.testing.assert_allclose(short_path, long_path, rtol=0, atol=1e-6)


# ---------------------------------------------------------------------------
# window hashing + repeated-segment detection


def test_batch_window_hashes_shape_and_tail():
    from top_secret_spark.kernel.audio import batch_window_hashes

    a = synth_pcm(seed=1, n_samples=2500, sr_hz=8000)
    b = synth_pcm(seed=2, n_samples=999, sr_hz=8000)   # < one window
    c = synth_pcm(seed=3, n_samples=3000, sr_hz=8000)
    samples = np.concatenate([a, b, c])
    lengths = np.array([2500, 999, 3000])
    ci, wi, h = batch_window_hashes(samples, lengths, win=1000)
    # ragged tails dropped: 2 + 0 + 3 complete windows
    assert ci.tolist() == [0, 0, 2, 2, 2]
    assert wi.tolist() == [0, 1, 0, 1, 2]
    assert len(set(h.tolist())) == 5  # distinct content -> distinct hashes


def test_batch_window_hashes_content_identity():
    from top_secret_spark.kernel.audio import batch_window_hashes

    base = synth_pcm(seed=7, n_samples=1000, sr_hz=8000)
    tail = synth_pcm(seed=8, n_samples=1000, sr_hz=8000)
    # clip 0 = [base, tail]; clip 1 = [tail, base]: same windows, swapped
    samples = np.concatenate([base, tail, tail, base])
    lengths = np.array([2000, 2000])
    ci, wi, h = batch_window_hashes(samples, lengths, win=1000)
    assert h[0] == h[3] and h[1] == h[2]  # position-free content hash
    assert h[0] != h[1]
    # quantization identity: starting FROM lattice points, a jitter far
    # below the half-step distance to any rounding boundary cannot move
    # the pcm16 value, so the hash is unchanged
    snapped = pcm16_to_float(float_to_pcm16(base))
    _, _, hs = batch_window_hashes(snapped, np.array([1000]), win=1000)
    jit = snapped + np.float32(1e-6)
    _, _, h2 = batch_window_hashes(jit, np.array([1000]), win=1000)
    assert h2[0] == hs[0]


def test_repeated_audio_segments_planted(spark):
    from top_secret_spark.operators.audio import repeated_audio_segments
    from top_secret_spark.sources.clips import repeat_clips_df

    out = {
        r["clip_id"]: (r["n_repeated_windows"], r["first_repeated_win"])
        for r in repeated_audio_segments(
            repeat_clips_df(spark, 48, partitions=2), win_ms=250
        ).collect()
    }
    assert len(out) == 48
    for r in range(48):
        kind = r % 4
        want = {0: (2, 0), 1: (0, None), 2: (2, 2), 3: (0, None)}[kind]
        assert out[f"rep-{r:010d}"] == want, (r, kind, out[f"rep-{r:010d}"])


def test_strip_repeated_segments_byte_exact(spark):
    """The splice must equal the original payload minus the jingle's
    byte span exactly (zero re-encode), with dur_ms rewritten and
    untouched clips bit-identical."""
    from top_secret_spark.operators.audio import strip_repeated_segments
    from top_secret_spark.sources.clips import (
        repeat_clips_df,
        repeat_rows_for_range,
    )

    rows = repeat_rows_for_range(0, 24)
    out = {
        r["clip_id"]: r
        for r in strip_repeated_segments(
            repeat_clips_df(spark, 24, partitions=2), win_ms=250
        ).collect()
    }
    for r in range(24):
        orig = bytes(rows["bytes"][r])
        o = out[f"rep-{r:010d}"]
        wb = 2000 * (2 if rows["codec"][r] == "pcm16" else 1)
        got = bytes(o["bytes"])
        if r % 4 == 0:    # jingle at head -> tail survives verbatim
            assert got == orig[2 * wb:] and o["dur_ms"] == 500
        elif r % 4 == 2:  # jingle at tail -> head survives verbatim
            assert got == orig[: 2 * wb] and o["dur_ms"] == 500
        else:
            assert got == orig and o["dur_ms"] == rows["dur_ms"][r]


def test_strip_repeated_segments_poison_passthrough(spark):
    from top_secret_spark.operators.audio import strip_repeated_segments

    pois = spark.createDataFrame(
        [("p1", b"\x01\x02\x03", 8000, 100, "opus", "t"),
         ("p2", None, 8000, 100, "pcm16", "t"),
         ("p3", b"\x01\x02\x03", None, 100, "pcm16", "t")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    got = {r["clip_id"]: r for r in strip_repeated_segments(pois).collect()}
    assert all(got[k]["n_removed_windows"] == 0 for k in got)
    assert bytes(got["p1"]["bytes"]) == b"\x01\x02\x03"
    assert got["p2"]["bytes"] is None


def test_speaking_rate_pairing_gate(spark):
    from top_secret_spark.operators.audio import (
        pairing_drop_reason_col,
        with_speaking_rate,
    )
    from top_secret_spark.sources.clips import pairing_clips_df

    out = {
        r["clip_id"]: r
        for r in with_speaking_rate(pairing_clips_df(spark, 30, partitions=2))
        .withColumn("reason", pairing_drop_reason_col(4.0, 30.0))
        .collect()
    }
    want = {0: (None, 16.0), 1: ("rate_too_fast", 80.0),
            2: ("rate_too_slow", 2.0),
            3: ("transcript_without_speech", None),
            4: ("missing_transcript", None)}
    for r in range(30):
        o = out[f"pair-{r:010d}"]
        reason, cps = want[r % 5]
        assert o["reason"] == reason, (r, o["reason"])
        if cps is None:
            assert o["chars_per_voiced_sec"] is None
        else:
            assert abs(o["chars_per_voiced_sec"] - cps) < 1e-9


def test_speaking_rate_poison_and_null_transcript(spark):
    from top_secret_spark.operators.audio import (
        pairing_drop_reason_col,
        with_speaking_rate,
    )
    from top_secret_spark.kernel.audio import encode
    import numpy as np

    voiced = np.where((np.arange(8000) // 8) % 2 == 0, 0.45, -0.45).astype(
        np.float32
    )
    rows = [
        ("bad-codec", b"\x00\x01", 8000, 100, "opus", "hello"),
        ("null-bytes", None, 8000, 100, "pcm16", "hello"),
        ("null-transcript", bytes(encode(voiced, "pcm16")), 8000, 1000,
         "pcm16", None),
        ("ws-transcript", bytes(encode(voiced, "pcm16")), 8000, 1000,
         "pcm16", "   "),
    ]
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    got = {
        r["clip_id"]: r["reason"]
        for r in with_speaking_rate(df)
        .withColumn("reason", pairing_drop_reason_col())
        .collect()
    }
    assert got["bad-codec"] == "vad_error"
    assert got["null-bytes"] == "vad_error"
    assert got["null-transcript"] == "missing_transcript"
    assert got["ws-transcript"] == "missing_transcript"


def test_batch_envelope_bits_tempo_and_edge_cases():
    from top_secret_spark.kernel.audio import batch_envelope_bits

    pat = [1, 0, 0, 0, 1, 1, 0, 1]

    def mk(sec_len):
        sign = np.where((np.arange(sec_len) // 8) % 2 == 0, 1.0, -1.0)
        return np.concatenate(
            [(0.45 * sign if b else np.zeros(sec_len)).astype(np.float32)
             for b in pat]
        )

    clips = [mk(1000), mk(900), mk(1100),
             np.zeros(8000, np.float32),          # silent -> not ok
             np.ones(10, np.float32)]             # sub-n_frames -> not ok
    samples = np.concatenate(clips)
    lengths = np.array([len(c) for c in clips])
    ok, bits = batch_envelope_bits(samples, lengths, n_frames=32)
    assert ok.tolist() == [True, True, True, False, False]
    assert bits[0] == bits[1] == bits[2] != 0  # tempo invariance
    exp = sum(
        1 << (4 * i + j) for i, b in enumerate(pat) if b for j in range(4)
    )
    assert bits[0] == exp


def test_tempo_fingerprint_cross_codec_groups(spark):
    from top_secret_spark.operators.audio import with_tempo_fingerprint
    from top_secret_spark.sources.clips import tempo_clips_df

    rows = with_tempo_fingerprint(
        tempo_clips_df(spark, 24, partitions=2)
    ).collect()
    assert all(r["fp_ok"] for r in rows)
    fps = {}
    for r in rows:
        fps.setdefault(r["tempo_fp"], []).append(r["clip_id"])
    sizes = sorted(len(v) for v in fps.values())
    # 24 rows = 8 groups; g=3 and g=7 (g%4==3) planted all-unique, the
    # other six share one fingerprint across codec+tempo members
    assert sizes == [1] * 6 + [3] * 6


def test_redact_audio_pii_byte_exact(spark):
    """Redaction must silence EXACTLY the proportional sample span
    (codec's own silence byte, payload length unchanged) and scrub the
    transcript with the same mapping."""
    from top_secret_spark.kernel.audio import alaw_encode, ulaw_encode
    from top_secret_spark.operators.audio import redact_audio_pii
    from top_secret_spark.sources.clips import (
        redact_clips_df,
        redact_rows_for_range,
    )

    rows = redact_rows_for_range(0, 9)
    fill = {
        "pcm16": b"\x00\x00",
        "ulaw": bytes(ulaw_encode(np.zeros(1, np.float32)).tobytes()),
        "alaw": bytes(alaw_encode(np.zeros(1, np.float32)).tobytes()),
    }
    out = {
        r["clip_id"]: r
        for r in redact_audio_pii(redact_clips_df(spark, 9, partitions=2))
        .collect()
    }
    for r in range(9):
        o = out[f"redact-{r:010d}"]
        orig = bytes(rows["bytes"][r])
        got = bytes(o["bytes"])
        codec = rows["codec"][r]
        w = 2 if codec == "pcm16" else 1
        kind = r % 3
        assert len(got) == len(orig)
        if kind == 2:
            assert got == orig and o["scrubbed"] == rows["transcript"][r]
            continue
        s0, s1 = (1600, 2960) if kind == 0 else (4000, 4880)
        assert got[: s0 * w] == orig[: s0 * w]
        assert got[s1 * w:] == orig[s1 * w:]
        assert got[s0 * w: s1 * w] == fill[codec] * (s1 - s0)
        assert "[EMAIL_1]" in o["scrubbed"] or "[SSN_1]" in o["scrubbed"]
        assert "@" not in o["scrubbed"]


def test_redact_audio_pii_poison_passthrough(spark):
    from top_secret_spark.operators.audio import redact_audio_pii

    rows = [
        ("p1", b"\x01\x02", 8000, 100, "opus", "mail user1@mail.com end"),
        ("p2", None, 8000, 100, "pcm16", "mail user1@mail.com end"),
        ("p3", b"\x01\x02", 8000, 100, "pcm16", None),
    ]
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    got = {r["clip_id"]: r for r in redact_audio_pii(df).collect()}
    # unknown codec / null payload: transcript still scrubbed, audio kept
    assert "[EMAIL_1]" in got["p1"]["scrubbed"]
    assert bytes(got["p1"]["bytes"]) == b"\x01\x02"
    assert got["p1"]["n_redacted_spans"] == 0
    assert "[EMAIL_1]" in got["p2"]["scrubbed"]
    assert got["p2"]["bytes"] is None
    assert got["p3"]["scrubbed"] is None and got["p3"]["n_redacted_spans"] == 0


def test_pii_char_spans_matches_substitution():
    """Span-driven redaction must cover exactly what substitute_text
    replaces, including overlap suppression and label precedence."""
    from top_secret_spark.kernel.scrub import (
        pii_char_spans,
        scan_text,
        substitute_text,
    )

    texts = [
        "word word user0001@mail.com and 123-45-6789 end",
        "a@b.co a@b.co twice",
        "call 555-123-4567 or 555-123-4567 again",
        "no pii here",
        "",
    ]
    for t in texts:
        spans = pii_char_spans(t)
        rebuilt, cur = "", 0
        for a, b, lab in spans:
            rebuilt += t[cur:a] + f"[{lab}]"
            cur = b
        rebuilt += t[cur:]
        assert rebuilt == substitute_text(t, scan_text(t)), t


def test_batch_cdc_segments_offset_invariance():
    """CDC boundaries come from content, so prefix/suffix padding must
    leave every interior segment hash unchanged, silence must produce
    no boundary storm, and results must not depend on batch makeup."""
    from top_secret_spark.kernel.audio import batch_cdc_segments

    rng = np.random.default_rng(77)
    body = rng.uniform(-0.4, 0.4, 8000).astype(np.float32)
    clips = [
        body,
        np.concatenate([np.zeros(1024, np.float32), body]),
        np.concatenate([body, np.zeros(512, np.float32)]),
        np.zeros(4000, np.float32),  # silent -> exactly one segment
    ]
    samples = np.concatenate(clips)
    lengths = np.array([len(c) for c in clips])
    ci, si, h = batch_cdc_segments(samples, lengths, mask_bits=8)
    per_clip = [h[ci == k].tolist() for k in range(4)]
    # plenty of content-defined segments in an 8000-sample noise body
    assert len(per_clip[0]) >= 8
    # interior segments survive both paddings (only the clip-edge
    # segment on the padded side may differ)
    base = set(per_clip[0])
    assert len(base & set(per_clip[1])) >= len(per_clip[0]) - 1
    assert len(base & set(per_clip[2])) >= len(per_clip[0]) - 1
    # constant (silent) windows can never hit the boundary target
    assert len(per_clip[3]) == 1
    # per-clip ordinals are dense from 0
    for k in range(4):
        got = sorted(si[ci == k].tolist())
        assert got == list(range(len(got)))
    # batch composition must not change a clip's segmentation
    ci1, si1, h1 = batch_cdc_segments(
        body, np.array([len(body)]), mask_bits=8
    )
    assert h1.tolist() == per_clip[0]


def test_offset_robust_partners_planted(spark):
    """Planted offset groups: the three silence-shifted members of a
    group find each other (2 partners) and the all-unique groups find
    nobody; exact/fixed-window dedup sees three distinct payloads."""
    from top_secret_spark.operators.audio import offset_robust_partners
    from top_secret_spark.sources.clips import (
        OFFSET_UNIQUE_MOD,
        offset_clips_df,
    )

    rows = offset_robust_partners(
        offset_clips_df(spark, 48, partitions=2), mask_bits=8
    ).collect()
    assert len(rows) == 48
    for r in rows:
        idx = int(r["clip_id"].split("-")[1])
        g = idx // 3
        exp = 0 if g % OFFSET_UNIQUE_MOD == 3 else 2
        assert r["n_partners"] == exp, r


# --- multichannel kernels (q98/q99) ------------------------------------------


class TestMultichannel:
    def test_downmix_matches_per_clip_mean(self):
        import numpy as np

        from top_secret_spark.kernel.audio import batch_downmix

        rng = np.random.default_rng(7)
        clips = [rng.uniform(-1, 1, 2 * n).astype(np.float32)
                 for n in (5, 1, 400, 33)]
        buf = np.concatenate(clips)
        lengths = np.array([len(c) for c in clips])
        mono, ml = batch_downmix(buf, lengths, 2)
        assert list(ml) == [5, 1, 400, 33]
        off = 0
        for c, m in zip(clips, ml):
            expect = c.astype(np.float64).reshape(-1, 2).mean(axis=1)
            np.testing.assert_allclose(
                mono[off:off + m], expect.astype(np.float32), atol=1e-7
            )
            off += m

    def test_downmix_ragged_tail_dropped(self):
        import numpy as np

        from top_secret_spark.kernel.audio import batch_downmix

        # clip 0 has a trailing partial frame (7 samples, nch=2)
        buf = np.arange(7 + 4, dtype=np.float32)
        mono, ml = batch_downmix(buf, np.array([7, 4]), 2)
        assert list(ml) == [3, 2]
        np.testing.assert_allclose(mono[:3], [0.5, 2.5, 4.5])
        np.testing.assert_allclose(mono[3:], [7.5, 9.5])

    def test_downmix_mono_passthrough(self):
        import numpy as np

        from top_secret_spark.kernel.audio import batch_downmix

        buf = np.arange(6, dtype=np.float32)
        mono, ml = batch_downmix(buf, np.array([6]), 1)
        assert list(ml) == [6]
        np.testing.assert_array_equal(mono, buf)

    def test_channel_blocks_overtalk(self):
        import numpy as np

        from top_secret_spark.kernel.audio import batch_channel_blocks

        sr = 1000  # block_ms=10 -> 10 frames per block
        n = 100    # 10 blocks per channel
        ch0 = np.full(n, 0.5, np.float32)
        ch1 = np.zeros(n, np.float32)
        ch1[:50] = 0.5  # voiced first 5 blocks
        inter = np.empty(2 * n, np.float32)
        inter[0::2] = ch0
        inter[1::2] = ch1
        vc, ot, nb = batch_channel_blocks(
            inter, np.array([2 * n]), 2, sr, threshold=0.01, block_ms=10
        )
        assert list(vc[0]) == [10, 5]
        assert int(ot[0]) == 5
        assert int(nb[0]) == 10

    def test_mixed_nch_batch_splits(self):
        import numpy as np

        from top_secret_spark.kernel.audio import (
            decode_sr_nch_groups,
            encode,
        )

        mono = np.full(8, 0.25, np.float32)
        stereo = np.full(12, -0.25, np.float32)
        datas = [encode(mono, "pcm16"), encode(stereo, "pcm16")]
        groups = list(decode_sr_nch_groups(
            datas, np.array(["pcm16", "pcm16"]),
            np.array([8000.0, 8000.0]), np.array([1.0, 2.0]),
        ))
        assert len(groups) == 2
        by_nch = {g[4]: g for g in groups}
        np.testing.assert_allclose(by_nch[1][1], mono, atol=1e-4)
        np.testing.assert_allclose(by_nch[2][1], stereo, atol=1e-4)
        assert by_nch[1][5] == "pcm16"

    def test_downmix_operator_poison_passthrough(self, spark):
        from pyspark.sql import functions as F

        from top_secret_spark.operators.audio import downmix_to_mono
        from top_secret_spark.sources.clips import stereo_clips_df

        out = downmix_to_mono(stereo_clips_df(spark, 12, partitions=2))
        rows = {r.clip_id: r for r in out.withColumn(
            "n_bytes", F.length("bytes")).collect()}
        # class 5 (r=5, 11) is the opus poison: untouched
        assert rows["st-0000000005"].n_bytes == 4
        assert rows["st-0000000005"].n_channels == 2
        # class 0 pcm16 stereo 32000 B -> mono 16000 B
        assert rows["st-0000000000"].n_bytes == 16000
        assert rows["st-0000000000"].n_channels == 1


# --- WAV/RIFF container handling (q100/q101) ---------------------------------


class TestWavContainer:
    def test_header_parse_planted_classes(self, spark):
        from top_secret_spark.operators.audio import with_wav_header
        from top_secret_spark.sources.clips import wav_clips_df

        hdr = with_wav_header(wav_clips_df(spark, 12, partitions=2))
        rows = {r.clip_id: r for r in hdr.collect()}
        r0 = rows["wv-0000000000"]
        assert (r0.wav_issue, r0.fmt_code, r0.sr_hdr, r0.bits_hdr,
                r0.data_off, r0.data_len) == (None, 1, 8000, 16, 45, 16000)
        r1 = rows["wv-0000000001"]
        assert (r1.wav_issue, r1.fmt_code, r1.data_len) == (None, 7, 8000)
        r2 = rows["wv-0000000002"]  # interposed LIST chunk skipped
        assert (r2.wav_issue, r2.data_off, r2.data_len) == (None, 65, 16000)
        assert rows["wv-0000000004"].wav_issue == "truncated_data"
        # truncated rows still expose parsed fmt fields for the audit
        assert rows["wv-0000000004"].sr_hdr == 8000
        r5 = rows["wv-0000000005"]
        assert r5.wav_issue == "not_riff" and r5.fmt_code is None

    def test_wav_audit_plan_is_pure_catalyst(self, spark):
        """The header audit must stay JVM-side: byte slicing + hex +
        conv compile into whole-stage codegen — no Python eval, no
        Exchange; at 10^12 rows the audit is scan-speed."""
        from pyspark.sql import Row

        from top_secret_spark.operators.audio import with_wav_header

        df = spark.createDataFrame(
            [Row(clip_id="a", bytes=bytearray(b"RIFF" + b"\x00" * 100),
                 sr_hz=8000, dur_ms=12, codec="wav", transcript="x")]
        )
        plan = (
            with_wav_header(df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "EvalPython" not in plan
        assert "Exchange" not in plan

    def test_unwrap_rewrites_codec_and_sr(self, spark):
        from pyspark.sql import functions as F

        from top_secret_spark.operators.audio import unwrap_wav
        from top_secret_spark.sources.clips import wav_clips_df

        un = unwrap_wav(wav_clips_df(spark, 12, partitions=2))
        rows = {r.clip_id: r for r in un.withColumn(
            "n_bytes", F.length("bytes")).collect()}
        assert rows["wv-0000000000"].codec == "pcm16"
        assert rows["wv-0000000000"].n_bytes == 16000
        assert rows["wv-0000000001"].codec == "ulaw"
        assert rows["wv-0000000001"].n_bytes == 8000
        # header is authoritative: the sr-mismatch class reads 16000
        assert rows["wv-0000000003"].sr_hz == 16000
        # malformed containers pass through byte-for-byte
        assert rows["wv-0000000004"].codec == "wav"
        assert rows["wv-0000000004"].n_bytes == 16044

    def test_unwrap_roundtrip_bytes_exact(self, spark):
        """Unwrapped payload must equal the encoded source bytes
        exactly — substring math off by one would still often decode."""
        from top_secret_spark.kernel.audio import encode
        from top_secret_spark.operators.audio import unwrap_wav
        from top_secret_spark.sources.clips import _vad_voiced, wav_clips_df

        expected = encode(_vad_voiced(8000), "pcm16")
        un = unwrap_wav(wav_clips_df(spark, 6, partitions=1))
        rows = {r.clip_id: r for r in un.collect()}
        assert bytes(rows["wv-0000000000"].bytes) == expected
        assert bytes(rows["wv-0000000002"].bytes) == expected


# --- declip repair (q104) -----------------------------------------------------


class TestDeclip:
    def test_interior_run_interpolates_exactly(self):
        import numpy as np

        from top_secret_spark.kernel.audio import batch_declip

        ramp = np.linspace(0.2, 0.4, 20).astype(np.float32)
        damaged = ramp.copy()
        damaged[8:12] = 1.0
        out, nc, nr = batch_declip(damaged, np.array([20]), level=0.95)
        assert (int(nc[0]), int(nr[0])) == (4, 4)
        # linear interp between the flanking ramp values == the ramp
        np.testing.assert_allclose(out[8:12], ramp[8:12], atol=1e-6)

    def test_edge_run_held_and_no_cross_clip_leak(self):
        import numpy as np

        from top_secret_spark.kernel.audio import batch_declip

        c0 = np.full(10, 0.4, np.float32)          # ends on 0.4
        c1 = np.full(10, 0.3, np.float32)
        c1[:3] = -1.0                               # clipped head
        out, nc, nr = batch_declip(
            np.concatenate([c0, c1]), np.array([10, 10]), level=0.95
        )
        # held at clip 1's own first good sample, NOT clip 0's tail
        np.testing.assert_allclose(out[10:13], [0.3, 0.3, 0.3], atol=1e-6)
        assert list(nr) == [0, 3]

    def test_all_clipped_left_untouched(self):
        import numpy as np

        from top_secret_spark.kernel.audio import batch_declip

        out, nc, nr = batch_declip(
            np.ones(8, np.float32), np.array([8]), level=0.95
        )
        assert (int(nc[0]), int(nr[0])) == (8, 0)
        np.testing.assert_array_equal(out, np.ones(8, np.float32))

    def test_operator_repairs_payload_in_place(self, spark):
        from top_secret_spark.operators.audio import (
            declipped_clips,
            with_audio_features,
        )
        from top_secret_spark.sources.clips import declip_clips_df

        rep = with_audio_features(
            declipped_clips(declip_clips_df(spark, 8, partitions=2))
        )
        rows = {r.clip_id: r for r in rep.collect()}
        r1 = rows["dc-0000000001"]  # interior run, repaired
        assert (r1.n_clipped, r1.n_repaired) == (500, 500)
        assert r1.clipping_ratio == 0.0
        r3 = rows["dc-0000000003"]  # fully clipped, untouched
        assert (r3.n_clipped, r3.n_repaired) == (8000, 0)
        assert r3.clipping_ratio == 1.0


# --- audio example packing (q105) ---------------------------------------------


class TestPackAudio:
    def _clips(self, spark, n=10):
        import numpy as np

        from top_secret_spark.kernel.audio import encode

        rows = []
        for r in range(n):
            dur = (600, 1000, 1400)[r % 3]
            pcm = np.full(dur * 8, 0.1 + 0.01 * r, np.float32)
            rows.append((f"c{r:04d}", bytearray(encode(pcm, "pcm16")),
                         8000, dur, "pcm16", "t"))
        return spark.createDataFrame(
            rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
                  "codec string, transcript string")

    def test_examples_reassemble_stream_byte_exact(self, spark):
        from top_secret_spark.operators.audio import pack_audio_examples

        df = self._clips(spark)
        res = pack_audio_examples(df, 2500).orderBy("pack_id").collect()
        got = b"".join(bytes(r.bytes) for r in res)
        exp = b"".join(
            bytes(r.bytes)
            for r in df.orderBy("clip_id").select("bytes").collect()
        )
        assert got == exp
        # every example except the last is exactly full
        assert all(len(r.bytes) == 40000 for r in res[:-1])
        assert all(r.dur_ms == 2500 for r in res[:-1])

    def test_straddler_counts_in_both_examples(self, spark):
        from top_secret_spark.operators.audio import pack_audio_examples

        df = self._clips(spark, 4)  # 600+1000+1400+600 = 3600 ms
        res = {r.pack_id: r for r in
               pack_audio_examples(df, 2500).collect()}
        # clip 2 (1600..3000 ms) straddles the 2500 ms boundary
        assert res[0].n_clips == 3
        assert res[1].n_clips == 2  # clip 2 tail + clip 3

    def test_mixed_codec_raises(self, spark):
        import pytest

        from top_secret_spark.operators.audio import pack_audio_examples

        from pyspark.sql import functions as F

        df = self._clips(spark, 4)
        mixed = df.unionByName(
            df.limit(1).withColumn("codec", F.lit("ulaw")))
        with pytest.raises(ValueError, match="ONE \\(codec, sr_hz\\)"):
            pack_audio_examples(mixed, 2500)

    def test_declared_codec_equals_inferred(self, spark):
        # the declared-(codec, sr) scale path (no inference scan) must
        # produce byte-identical examples to the inferred path
        from top_secret_spark.operators.audio import pack_audio_examples

        df = self._clips(spark)
        inferred = pack_audio_examples(df, 2500).orderBy("pack_id").collect()
        declared = pack_audio_examples(
            df, 2500, codec="pcm16", sr_hz=8000
        ).orderBy("pack_id").collect()
        assert [tuple(r) for r in inferred] == [tuple(r) for r in declared]

    def test_declared_mismatch_fails_per_row(self, spark):
        # a row whose metadata contradicts the declaration must fail the
        # JOB (wrong byte width corrupts every example after it) — from
        # inside the Catalyst stage, not an extra validation scan
        import pytest
        from pyspark.sql import functions as F

        from top_secret_spark.operators.audio import pack_audio_examples

        df = self._clips(spark, 4)
        mixed = df.unionByName(
            df.limit(1).withColumn("codec", F.lit("ulaw")))
        # the offset prefix-sum materializes inside the transform, so the
        # per-row assert fires on the construction call already
        with pytest.raises(Exception, match="declared"):
            pack_audio_examples(
                mixed, 2500, codec="pcm16", sr_hz=8000
            ).collect()


# --- cross-modal conjunctive dedup (q107) ------------------------------------


class TestCrossModalDedup:
    def test_only_both_match_collapses(self, spark):
        from pyspark.sql import functions as F

        from top_secret_spark.operators.audio import dedup_cross_modal
        from top_secret_spark.sources.clips import xmodal_clips_df

        surv = dedup_cross_modal(xmodal_clips_df(spark, 48, partitions=2))
        ids = sorted(
            int(r.clip_id[3:]) for r in surv.select("clip_id").collect()
        )
        for r in range(48):
            g, m = divmod(r, 3)
            expected_survives = not (g % 4 == 0 and m > 0)
            assert (r in ids) == expected_survives, (r, g, m)

    def test_undecodable_audio_never_collapses(self, spark):
        from top_secret_spark.operators.audio import dedup_cross_modal

        rows = [
            ("a", bytearray(b"\x00\x01"), 8000, 10, "opus", "same text"),
            ("b", bytearray(b"\x00\x01"), 8000, 10, "opus", "same text"),
        ]
        df = spark.createDataFrame(
            rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
                  "codec string, transcript string")
        # same transcript, same (unverifiable) bytes: both must survive
        assert dedup_cross_modal(df).count() == 2


def test_regime_split_kernels_bit_identical(monkeypatch):
    """declip / downmix / denoise clip-aligned chunking must equal the
    unchunked full-batch path bit for bit (per-clip independence makes
    it a pure layout change)."""
    import numpy as np

    import top_secret_spark.kernel.audio as ka
    import top_secret_spark.kernel.spectral as ks

    rng = np.random.default_rng(5)
    clips = [rng.uniform(-1, 1, x).astype(np.float32)
             for x in (4000, 5000, 3500)]
    for c in clips:
        c[100:200] = 1.0
    buf = np.concatenate(clips)
    lens = np.array([len(c) for c in clips])

    monkeypatch.setattr(ka, "DECLIP_CHUNK_SAMPLES", 10 ** 12)
    monkeypatch.setattr(ka, "DOWNMIX_CHUNK_SAMPLES", 10 ** 12)
    a1 = ka.batch_declip(buf.copy(), lens)
    d1 = ka.batch_downmix(buf.copy(), lens, 2)
    n1 = ks.batch_denoise(buf.copy(), lens, 16000)
    monkeypatch.undo()
    # force every chunk path (tiny bound -> one clip per chunk; an
    # oversize clip still gets its own chunk)
    monkeypatch.setattr(ka, "DECLIP_CHUNK_SAMPLES", 4096)
    monkeypatch.setattr(ka, "DOWNMIX_CHUNK_SAMPLES", 4096)
    monkeypatch.setattr(ks, "DENOISE_CHUNK_SAMPLES", 4096)
    a2 = ka.batch_declip(buf.copy(), lens)
    d2 = ka.batch_downmix(buf.copy(), lens, 2)
    n2 = ks.batch_denoise(buf.copy(), lens, 16000)
    monkeypatch.undo()

    np.testing.assert_array_equal(a1[0], a2[0])
    assert list(a1[1]) == list(a2[1]) and list(a1[2]) == list(a2[2])
    np.testing.assert_array_equal(d1[0], d2[0])
    assert list(d1[1]) == list(d2[1])
    np.testing.assert_array_equal(n1[0], n2[0])
    assert list(n1[1]) == list(n2[1])


def test_wav_header_poison_rows_never_kill_the_stage(spark):
    """Adversarial containers — a LYING 32-bit chunk size (would
    overflow the int cast under ANSI and abort the stage), sub-header
    payloads, empty and NULL bytes — must resolve to verdicts, never
    exceptions."""
    import struct

    from top_secret_spark.operators.audio import with_wav_header

    hdr = (b"RIFF" + struct.pack("<I", 100) + b"WAVE" + b"fmt "
           + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16))
    evil = hdr + b"LIST" + struct.pack("<I", 0xFFFFFFF0) + b"xx"
    rows = [("evil", bytearray(evil)), ("tiny", bytearray(b"RI")),
            ("empty", bytearray(b"")), ("null", None),
            ("short44", bytearray(b"RIFF" + b"\x00" * 40))]
    df = spark.createDataFrame(
        [(i, b, 8000, 10, "wav", "t") for i, b in rows],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string")
    got = {r.clip_id: r.wav_issue for r in with_wav_header(df).collect()}
    assert got == {
        "evil": "no_data",
        "tiny": "not_riff",
        "empty": "not_riff",
        "null": "null_payload",
        "short44": "not_wave",
    }


def test_wav_header_refuses_columns_named_like_its_temporaries(spark):
    """An input column named like one of the ``_w_*`` staging
    temporaries would be silently overwritten and then dropped; the
    operator refuses it at plan time, naming the clash."""
    from top_secret_spark.operators.audio import with_wav_header

    df = spark.createDataFrame(
        [("a", bytearray(b"RIFF"), 1, 2)],
        "clip_id string, bytes binary, _w_sr int, _w_issue int",
    )
    with pytest.raises(ValueError, match=r"\['_w_issue', '_w_sr'\]"):
        with_wav_header(df)
    # a non-clashing frame still plans
    assert "wav_issue" in with_wav_header(df.drop("_w_sr", "_w_issue")).columns


def test_speaker_turns_kernel_semantics():
    """Turns count only single-voiced handoffs; silence/overlap blocks
    neither add nor break; mono never turns; no cross-clip carryover."""
    import numpy as np

    from top_secret_spark.kernel.audio import batch_speaker_turns

    sr, b = 1000, 10

    def seg(ch, nblocks=2):
        s = np.zeros((nblocks * b, 2), np.float32)
        s[:, ch] = 0.5
        return s

    # clip 0 ends on ch1; clip 1 starts on ch0 — no carryover turn
    c0 = np.concatenate([seg(0), seg(1)]).ravel()
    c1 = np.concatenate([seg(0), np.zeros((20, 2), np.float32), seg(0)]).ravel()
    t, nb = batch_speaker_turns(
        np.concatenate([c0, c1]), np.array([len(c0), len(c1)]), 2, sr
    )
    assert list(t) == [1, 0]
    # mono input: zero turns by definition
    mono = np.full(100, 0.5, np.float32)
    t2, _ = batch_speaker_turns(mono, np.array([100]), 1, sr)
    assert list(t2) == [0]


# --- codec-family verification ---------------------------------------------------


def _speechish(seed=0, n=4800, sr=16000):
    rng = np.random.default_rng(seed)
    t = np.arange(n, dtype=np.float64) / sr
    return (0.3 * np.sin(2 * np.pi * 220 * t)
            + 0.1 * np.sin(2 * np.pi * 520 * t)
            + 0.02 * rng.standard_normal(n)).astype(np.float32)


def test_codec_family_rho_separation():
    from top_secret_spark.kernel.audio import batch_codec_family, encode

    x = _speechish()
    rp, rc = batch_codec_family([encode(x, "pcm16"), encode(x, "ulaw"),
                                 encode(x, "alaw")])
    assert rp[0] > 0.95 and rc[0] < 0.5          # pcm16 bytes
    assert rc[1] > 0.95 and rp[1] < rc[1] - 0.1  # ulaw bytes
    assert rc[2] > 0.95 and rp[2] < rc[2] - 0.1  # alaw bytes (same family)


def test_codec_family_degenerate_payloads_unassertable():
    from top_secret_spark.kernel.audio import batch_codec_family

    rp, rc = batch_codec_family([b"", None, b"\x00", b"\x00\x00" * 50])
    # constant payloads have zero variance under both hypotheses
    assert rp[0] == rc[0] == 0.0
    assert rp[1] == rc[1] == 0.0
    assert rp[2] == rc[2] == 0.0
    assert rp[3] == 0.0 and rc[3] == 0.0


def test_codec_family_segment_isolation():
    """A short/degenerate clip between real clips must not leak into
    its neighbours' statistics (cumsum-difference segmentation)."""
    from top_secret_spark.kernel.audio import batch_codec_family, encode

    x = _speechish(seed=1)
    solo = batch_codec_family([encode(x, "ulaw")])
    mixed = batch_codec_family(
        [encode(x, "ulaw"), b"\x00", encode(x, "ulaw"), b""]
    )
    assert abs(mixed[1][0] - solo[1][0]) < 1e-12
    assert abs(mixed[1][2] - solo[1][0]) < 1e-12


def test_with_codec_verify_operator(spark):
    from pyspark.sql import Row

    from top_secret_spark.operators.audio import (
        codec_mismatch_reason_col,
        with_codec_verify,
    )
    from top_secret_spark.sources.clips import codec_lie_clips_df

    out = with_codec_verify(codec_lie_clips_df(spark, 16, partitions=2))
    out = out.withColumn("reason", codec_mismatch_reason_col())
    assert "bytes" in out.columns  # runs BEFORE decode, keeps payloads
    for r in out.collect():
        assert r["codec_verified"]
        if r["transcript"].startswith("lie"):
            assert r["codec_mismatch"] and r["reason"] == "codec_mismatch"
        else:
            assert not r["codec_mismatch"] and r["reason"] is None
    # unknown codec and NULL payload: unverifiable, never asserted
    rows = [Row(clip_id="wav", bytes=bytearray(b"RIFF" * 300), sr_hz=16000,
                dur_ms=0, codec="wav", transcript=""),
            Row(clip_id="null", bytes=None, sr_hz=16000,
                dur_ms=0, codec="pcm16", transcript="")]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    bad = with_codec_verify(spark.createDataFrame(rows, schema))
    for r in bad.collect():
        assert not r["codec_verified"] and not r["codec_mismatch"]
        assert r["codec_family_detected"] is None


def test_with_codec_verify_unknown_codec_smooth_payload_never_asserted(spark):
    """Regression: a codec OUTSIDE the raw families whose payload IS
    smooth audio (rho would verify) must still read verified=false —
    pandas .map(dict) yields NaN for unmapped codecs and NaN is not
    None, so an identity check silently asserted mismatches on e.g.
    containers (q100/q101 own those)."""
    from pyspark.sql import Row

    from top_secret_spark.kernel.audio import encode
    from top_secret_spark.operators.audio import with_codec_verify

    pcm = _speechish(seed=5)
    rows = [
        Row(clip_id="wavlike", bytes=bytearray(encode(pcm, "pcm16")),
            sr_hz=16000, dur_ms=300, codec="wav", transcript=""),
        Row(clip_id="nullcodec", bytes=bytearray(encode(pcm, "pcm16")),
            sr_hz=16000, dur_ms=300, codec=None, transcript=""),
    ]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    out = with_codec_verify(spark.createDataFrame(rows, schema))
    for r in out.collect():
        assert not r["codec_verified"] and not r["codec_mismatch"], r
        assert r["codec_family_detected"] is None


@given(
    lens=st.lists(st.integers(min_value=0, max_value=3000),
                  min_size=1, max_size=8),
    seed=st.integers(min_value=0, max_value=500),
)
@settings(max_examples=15, deadline=None)
def test_codec_family_batch_matches_single_over_random_layouts(lens, seed):
    """Batched rho must equal per-clip calls for any layout, including
    odd byte lengths and empty payloads interleaved."""
    from top_secret_spark.kernel.audio import batch_codec_family

    rng = np.random.default_rng(seed)
    datas = []
    for i, ln in enumerate(lens):
        if ln == 0:
            datas.append(b"" if i % 2 else None)
        else:
            datas.append(rng.integers(0, 256, ln, dtype=np.uint8).tobytes())
    bp, bc = batch_codec_family(datas)
    for i, d in enumerate(datas):
        sp, sc = batch_codec_family([d])
        np.testing.assert_allclose(bp[i], sp[0], atol=1e-12)
        np.testing.assert_allclose(bc[i], sc[0], atol=1e-12)


def test_padded_clips_byte_exactness_and_decode(spark):
    """Padded payloads decode to the original samples followed by exact
    digital silence; truncation decodes to the original prefix."""
    from pyspark.sql import Row

    from top_secret_spark.kernel.audio import decode, encode
    from top_secret_spark.operators.audio import padded_clips

    sr = 16000
    x = _speechish(seed=2, n=1000)
    rows = [
        Row(clip_id="short_pcm", bytes=bytearray(encode(x, "pcm16")),
            sr_hz=sr, dur_ms=62, codec="pcm16", transcript=""),
        Row(clip_id="short_ulaw", bytes=bytearray(encode(x, "ulaw")),
            sr_hz=sr, dur_ms=62, codec="ulaw", transcript=""),
        Row(clip_id="long", bytes=bytearray(encode(_speechish(seed=3, n=9000), "pcm16")),
            sr_hz=sr, dur_ms=562, codec="pcm16", transcript=""),
        Row(clip_id="nullbytes", bytes=None,
            sr_hz=sr, dur_ms=0, codec="pcm16", transcript=""),
        Row(clip_id="unknown", bytes=bytearray(b"RIFFdata"),
            sr_hz=sr, dur_ms=0, codec="wav", transcript=""),
    ]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    out = {r["clip_id"]: r for r in padded_clips(
        spark.createDataFrame(rows, schema), target_ms=300
    ).collect()}
    target = 4800
    for cid, codec, n0 in (("short_pcm", "pcm16", 1000),
                           ("short_ulaw", "ulaw", 1000)):
        r = out[cid]
        assert r["pad_ok"] and r["n_pad_samples"] == target - n0
        assert r["dur_ms"] == 300
        pcm = decode(bytes(r["bytes"]), codec)
        assert len(pcm) == target
        np.testing.assert_array_equal(
            pcm[:n0], decode(bytes(rows[0 if codec == "pcm16" else 1]["bytes"]), codec)
        )
        assert np.abs(pcm[n0:]).max() <= 1e-2  # digital-zero code
    r = out["long"]
    assert r["pad_ok"] and r["n_pad_samples"] == 0 and r["dur_ms"] == 300
    assert len(decode(bytes(r["bytes"]), "pcm16")) == target
    assert out["nullbytes"]["bytes"] is None
    assert not out["nullbytes"]["pad_ok"]
    assert bytes(out["unknown"]["bytes"]) == b"RIFFdata"
    assert not out["unknown"]["pad_ok"]


def test_padded_clips_plan_is_pure_catalyst(spark):
    from top_secret_spark.operators.audio import padded_clips
    from top_secret_spark.sources.clips import pitch_clips_df

    out = padded_clips(pitch_clips_df(spark, 8, partitions=2), target_ms=400)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one MapInPandas = the fixture generator; the padding adds none
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_padded_clips_rejects_bad_target(spark):
    import pytest

    from top_secret_spark.operators.audio import padded_clips
    from top_secret_spark.sources.clips import pitch_clips_df

    with pytest.raises(ValueError, match="target_ms"):
        padded_clips(pitch_clips_df(spark, 4, partitions=1), target_ms=0)


def test_padded_clips_degenerate_sr_passes_through(spark):
    """sr_hz metadata so low that target quantizes to ZERO samples must
    pass through (pad_ok=false, payload untouched) — truncating to an
    empty payload while claiming pad_ok would poison a training loader."""
    import pandas as pd

    from top_secret_spark.kernel.audio import encode, synth_pcm
    from top_secret_spark.operators.audio import padded_clips

    pcm = synth_pcm(3, 800, 8000)
    pdf = pd.DataFrame([
        {"clip_id": "lo-0", "bytes": encode(pcm, "pcm16"), "sr_hz": 1,
         "dur_ms": 100, "codec": "pcm16", "transcript": None},
    ])
    pdf["sr_hz"] = pdf["sr_hz"].astype("int32")
    pdf["dur_ms"] = pdf["dur_ms"].astype("int32")
    out = padded_clips(spark.createDataFrame(pdf), target_ms=300).collect()[0]
    assert out["pad_ok"] is False
    assert bytes(out["bytes"]) == bytes(pdf["bytes"].iloc[0])
    assert out["dur_ms"] == 100 and out["n_pad_samples"] == 0


def test_digital_zero_hex_matches_codec_encoders():
    """The _DIGITAL_ZERO_HEX map the byte-splice operators write silence
    with must equal each codec's actual encoding of silence."""
    import numpy as np

    from top_secret_spark.kernel.audio import encode
    from top_secret_spark.operators.audio import (
        _BYTES_PER_SAMPLE,
        _DIGITAL_ZERO_HEX,
    )

    assert tuple(_DIGITAL_ZERO_HEX) == tuple(_BYTES_PER_SAMPLE)
    for codec, hexcode in _DIGITAL_ZERO_HEX.items():
        assert encode(np.zeros(4, np.float32), codec) == bytes.fromhex(
            hexcode
        ) * 4


class TestWavSpecConformant:
    """Real-tool WAV layouts the fixed-offset parser used to misread:
    G.711 files carry an 18-byte fmt (cbSize) plus a fact chunk, and
    interposed chunks may have ODD sizes (RIFF pads them to even)."""

    def _df(self, spark, data):
        return spark.createDataFrame(
            [("w", bytearray(data), 8000, 1000, "wav", None)],
            "clip_id string, bytes binary, sr_hz int, dur_ms int, "
            "codec string, transcript string",
        )

    def test_g711_fmt18_with_fact_chunk_parses(self, spark):
        import struct

        from top_secret_spark.kernel.audio import encode, synth_pcm
        from top_secret_spark.operators.audio import (
            unwrap_wav,
            with_wav_header,
        )
        from top_secret_spark.sources.clips import _wav_bytes

        payload = encode(synth_pcm(11, 8000, 8000), "ulaw")
        fact = b"fact" + struct.pack("<I", 4) + struct.pack("<I", 8000)
        data = _wav_bytes(
            payload, 7, 1, 8000, 8, extra_chunk=fact,
            fmt_ext=struct.pack("<H", 0),  # cbSize=0 -> 18-byte fmt
        )
        r = with_wav_header(self._df(spark, data)).collect()[0]
        assert r.wav_issue is None and r.fmt_code == 7
        assert r.data_len == len(payload)
        u = unwrap_wav(self._df(spark, data)).collect()[0]
        assert bytes(u.bytes) == payload and u.codec == "ulaw"

    def test_odd_size_interposed_chunk_padded(self, spark):
        from top_secret_spark.kernel.audio import encode, synth_pcm
        from top_secret_spark.operators.audio import with_wav_header
        from top_secret_spark.sources.clips import _wav_bytes

        payload = encode(synth_pcm(12, 4000, 8000), "pcm16")
        odd = b"LIST" + (11).to_bytes(4, "little") + b"INFOisft-te" + b"\x00"
        data = _wav_bytes(payload, 1, 1, 8000, 16, extra_chunk=odd)
        r = with_wav_header(self._df(spark, data)).collect()[0]
        assert r.wav_issue is None and r.data_len == len(payload)

    def test_short_fmt_reads_bad_fmt(self, spark):
        import struct

        from top_secret_spark.operators.audio import with_wav_header

        # hand-build a 14-byte fmt chunk (below the 16 mandatory bytes)
        fmt_body = struct.pack("<HHIIH", 1, 1, 8000, 16000, 2)
        chunks = b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
        chunks += b"data" + struct.pack("<I", 4) + b"\x00" * 4
        data = (b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
                + chunks + b"\x00" * 10)
        r = with_wav_header(self._df(spark, data)).collect()[0]
        assert r.wav_issue == "bad_fmt"


def test_pack_partial_declaration_raises(spark):
    import pytest

    from top_secret_spark.operators.audio import pack_audio_examples

    df = TestPackAudio._clips(TestPackAudio, spark, 4)
    with pytest.raises(ValueError, match="BOTH codec and sr_hz"):
        pack_audio_examples(df, 2500, codec="pcm16")
    with pytest.raises(ValueError, match="BOTH codec and sr_hz"):
        pack_audio_examples(df, 2500, sr_hz=8000)
