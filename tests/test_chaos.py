"""Poison-row chaos sweep over the audio operator surface.

The engine's poison-row contract (operators/audio.py module doc, north
rule): a malformed row must never kill a 1000-executor stage — analysis
operators flag it (ok=false) or skip it observably; pure-Catalyst
transforms pass it through; the strict payload transforms refuse it with
one ValueError naming the row.  Per-operator tests pin individual poison
classes; this sweep drives EVERY audio-facing operator over one frame
holding the full cross-product of malformed inputs (NULL/empty/odd
payloads, unknown/NULL codecs, zero/negative/NULL rates and durations,
NULL transcripts, bad channel counts) so a missed guard in any operator
fails here even before its own test grows the class.

Found-by-sweep regression this file pins: frame_energy_df and
decoded_pcm_df crashed the stage on an odd-length pcm16 payload
(frombuffer alignment) instead of skipping it.
"""

import numpy as np
import pytest
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SCHEMA = StructType([
    StructField("clip_id", StringType()),
    StructField("bytes", BinaryType()),
    StructField("sr_hz", IntegerType()),
    StructField("dur_ms", IntegerType()),
    StructField("codec", StringType()),
    StructField("transcript", StringType()),
    StructField("n_channels", IntegerType()),
])

_RNG = np.random.default_rng(7)
PCM = (_RNG.standard_normal(1600) * 3000).astype("<i2").tobytes()
BY8 = bytes(_RNG.integers(0, 256, 1600, dtype=np.uint8))

ROWS = [
    ("ok_pcm16",      PCM,   16000, 100,  "pcm16", "a clean test clip", 1),
    ("ok_ulaw",       BY8,   8000,  200,  "ulaw",  "mu law clip", 1),
    ("ok_alaw",       BY8,   8000,  200,  "alaw",  "a law clip", 1),
    ("ok_adpcm",      BY8,   16000, 200,  "adpcm", "adpcm clip", 1),
    ("null_bytes",    None,  16000, 100,  "pcm16", "text", 1),
    ("empty_bytes",   b"",   16000, 0,    "pcm16", "text", 1),
    ("odd_pcm16",     PCM + b"\x01", 16000, 100, "pcm16", "text", 1),
    ("one_byte",      b"\x05", 16000, 0,  "pcm16", "text", 1),
    ("two_byte",      b"\x05\x01", 16000, 0, "pcm16", "text", 1),
    ("unknown_codec", PCM,   16000, 100,  "opus",  "text", 1),
    ("null_codec",    PCM,   16000, 100,  None,    "text", 1),
    ("zero_sr",       PCM,   0,     100,  "pcm16", "text", 1),
    ("neg_sr",        PCM,   -8000, 100,  "pcm16", "text", 1),
    ("null_sr",       PCM,   None,  100,  "pcm16", "text", 1),
    ("zero_dur",      PCM,   16000, 0,    "pcm16", "text", 1),
    ("null_dur",      PCM,   16000, None, "pcm16", "text", 1),
    ("neg_dur",       PCM,   16000, -5,   "pcm16", "text", 1),
    ("null_tx",       PCM,   16000, 100,  "pcm16", None, 1),
    ("empty_tx",      PCM,   16000, 100,  "pcm16", "", 1),
    ("dur_mismatch",  PCM,   16000, 5000, "pcm16", "text", 1),
    ("nch0",          PCM,   16000, 100,  "pcm16", "text", 0),
    ("nch_null",      PCM,   16000, 100,  "pcm16", "text", None),
    ("nch3",          PCM,   16000, 100,  "pcm16", "text", 3),
    ("nch2_oddframes", PCM + b"\x00\x01", 16000, 100, "pcm16", "text", 2),
    ("nch2_ok",       PCM,   16000, 50,   "pcm16", "text", 2),
]

ALL_IDS = {r[0] for r in ROWS}
# undecodable at the payload/codec level (any sr)
UNDECODABLE = {"null_bytes", "odd_pcm16", "one_byte", "unknown_codec",
               "null_codec"}
BAD_SR = {"zero_sr", "neg_sr", "null_sr"}


@pytest.fixture(scope="module")
def chaos(spark):
    return spark.createDataFrame(ROWS, SCHEMA).repartition(3).cache()


def _ops():
    import top_secret_spark.operators.audio as A

    return [
        ("with_audio_features",    lambda d: A.with_audio_features(d)),
        ("with_spectral_features", lambda d: A.with_spectral_features(d)),
        ("with_log_mel",           lambda d: A.with_log_mel(d)),
        ("with_mfcc",              lambda d: A.with_mfcc(d)),
        ("with_snr_estimate",      lambda d: A.with_snr_estimate(d)),
        ("with_bandwidth",         lambda d: A.with_bandwidth(d)),
        ("with_speech_activity",   lambda d: A.with_speech_activity(d)),
        ("with_pitch",             lambda d: A.with_pitch(d)),
        ("with_reverb",            lambda d: A.with_reverb(d)),
        ("with_voice_health",      lambda d: A.with_voice_health(d)),
        ("with_channel_stats",     lambda d: A.with_channel_stats(d)),
        ("with_speaker_turns",     lambda d: A.with_speaker_turns(d)),
        ("with_tempo_fingerprint", lambda d: A.with_tempo_fingerprint(d)),
        ("with_codec_verify",      lambda d: A.with_codec_verify(d)),
        ("with_speaking_rate",     lambda d: A.with_speaking_rate(d)),
        ("with_wav_header",        lambda d: A.with_wav_header(d)),
        ("with_audio_keep_drop",   lambda d: A.with_audio_keep_drop(d)),
        ("frame_energy_df",        lambda d: A.frame_energy_df(d)),
        ("audio_window_hashes",    lambda d: A.audio_window_hashes(d)),
        ("audio_cdc_segments",     lambda d: A.audio_cdc_segments(d)),
        ("decoded_pcm_df",         lambda d: A.decoded_pcm_df(d)),
        ("chunked_clips",          lambda d: A.chunked_clips(d, 50)),
        ("time_masked_clips",      lambda d: A.time_masked_clips(d)),
        ("padded_clips",           lambda d: A.padded_clips(d, 80)),
        ("unwrap_wav",             lambda d: A.unwrap_wav(d)),
        ("declipped_clips",        lambda d: A.declipped_clips(d)),
        ("denoised_clips",         lambda d: A.denoised_clips(d)),
        ("downmix_to_mono",        lambda d: A.downmix_to_mono(d)),
        ("with_metadata_audit",    _metadata_audit),
    ]


def _metadata_audit(d):
    # ANSI-mode hazard this pins: the duration-mismatch arm divides by
    # sr_hz; zero/negative rates must be caught by the earlier
    # bad_sample_rate CASE arm (CaseWhen short-circuits), never reach
    # the division
    from top_secret_spark.operators.integrity import with_metadata_audit

    return with_metadata_audit(d)


def test_no_audio_operator_dies_on_poison(chaos):
    """Every analysis operator and passthrough transform must fully
    materialize the chaos frame — a poison row is flagged or skipped,
    never a stage kill."""
    failures = []
    for name, fn in _ops():
        try:
            # collect(), not count(): Catalyst prunes unreferenced
            # computed columns under count(), so a count-only sweep
            # never executes pure-Catalyst poison expressions (ANSI
            # divisions, CASE arms) — exactly the class this pins
            fn(chaos).collect()
        except Exception as e:  # noqa: BLE001 — collecting the sweep
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)


# The nine sr-group feature operators: emitted DDL (names, order and
# types exactly as planned; every field nullable) and the value each
# field holds on a row the decode never yields (payload/codec poison or
# a NULL / non-positive sr).
_PITCH = ("pitch_ok boolean, f0_hz double, voiced_ratio double, "
          "n_pitch_frames int",
          {"pitch_ok": False, "f0_hz": 0.0, "voiced_ratio": 0.0,
           "n_pitch_frames": 0})
_REVERB = ("reverb_ok boolean, rt60_s double, n_decay_pairs int, "
           "n_reverb_frames int",
           {"reverb_ok": False, "rt60_s": 0.0, "n_decay_pairs": 0,
            "n_reverb_frames": 0})
_SNR = ("snr_ok boolean, snr_est_db double, snr_n_frames int",
        {"snr_ok": False, "snr_est_db": 0.0, "snr_n_frames": 0})
SR_FEATURE_OPS = {
    "with_spectral_features": (
        "spectral_ok boolean, spectral_centroid_hz double, "
        "spectral_flatness double, n_frames bigint",
        {"spectral_ok": False, "spectral_centroid_hz": 0.0,
         "spectral_flatness": 1.0, "n_frames": 0}),
    "with_log_mel": (
        "mel_ok boolean, log_mel array<array<float>>, n_mel_frames int, "
        "mel_argmax_hz double",
        {"mel_ok": False, "log_mel": [], "n_mel_frames": 0,
         "mel_argmax_hz": 0.0}),
    "with_snr_estimate": _SNR,
    "with_mfcc": (
        "mfcc_ok boolean, mfcc array<array<float>>, n_mfcc_frames int, "
        "mfcc_c0_mean double, mfcc_c1_mean double",
        {"mfcc_ok": False, "mfcc": [], "n_mfcc_frames": 0,
         "mfcc_c0_mean": 0.0, "mfcc_c1_mean": 0.0}),
    "with_bandwidth": (
        "bw_ok boolean, rolloff_hz double, bw_n_frames int, "
        "upsampled_suspect boolean",
        {"bw_ok": False, "rolloff_hz": 0.0, "bw_n_frames": 0,
         "upsampled_suspect": False}),
    "with_speech_activity": (
        "vad_ok boolean, speech_ratio double, n_speech_segments int",
        {"vad_ok": False, "speech_ratio": 0.0, "n_speech_segments": 0}),
    "with_pitch": _PITCH,
    "with_reverb": _REVERB,
    "with_voice_health": (
        ", ".join(d for d, _ in (_PITCH, _REVERB, _SNR)),
        {**_PITCH[1], **_REVERB[1], **_SNR[1]}),
}


@pytest.mark.parametrize("keep_bytes", [False, True])
def test_sr_feature_operator_schemas_pinned(chaos, keep_bytes):
    """Plan-time schema of every sr-group feature operator: carried
    input columns in input order (``bytes`` only with keep_bytes), then
    the emitted fields — names, order, types and nullability."""
    from pyspark.sql.types import DataType

    import top_secret_spark.operators.audio as A

    carried = ("clip_id string, " + ("bytes binary, " if keep_bytes else "")
               + "sr_hz int, dur_ms int, codec string, transcript string, "
               "n_channels int")
    for name, (ddl, _) in SR_FEATURE_OPS.items():
        got = getattr(A, name)(chaos, keep_bytes=keep_bytes).schema
        assert got == DataType.fromDDL(f"{carried}, {ddl}"), (
            name, got.simpleString())
        assert all(f.nullable for f in got.fields), name


def test_sr_feature_operators_default_poison_rows(chaos):
    """Every row the decode never yields — undecodable payload or codec,
    NULL or non-positive sr — reads ``<x>_ok = false`` with the default
    measurements (0, 0.0, flatness 1.0, empty matrices), and the clean
    pcm16 row reads ok."""
    import top_secret_spark.operators.audio as A

    poison = UNDECODABLE | BAD_SR
    for name, (_, defaults) in SR_FEATURE_OPS.items():
        rows = {r["clip_id"]: r for r in getattr(A, name)(chaos).collect()}
        assert set(rows) == ALL_IDS, name
        oks = [f for f in defaults if f.endswith("_ok")]
        assert all(rows["ok_pcm16"][f] for f in oks), name
        for cid in poison:
            got = {f: rows[cid][f] for f in defaults}
            assert got == defaults, (name, cid, got)


def test_decode_ok_flags_exactly_the_decodable_rows(chaos):
    from top_secret_spark.operators.audio import with_audio_features

    rows = with_audio_features(chaos).select("clip_id", "decode_ok").collect()
    ok = {r["clip_id"] for r in rows if r["decode_ok"]}
    assert ok == ALL_IDS - UNDECODABLE


def test_decoded_pcm_df_skips_poison_rows_observably(chaos):
    from top_secret_spark.operators.audio import decoded_pcm_df

    rows = decoded_pcm_df(chaos).collect()
    emitted = {r["clip_id"] for r in rows}
    # codec/payload guard only — sr does not matter for raw decode
    assert emitted == ALL_IDS - UNDECODABLE
    by_id = {r["clip_id"]: r["pcm"] for r in rows}
    # the clean pcm16 row decodes to the planted samples
    want = np.frombuffer(PCM, dtype="<i2").astype(np.float64) / 32767.0
    got = np.array(by_id["ok_pcm16"], dtype=np.float64)
    assert np.allclose(got, want, atol=1e-6)
    assert by_id["empty_bytes"] == []


TEXT_ROWS = [
    ("ok", "A normal clean document with some words in it. " * 3),
    ("null_tx", None),
    ("empty", ""),
    ("ws_only", " \t\n   "),
    ("huge", "word " * 50000),
    ("one_char", "x"),
    ("unicode", "héllo wörld — ∑∆ 中文 📣 ́​﻿"),
    ("newlines", "\n\n\n\n"),
    ("control", "a\x00b\x07c\x1bd"),
    ("rtl", "مرحبا بالعالم שלום עולם"),
    ("long_word", "a" * 20000),
    ("digits", "1234567890 " * 50),
    ("symbols", "!@#$%^&*()_+ " * 40),
]


def test_no_text_operator_dies_on_poison(spark):
    """Same sweep discipline over the text surface: NULL / empty /
    whitespace-only / huge / control-char / RTL / zero-width documents
    through every text-facing operator family — flagged or defaulted,
    never a stage kill."""
    import pyspark.sql.functions as F

    import top_secret_spark.operators.dedup as D
    import top_secret_spark.operators.lm as L
    import top_secret_spark.operators.quality as Q
    import top_secret_spark.operators.repetition as R
    import top_secret_spark.operators.sampling as SA
    import top_secret_spark.operators.similarity as S
    import top_secret_spark.operators.text_analysis as T
    from top_secret_spark.operators.scrub import with_restore, with_scrub
    from top_secret_spark.pipeline import PipelineConfig, run_pipeline

    df = spark.createDataFrame(TEXT_ROWS, ["doc_id", "text"]).repartition(3)
    tx = (df.withColumnRenamed("text", "transcript")
            .withColumn("clip_id", F.col("doc_id"))
            .withColumn("dur_ms", F.lit(100)))

    ops = [
        ("with_clean_text", lambda: T.with_clean_text(df, text_col="text")),
        ("collapse_repeated_lines",
         lambda: T.collapse_repeated_lines(df, text_col="text")),
        ("top_terms", lambda: T.top_terms(df, text_col="text", k=5)),
        ("with_text_analysis", lambda: T.with_text_analysis(df)),
        ("with_oov_rate",
         lambda: T.with_oov_rate(tx, lexicon=["the", "a", "word"])),
        ("with_compression_ratio", lambda: T.with_compression_ratio(tx)),
        ("chunk_text",
         lambda: T.chunk_text(df, text_col="text", max_chars=40,
                              overlap_chars=10)),
        ("with_spoken_form", lambda: T.with_spoken_form(tx)),
        ("with_quality_signals", lambda: Q.with_quality_signals(tx)),
        ("quality_rule_audit", lambda: Q.quality_rule_audit(tx)),
        ("with_repetition_signals",
         lambda: R.with_repetition_signals(tx, text_col="transcript")),
        ("dedup_exact", lambda: D.dedup_exact(df, text_col="text")),
        ("dedup_lines", lambda: D.dedup_lines(df, text_col="text")),
        ("minhash", lambda: D.near_duplicates_minhash(
            df, text_col="text", id_col="doc_id")),
        ("simhash", lambda: D.near_duplicates_simhash(
            df, text_col="text", id_col="doc_id")),
        ("with_text_embedding",
         lambda: S.with_text_embedding(df, text_col="text")),
        ("scrub_restore",
         lambda: with_restore(with_scrub(df, text_col="text"))),
        ("pipeline_text",
         lambda: run_pipeline(tx, PipelineConfig(include_audio=False))),
        ("fit_ngram_counts", lambda: L.fit_ngram_counts(df, text_col="text")),
        # string ids must be hashed before keyed sampling (the
        # plan-time integral-key gate's documented remedy)
        ("with_split", lambda: SA.with_split(
            df.withColumn("key", F.xxhash64("doc_id")), key_col="key")),
    ]
    failures = []
    for name, fn in ops:
        try:
            fn().collect()  # collect: count() would prune Catalyst exprs
        except Exception as e:  # noqa: BLE001 — collecting the sweep
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)

    # poison documents reach a decision, not an error: NULL text drops
    out = run_pipeline(tx, PipelineConfig(include_audio=False))
    got = {r["doc_id"]: r for r in
           out.select("doc_id", "keep", "drop_reason").collect()}
    assert len(got) == len(TEXT_ROWS)
    assert not got["null_tx"]["keep"]
    assert not got["empty"]["keep"]


def _emb_rows(dim):
    def v(seed):
        r = np.random.default_rng(seed).standard_normal(dim)
        return (r / np.linalg.norm(r)).astype("float32").tolist()

    return [
        (1, v(1), "ok1"), (2, v(2), "ok2"), (3, v(3), "ok3"),
        (12, v(1), "dup_of_1"),
        (4, [0.0] * dim, "zero_vec"),
        (5, None, "null_emb"),
        (6, [], "empty_arr"),
        (7, v(7)[: dim // 2], "short_dim"),
        (13, v(7)[: dim // 2], "short_dim_twin"),  # SAME wrong width —
        # exact=True must not pair two matching-width ragged vectors
        (8, v(8) + [0.1] * 4, "long_dim"),
        (9, [float("nan")] * dim, "nan_vec"),
        (10, [float("inf")] + [0.0] * (dim - 1), "inf_vec"),
        (11, [1e30] * dim, "huge_vals"),
    ]


def test_embedding_poison_never_pairs_or_ranks(spark):
    """Ragged / zero-norm / non-finite embeddings through the vector
    surface.  Pins three found-by-sweep defects: (1) make_lsh_bucket_udf
    crashed the batch on ragged rows (inhomogeneous np.array); (2) the
    Catalyst cosine aborted the job on a zero-norm vector under ANSI
    mode (DIVIDE_BY_ZERO); (3) a NaN cosine PASSED the >= threshold
    filter (Spark orders NaN above every number), silently pairing the
    poison row with every bucket-mate."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    import top_secret_spark.operators.dedup as D
    import top_secret_spark.operators.similarity as S

    dim = 8
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("kind", StringType()),
    ])
    df = spark.createDataFrame(_emb_rows(dim), schema).repartition(3)
    poison_ids = {4, 5, 6, 7, 8, 9, 10, 13}

    for exact in (False, True):
        pairs = D.embedding_near_duplicates(
            df, dim=dim, threshold=0.9, id_col="vec_id", exact=exact
        ).collect()
        got = {(r["a"], r["b"]) for r in pairs}
        assert (1, 12) in got
        assert not {p for p in got if p[0] in poison_ids or p[1] in poison_ids}
        assert all(r["cos"] == r["cos"] for r in pairs)  # no NaN survives

    queries = [(100, _emb_rows(dim)[0][1])]
    for fn in (
        lambda: S.brute_force_top_k(df, queries, k=3),
        lambda: S.ann_top_k(df, queries, dim=dim, k=3),
        lambda: S.ivf_top_k(
            df, queries,
            S.train_ivf_centroids(
                df.filter(F.col("vec_id") <= 3), dim=dim, n_cells=2
            ),
            k=3,
        ),
    ):
        rows = fn().collect()
        assert {r["vec_id"] for r in rows if r["rank"] <= 2} == {1, 12}
        assert not {r["vec_id"] for r in rows} & poison_ids

    # train refuses a width-poisoned SAMPLE loudly (documented contract:
    # a silent skip would hide a config error at index-build time)
    with pytest.raises(ValueError, match="width mismatch"):
        S.train_ivf_centroids(df, dim=dim, n_cells=2)

    # degenerate structures: zero queries is the empty set (typed empty
    # frame, not a numpy AxisError); empty training corpus refuses loudly
    clean = df.filter(F.col("vec_id").isin(1, 2, 3, 12))
    cents = S.train_ivf_centroids(clean, dim=dim, n_cells=2)
    for empty_q in (
        lambda: S.brute_force_top_k(clean, [], k=3),
        lambda: S.ann_top_k(clean, [], dim=dim, k=3),
        lambda: S.ivf_top_k(clean, [], cents, k=3),
    ):
        out = empty_q()
        assert out.count() == 0
        assert set(out.columns) == {"query_id", "vec_id", "score", "rank"}
    with pytest.raises(ValueError, match="empty"):
        S.train_ivf_centroids(
            clean.filter(F.col("vec_id") < 0), dim=dim, n_cells=2
        )
    # a non-finite vector in the sample must refuse loudly too: NaN
    # centroids + argmax's NaN-is-max would silently file EVERY vector
    # into one cell
    with pytest.raises(ValueError, match="non-finite"):
        S.train_ivf_centroids(
            df.filter(F.col("vec_id").isin(1, 2, 9)), dim=dim, n_cells=2
        )


def test_sampling_poison_values_and_plan_time_key_gate(spark):
    """Pathological sampling inputs: NULL strata/keys/sizes, negative
    and 10^12 sizes, NaN weights.  Pins two found-by-sweep defects in
    select_until_budget — a NULL-id row silently ATE budget then
    vanished at the id join, and a negative size REFUNDED budget — the
    NULL-key results of pack_sequences and shard_by_size (a NULL-key
    row used to shift every later offset and then vanish), and the
    plan-time integral-key gate (under ANSI a string key would fail
    with CAST_INVALID_INPUT mid-job, inside a task, instead of at plan
    time on the driver)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    import top_secret_spark.operators.packing as P
    import top_secret_spark.operators.sampling as SA

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("domain", StringType()),
        StructField("n_tokens", LongType()),
        StructField("importance", DoubleType()),
    ])
    rows = [
        (1, "web", 100, 1.0), (2, "web", 50, 0.5), (3, "books", 10, 2.0),
        (4, None, 30, 1.0),            # NULL stratum
        (5, "web", None, 1.0),         # NULL size
        (6, "web", 0, 1.0),            # zero size
        (7, "web", -20, 1.0),          # negative size
        (8, "books", 40, float("nan")),
        (9, "books", 40, None),
        (10, "books", 10**12, 1.0),    # huge size
        (None, "web", 25, 1.0),        # NULL key
    ]
    df = spark.createDataFrame(rows, schema).repartition(3)

    for name, fn in [
        ("deterministic", lambda: SA.deterministic_sample(df, 0.5)),
        ("stratified", lambda: SA.stratified_sample(
            df, {"web": 0.5, "books": 1.0}, "domain")),
        ("temperature", lambda: SA.temperature_sample(df, "domain", 0.5)),
        ("mixture", lambda: SA.mixture_sample(
            df, "domain", {"web": 0.7, "books": 0.3})),
        ("split", lambda: SA.with_split(df)),
        ("epochs", lambda: SA.repeat_epochs(
            df, {"web": 2.5, "books": 1.0}, strata_col="domain")),
        ("cap", lambda: SA.cap_per_key(df, ["domain"], 2, [F.col("doc_id")])),
    ]:
        fn().collect()  # full materialization (count() prunes columns)

    # the prefix sum leaves the NULL-key row out (it shifts no offset)
    # and returns it with NULL results; NULL sizes count 0, negative
    # sizes are summed as given
    offsets = {1: 0, 2: 100, 3: 150, 4: 160, 5: 190, 6: 190, 7: 190,
               8: 170, 9: 210, 10: 250}
    packed = {r["doc_id"]: (r["offset"], r["pack_id"], r["pack_offset"])
              for r in P.pack_sequences(df, 120).collect()}
    assert packed == {
        None: (None, None, None),
        **{i: (o, o // 120, o % 120) for i, o in offsets.items()},
    }
    sharded = {r["doc_id"]: (r["shard_id"], r["shard_offset"])
               for r in P.shard_by_size(
                   df, 100, order_col="doc_id", size_col="n_tokens"
               ).collect()}
    assert sharded == {
        None: (None, None),
        **{i: (o // 100, o % 100) for i, o in offsets.items()},
    }

    # NULL-id rows must not eat budget: the NULL-key row (25 tokens)
    # sorts first but can never return through the id join — with it
    # wrongly in the prefix sum, doc 1 (100) would miss a budget of
    # exactly 100 (25+100 > 100); excluded, doc 1 fits exactly
    kept = SA.select_until_budget(
        df, 100, "n_tokens", [F.col("doc_id")]
    ).collect()
    assert sorted(r["doc_id"] for r in kept) == [1]

    # negative sizes must not REFUND budget: with raw values doc 22's
    # -60 would pull the running total back under budget and admit
    # doc 23; clamped to 0 the prefix stays spent
    refund = spark.createDataFrame(
        [(21, "web", 100, 1.0), (22, "web", -60, 1.0),
         (23, "web", 10, 1.0)], schema)
    kept2 = SA.select_until_budget(
        refund, 100, "n_tokens", [F.col("doc_id")]
    ).collect()
    assert sorted(r["doc_id"] for r in kept2) == [21, 22]

    with pytest.raises(ValueError, match="integral"):
        SA.with_split(
            df.withColumn("sid", F.col("doc_id").cast("string")),
            key_col="sid",
        )


def test_multimodal_null_payload_fails_with_precise_error(spark):
    """Multimodal is the one fail-loud transform family (stub decoders
    by design — no codec libs in this environment).  The contract is a
    PRECISE error from decode, not an incidental TypeError from the
    same-shape stacking heuristic — which is what a NULL payload used
    to produce (len(None))."""
    import pytest as _pytest

    import top_secret_spark.operators.multimodal as M
    from top_secret_spark.kernel.media import decode_image, decode_video

    with _pytest.raises(ValueError, match="NULL image payload"):
        decode_image(None, "raw_rgb8", 8, 8)
    with _pytest.raises(ValueError, match="NULL video payload"):
        decode_video(None, "raw_rgb8_frames", 8, 8, 2)

    base = M.media_df(spark, 4)
    img = next(r for r in base.collect() if r["kind"] == "image")
    row_cls = type(img)
    rows = [img, row_cls(media_id="p_null", kind="image", bytes=None,
                         codec=img["codec"], width=8, height=8,
                         n_frames=1, fps=0.0)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA_DDL)
    with _pytest.raises(Exception, match="NULL image payload"):
        M.with_media_features(df).collect()


def test_frame_energy_df_skips_poison_and_bad_sr(chaos):
    from top_secret_spark.operators.audio import frame_energy_df

    rows = frame_energy_df(chaos).collect()
    emitted = {r["clip_id"] for r in rows}
    # frame length is sr-derived, so bad-sr rows are unmeasurable too
    assert emitted == ALL_IDS - UNDECODABLE - BAD_SR
    by_id = {r["clip_id"]: r["frame_db"] for r in rows}
    assert len(by_id["ok_pcm16"]) > 0
    assert by_id["empty_bytes"] == []


# The strict payload transforms (operators/audio.py module doc): a NULL
# payload passes through NULL; any other row the decode does not yield
# raises ValueError("<op>: clip '<clip_id>': <reason>").  label ->
# (operator name, call, refused row -> reason pattern).
ODD = {"odd_pcm16": "odd-length", "one_byte": "odd-length"}
BAD_CODEC = {"unknown_codec": "undecodable codec",
             "null_codec": "undecodable codec"}
BAD_RATE = {cid: "sr_hz" for cid in BAD_SR}
NOT_SLICEABLE = {cid: "not byte-sliceable"
                 for cid in ("ok_adpcm", "unknown_codec", "null_codec")}


def _strict_ops():
    import top_secret_spark.operators.audio as A

    per_codec = {**ODD, **BAD_CODEC}
    return {
        "resampled_clips": ("resampled_clips",
                            lambda d: A.resampled_clips(d, 8000),
                            {**per_codec, **BAD_RATE}),
        "normalized_clips": ("normalized_clips", A.normalized_clips,
                             per_codec),
        "noise_mixed_clips": ("noise_mixed_clips", A.noise_mixed_clips,
                              per_codec),
        "transcode_clips": ("transcode_clips",
                            lambda d: A.transcode_clips(d, "ulaw"),
                            per_codec),
        # pcm16 rows are already in the target codec: they pass through
        # undecoded, odd-length ones included
        "transcode_clips[pcm16]": ("transcode_clips", A.transcode_clips,
                                   BAD_CODEC),
        "trimmed_clips": ("trimmed_clips", A.trimmed_clips,
                          {**ODD, **NOT_SLICEABLE, **BAD_RATE}),
        "speed_perturbed_clips": ("speed_perturbed_clips",
                                  A.speed_perturbed_clips,
                                  {**per_codec, **BAD_RATE}),
        "dc_removed_clips": ("dc_removed_clips", A.dc_removed_clips,
                             {**per_codec, **BAD_RATE}),
    }


def _batch_fn(monkeypatch, call, df):
    """The batch function an operator hands the seam, and its ``drop``:
    ``map_batches`` is swapped for a recorder, so no Spark job runs."""
    import top_secret_spark.operators.audio as A

    with monkeypatch.context() as m:
        m.setattr(A, "map_batches",
                  lambda _df, fn, emits="", drop=(): (fn, drop))
        return call(df)


def _pdf(rows, drop=()):
    """Chaos rows as one Arrow-style batch (NULL ints read NaN)."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=SCHEMA.fieldNames())
    if "_noise_key" in drop:
        pdf["_noise_key"] = np.arange(len(pdf), dtype=np.int64)
    return pdf


OK3 = [r for r in ROWS if r[0] in ("ok_pcm16", "ok_ulaw", "ok_alaw")]


def test_strict_payload_transform_poison_matrix(chaos, monkeypatch):
    """Every (strict transform, chaos row) cell, driven on pandas behind
    three clean rows: the row passes (NULL stays NULL, empty stays
    empty, every other row gets a payload) or the batch raises naming
    THAT row.  Pins two defects of the per-operator loops: trimmed_clips
    completed on a NULL sr with dur_ms = -2^31, and dc_removed_clips
    named the first clip of the codec ('ok_pcm16'), not the bad one."""
    for label, (op, call, refused) in _strict_ops().items():
        fn, drop = _batch_fn(monkeypatch, call, chaos)
        for row in ROWS:
            cid = row[0]
            pdf = _pdf(OK3 + [row], drop)
            if cid in refused:
                with pytest.raises(
                    ValueError,
                    match=f"^{op}: clip '{cid}': .*{refused[cid]}",
                ):
                    fn(pdf)
                continue
            out = fn(pdf)
            got = out["bytes"].tolist()
            assert all(isinstance(b, bytes) for b in got[:3]), (label, cid)
            if cid == "null_bytes":
                assert got[3] is None, label
            elif cid == "empty_bytes":
                assert got[3] == b"", (label, got[3])
            else:
                assert isinstance(got[3], bytes), (label, cid)
            if label in ("trimmed_clips", "speed_perturbed_clips"):
                # dur_ms is rewritten from the output samples
                assert (out["dur_ms"] >= 0).all(), (label, cid)


def test_strict_payload_transforms_run_accepted_rows(chaos):
    """One Spark job per strict transform over the chaos rows it
    accepts: every row comes back, NULL payloads as NULL."""
    from pyspark.sql import functions as F

    for label, (_, call, refused) in _strict_ops().items():
        ok = chaos.filter(~F.col("clip_id").isin(list(refused)))
        rows = {r["clip_id"]: r for r in call(ok).collect()}
        assert set(rows) == ALL_IDS - set(refused), label
        assert rows["null_bytes"]["bytes"] is None, label
        assert all(r["bytes"] is not None for cid, r in rows.items()
                   if cid != "null_bytes"), label


def test_split_on_silence_names_null_rate_clip(chaos, monkeypatch):
    """split_clips_on_silence refuses a NULL sr with the strict
    transforms' named error, not numpy's 'cannot convert float NaN to
    integer'."""
    from top_secret_spark.operators.audio import split_clips_on_silence

    fn, _ = _batch_fn(monkeypatch, split_clips_on_silence, chaos)
    rows = {r[0]: r for r in ROWS}
    for cid in ("null_sr", "zero_sr"):
        with pytest.raises(
            ValueError,
            match=f"^split_clips_on_silence: clip '{cid}': .*sr_hz",
        ):
            fn(_pdf([rows["ok_pcm16"], rows[cid]]))


def test_split_on_silence_names_odd_length_clip(chaos, monkeypatch):
    """An odd-length pcm16 payload with a good rate is refused by name,
    not by the decode's unnamed 'odd-length payload(s)' error for the
    whole batch."""
    from top_secret_spark.operators.audio import split_clips_on_silence

    fn, _ = _batch_fn(monkeypatch, split_clips_on_silence, chaos)
    rows = {r[0]: r for r in ROWS}
    for cid in ODD:
        with pytest.raises(
            ValueError,
            match=f"^split_clips_on_silence: clip '{cid}': .*odd-length",
        ):
            fn(_pdf([rows["ok_pcm16"], rows[cid]]))
