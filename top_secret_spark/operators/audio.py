"""Audio decode / validate / feature-extract operators.

Decode runs inside ``mapInPandas`` — one vectorized numpy decode per
Arrow batch, never per-row Python.  The pipeline does NOT materialize
raw PCM into the output table (at 10^12 clips that would be a multi-PB
write amplification); it validates decodability and extracts cheap
features instead.  ``decoded_pcm_df`` materializes PCM for tests and the
SNR passthrough gate only.

Every batch operator that carries its input columns (the ``with_*``
feature appenders and the payload transforms) crosses Arrow through
one seam, ``operators.seam.map_batches``: it builds the output schema
(input columns minus ``drop``, then ``emits``), refuses emitted names
that collide with carried columns, and runs the operator's batch
function once per Arrow batch.  Only the fixed-schema emitters
(``frame_energy_df``, ``decoded_pcm_df``, ``audio_window_hashes``,
``audio_cdc_segments``) call ``mapInPandas`` directly.

A batch feeds the decode through one reader: ``_sr_groups`` (and its
channel-count twin ``_sr_nch_groups``) turns the ``bytes`` / ``codec``
/ ``sr_hz`` columns into decoded (codec, sr) groups.  The sr-dependent
feature operators (spectral, log-mel, SNR, MFCC, bandwidth, speech
activity, pitch, reverb) are each one feature spec — emitted DDL plus a
kernel over one decoded group — run by ``_with_sr_features``, which
owns the zeroed columns, the scatter and the poison-row defaults.
``with_voice_health`` is that runner over the pitch, reverb and SNR
specs: one decode and one Arrow crossing for all three.

The payload transforms — resample, normalize, noise-mix, transcode,
trim, speed-perturb, DC-remove, downmix, declip, denoise — are each one
kernel over a decoded group, run by ``_transform_payloads``: per Arrow
batch one concatenated decode and one kernel call per group, then one
whole-buffer re-encode sliced back into row payloads (trim instead
slices the source bytes, so it takes only the fixed-width codecs).
Resample, trim, speed-perturb, DC-remove, declip and denoise group per
(codec, sr); normalize, noise-mix and transcode group per codec, so a
NULL or non-positive ``sr_hz`` is legal for them; downmix groups per
(codec, sr, nch).  A row the decode does not yield — undecodable codec,
odd-length pcm16 payload, NULL or non-positive rate where it is grouped
by — meets one of two poison rules:

- *restoration* (downmix, declip, denoise): it passes through
  byte-for-byte with zeroed or unchanged fields, since repair is
  optional and a poison row stays visible to the downstream gates;
- *strict* (the other seven): a NULL payload passes through NULL (there
  is nothing to transform), any other such row raises
  ``ValueError("<operator>: clip '<clip_id>': <reason>")`` naming that
  row — a transform that must cover every row refuses rather than pass
  a silently unchanged one.  ``split_clips_on_silence`` refuses with
  the same error.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Mapping, NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.audio import BYTES_PER_SAMPLE as _BYTES_PER_SAMPLE
from ..kernel.audio import SUPPORTED_CODECS as _SUPPORTED_CODECS
from .seam import map_batches

_FEATURES_SCHEMA_SUFFIX = (
    "decode_ok boolean, rms double, zcr double, dur_ms_measured int, "
    "silence_ratio double, clipping_ratio double"
)


def _decode_args(pdf, *rate_cols):
    """A clips batch as decode input: the ``bytes`` payload list, the
    ``codec`` array, then each of ``rate_cols`` as float64 with NULL
    read as NaN (the decode's poison marker).  A ``None`` rate column
    reads 1 on every row: a rate the caller does not group by."""
    import numpy as np

    return (
        pdf["bytes"].tolist(),
        pdf["codec"].to_numpy(),
        *(
            np.ones(len(pdf)) if c is None
            else pdf[c].to_numpy(dtype="float64", na_value=np.nan)
            for c in rate_cols
        ),
    )


def _sr_groups(pdf):
    """``kernel.audio.decode_sr_groups`` over a clips batch: yields
    ``(idx, samples, lengths, sr)`` per decodable (codec, sr) group."""
    from ..kernel.audio import decode_sr_groups

    return decode_sr_groups(*_decode_args(pdf, "sr_hz"))


def _sr_nch_groups(pdf):
    """``kernel.audio.decode_sr_nch_groups`` over a clips batch with an
    ``n_channels`` column: yields ``(idx, samples, lengths, sr, nch,
    codec)`` per decodable (codec, sr, nch) group."""
    from ..kernel.audio import decode_sr_nch_groups

    return decode_sr_nch_groups(*_decode_args(pdf, "sr_hz", "n_channels"))


# zeroed numpy column per emitted scalar type; array<...> fields are
# per-row lists
_FEATURE_DTYPES = {
    "boolean": "bool", "double": "float64", "int": "int32", "bigint": "int64",
}


def _emit_layout(emits: T.StructType, fill: Mapping) -> list:
    """``(name, numpy dtype or None for array<...>, default)`` per
    emitted field: the columns a batch runner starts every row at."""
    return [
        (
            f.name,
            None if isinstance(f.dataType, T.ArrayType)
            else _FEATURE_DTYPES[f.dataType.simpleString()],
            fill.get(f.name, 0),
        )
        for f in emits.fields
    ]


def _default_columns(layout: list, n: int) -> dict:
    import numpy as np

    return {
        name: [[] for _ in range(n)] if dtype is None
        else np.full(n, default, dtype=dtype)
        for name, dtype, default in layout
    }


def _scatter(cols: dict, idx, fields: Mapping) -> None:
    """Write one decoded group's ``fields`` into the batch columns at
    rows ``idx``: a numpy column takes one fancy-index assignment, a
    list column (payloads, per-row arrays) one slot per row."""
    for name, values in fields.items():
        col = cols[name]
        if isinstance(col, list):
            for i, v in zip(idx, values):
                col[i] = v
        else:
            col[idx] = values


@dataclass(frozen=True)
class _SrFeature:
    """One feature of :func:`_with_sr_features`.  ``ddl`` is what it
    emits; ``kernel(samples, lengths, sr)`` measures one decoded (codec,
    sr) group and returns ``{field: values for the group}``, its own
    ``<x>_ok`` included (the ok rule is the feature's: most require one
    frame, speech activity one sample).  ``fill`` names the fields whose
    poison-row default is not zero / False / ``[]``."""

    ddl: str
    kernel: Callable
    fill: Mapping = field(default_factory=dict)


def _with_sr_features(
    df: DataFrame, features: list[_SrFeature], keep_bytes: bool
) -> DataFrame:
    """Append every field of ``features`` through one decode and one
    Arrow crossing: per batch, each (codec, sr) group is decoded once
    (:func:`_sr_groups`) and handed to every feature's kernel, whose
    values are scattered into the batch's columns.  Rows the decode
    never yields (undecodable payload or codec, NULL or non-positive sr)
    keep the defaults: ok false, zero measurements, ``fill`` values,
    empty arrays.  ``bytes`` is dropped unless ``keep_bytes``."""
    emits = T.DataType.fromDDL(", ".join(f.ddl for f in features))
    layout = _emit_layout(
        emits, {k: v for f in features for k, v in f.fill.items()}
    )
    kernels = [f.kernel for f in features]

    def run(pdf):
        cols = _default_columns(layout, len(pdf))
        for idx, samples, lengths, sr in _sr_groups(pdf):
            for kernel in kernels:
                _scatter(cols, idx, kernel(samples, lengths, sr))
        for name, col in cols.items():
            pdf[name] = col
        return pdf

    return map_batches(
        df, run, emits=emits, drop=() if keep_bytes else ("bytes",),
    )


class _Group(NamedTuple):
    """One decoded (codec, sr, nch) group of a batch, as a payload
    kernel sees it; ``pdf`` is the whole batch, ``idx`` the group's
    rows in it."""

    pdf: object
    idx: object
    samples: object
    lengths: object
    sr: int
    nch: int
    codec: str


def _refusal(op: str, row, slices: bool) -> ValueError:
    """The strict transforms' one error for a row the decode does not
    yield, naming the row and the first rule it breaks (the rules
    :func:`kernel.audio.decode_sr_groups` applies, in its order)."""
    codec, data = row["codec"], row["bytes"]
    if codec not in (_BYTES_PER_SAMPLE if slices else _SUPPORTED_CODECS):
        why = (
            f"codec {codec!r} is not byte-sliceable: only the fixed-width "
            f"codecs {tuple(_BYTES_PER_SAMPLE)} survive a payload slice "
            "(transcode adpcm first)" if slices
            else f"undecodable codec {codec!r}; supported: "
            f"{_SUPPORTED_CODECS}"
        )
    elif codec == "pcm16" and len(data) % 2:
        why = f"odd-length pcm16 payload ({len(data)} bytes)"
    else:
        why = f"NULL or non-positive sr_hz ({row['sr_hz']})"
    return ValueError(
        f"{op}: clip {row.get('clip_id')!r}: {why}; gate or repair the "
        "row upstream (with_audio_keep_drop, with_metadata_audit)"
    )


def _transform_payloads(
    df: DataFrame,
    op: str,
    kernel: Callable,
    *,
    rates: tuple = ("sr_hz", None),
    sets: Mapping | None = None,
    slices: bool = False,
    keep_codec: str | None = None,
    strict: bool = True,
    emits: str = "",
    drop: tuple = (),
) -> DataFrame:
    """The one batch loop behind every payload transform (module doc).
    Per batch, ``kernel.audio.decode_sr_nch_groups`` decodes each
    (codec, sr, nch) group once — ``rates`` names the ``sr_hz`` and
    ``n_channels`` columns the transform groups by, ``None`` for a rate
    it never reads — and ``kernel(group)`` returns ``(samples, lengths,
    fields)``: the new signal, re-encoded and sliced back into row
    payloads, and ``{column: values}`` for the group's rows (emitted
    columns start at zero / False; a carried column such as ``dur_ms``
    keeps its value on rows not yielded).  A ``slices`` transform
    returns sample bounds ``(starts, ends, fields)`` instead and its
    payloads are byte slices of the source, so it takes only fixed-width
    codecs.  ``sets`` are values written on every row; a ``codec`` entry
    is also the codec every new payload is encoded in (without one a
    payload keeps its own codec).  Rows in ``keep_codec`` pass through
    undecoded.  The poison rule: a NULL payload passes through NULL;
    any other row the decode does not yield raises :func:`_refusal`
    when ``strict``, else passes through byte-for-byte at the defaults."""
    layout = _emit_layout(T.DataType.fromDDL(emits), {}) if emits else []
    accepted = tuple(_BYTES_PER_SAMPLE) if slices else _SUPPORTED_CODECS
    sets = dict(sets or {})

    def run(pdf):
        import numpy as np

        from ..kernel.audio import decode_sr_nch_groups

        datas, codecs, srs, nchs = _decode_args(pdf, *rates)
        live = pdf["bytes"].notna().to_numpy()
        if keep_codec is not None:
            live &= codecs != keep_codec
        decodable = live & pdf["codec"].isin(accepted).to_numpy()
        cols = {"bytes": datas.copy(), **_default_columns(layout, len(pdf))}
        done = np.zeros(len(pdf), dtype=bool)
        for g in decode_sr_nch_groups(
            datas, np.where(decodable, codecs, None), srs, nchs
        ):
            g = _Group(pdf, *g)
            out, lengths, fields = kernel(g)
            if slices:
                bps = _BYTES_PER_SAMPLE[g.codec]
                payloads = [
                    bytes(datas[i])[int(s) * bps: int(e) * bps]
                    for i, s, e in zip(g.idx, out, lengths)
                ]
            else:
                payloads = _encoded_payloads(
                    out, lengths, sets.get("codec", g.codec)
                )
            for name in fields.keys() - cols.keys():
                cols[name] = pdf[name].to_numpy(copy=True)
            _scatter(cols, g.idx, {"bytes": payloads, **fields})
            done[g.idx] = True
        refused = np.flatnonzero(live & ~done)
        if strict and len(refused):
            raise _refusal(op, pdf.iloc[refused[0]], slices)
        for name, col in {**cols, **sets}.items():
            pdf[name] = col
        return pdf

    return map_batches(df, run, emits=emits, drop=drop)


def with_audio_features(df: DataFrame) -> DataFrame:
    """Append decode_ok / rms / zcr / dur_ms_measured to a clips frame.

    Unknown codecs yield decode_ok=false rather than failing the job —
    at scale a poison row must not kill a 1000-executor stage.

    The ``bytes`` column is consumed here and NOT emitted: re-serializing
    multi-KB audio blobs back across the Arrow boundary (and through
    every downstream stage) would double the pipeline's memory traffic
    for a column nothing downstream reads."""
    return map_batches(
        df, set_audio_feature_columns,
        emits=_FEATURES_SCHEMA_SUFFIX,
    )


def append_audio_feature_columns(pdf):
    """``set_audio_feature_columns`` on one batch (``pdf`` gains the
    feature columns), then ``bytes`` dropped — the batch
    ``with_audio_features`` emits, for callers that run the batch core
    without Spark."""
    return set_audio_feature_columns(pdf).drop(columns=["bytes"])


def set_audio_feature_columns(pdf):
    """Decode-boundary core shared by ``with_audio_features`` and the
    single-crossing multimodal fused stage (operators/fused.py): one
    concatenated decode + segmented feature pass per codec present in
    the Arrow batch — no per-clip Python loop — then the six feature
    columns are set on ``pdf`` in place (``bytes`` stays; the seam
    drops it)."""
    import numpy as np

    from ..kernel.audio import (
        SUPPORTED_CODECS,
        batch_decode,
        decodable_indices,
        segmented_features,
        segmented_ratios,
    )

    n = len(pdf)
    oks = np.zeros(n, dtype=bool)
    rmss = np.zeros(n, dtype=np.float64)
    zcrs = np.zeros(n, dtype=np.float64)
    durs = np.zeros(n, dtype=np.int64)
    # undecodable rows are DEFINED as fully silent: they carry no
    # usable signal, and the gate names decode_error before
    # silence anyway
    sils = np.ones(n, dtype=np.float64)
    clps = np.zeros(n, dtype=np.float64)
    datas = pdf["bytes"].tolist()
    codecs = pdf["codec"].to_numpy()
    srs = pdf["sr_hz"].to_numpy()
    for codec in SUPPORTED_CODECS:
        # a poison row must not kill the stage — NULL payloads and
        # odd-length pcm16 clips stay decode_ok=false
        idx = decodable_indices(datas, codecs, codec)
        if not len(idx):
            continue
        samples, lengths = batch_decode(
            [bytes(datas[i]) for i in idx], codec
        )
        r, z, d = segmented_features(
            samples, lengths, srs[idx].astype(np.float64)
        )
        si, cl = segmented_ratios(samples, lengths)
        oks[idx] = True
        rmss[idx] = r
        zcrs[idx] = z
        durs[idx] = d
        sils[idx] = si
        clps[idx] = cl
    pdf["decode_ok"] = oks
    pdf["rms"] = rmss
    pdf["zcr"] = zcrs
    pdf["dur_ms_measured"] = durs
    pdf["silence_ratio"] = sils
    pdf["clipping_ratio"] = clps
    return pdf


def with_spectral_features(
    df: DataFrame,
    frame_ms: int = 32,
    hop_ms: int = 16,
    keep_bytes: bool = False,
) -> DataFrame:
    """Append frequency-domain quality features (``kernel.spectral``):
    spectral_ok / spectral_centroid_hz / spectral_flatness / n_frames.

    Same batching discipline as ``with_audio_features`` — one
    concatenated decode + ONE blocked FFT per (codec, sr_hz) group in
    the Arrow batch, never a per-clip Python loop.  Frame length is an
    sr-derived constant, hence the extra sr split inside each codec.

    Undecodable / odd-pcm16 / NULL-payload / NULL-or-nonpositive-sr
    rows get spectral_ok=false with centroid 0.0 and flatness 1.0
    ("indistinguishable from noise") rather than failing the stage — a
    poison row must not kill a 1000-executor job.  So do decodable clips
    shorter than one frame: they measured nothing, and a 0.0 centroid
    would read as low-frequency hum (the mel/snr/bandwidth convention).
    ``bytes`` is dropped unless ``keep_bytes`` (the
    ``with_audio_features`` convention: don't re-serialize multi-KB
    blobs through every downstream stage); pass keep_bytes=True to
    chain further payload transforms after this one.
    """

    def kernel(samples, lengths, sr):
        from ..kernel.spectral import batch_spectral

        c, fl, nf = batch_spectral(
            samples, lengths, sr, frame_ms=frame_ms, hop_ms=hop_ms,
        )
        return {"spectral_ok": nf > 0, "spectral_centroid_hz": c,
                "spectral_flatness": fl, "n_frames": nf}

    return _with_sr_features(df, [_SrFeature(
        "spectral_ok boolean, spectral_centroid_hz double, "
        "spectral_flatness double, n_frames long",
        kernel, fill={"spectral_flatness": 1.0},
    )], keep_bytes)


def with_log_mel(
    df: DataFrame,
    n_mels: int = 40,
    frame_ms: int = 32,
    hop_ms: int = 16,
    keep_bytes: bool = False,
) -> DataFrame:
    """Append per-frame log-mel filterbank features — the actual input
    matrix an ASR/audio-LM training run consumes (``kernel.spectral.
    batch_log_mel``): ``log_mel`` as array<array<float>> (n_frames ×
    n_mels, frame order = time order), ``n_mel_frames``, and
    ``mel_argmax_hz`` (center frequency of the time-mean mel peak — the
    cheap tonality probe the oracle gates).

    Same batching discipline as ``with_spectral_features``: one
    concatenated decode + ONE blocked FFT + one matmul per (codec,
    sr_hz) group per Arrow batch.  Poison rows (undecodable payload,
    NULL sr) get mel_ok=false with an empty matrix — never a stage
    kill.  ``bytes`` is dropped unless ``keep_bytes`` (payloads are
    already multi-KB; the mel matrix REPLACES the waveform downstream,
    which is the point of feature extraction)."""

    def kernel(samples, lengths, sr):
        import numpy as np

        from ..kernel.spectral import batch_log_mel, mel_filterbank

        mel, nf = batch_log_mel(
            samples, lengths, sr, n_mels=n_mels,
            frame_ms=frame_ms, hop_ms=hop_ms,
        )
        frame = max(2, int(sr * frame_ms / 1000))
        centers = mel_filterbank(sr, frame, n_mels)[1]
        mels = []
        amhz = np.zeros(len(nf), dtype=np.float64)
        off = 0
        for k, m in enumerate(nf.tolist()):
            rows = mel[off:off + m]
            off += m
            mels.append(rows.tolist())  # one C-level conversion
            if m:
                amhz[k] = float(centers[int(np.argmax(rows.mean(axis=0)))])
        # ok only when the clip yielded >=1 frame: a decodable clip
        # shorter than one frame leaves mel_argmax_hz at an
        # authoritative-looking 0.0, which a downstream gate like q71's
        # hum check (argmax < 150 Hz) would silently match.
        return {"mel_ok": nf > 0, "log_mel": mels, "n_mel_frames": nf,
                "mel_argmax_hz": amhz}

    return _with_sr_features(df, [_SrFeature(
        "mel_ok boolean, log_mel array<array<float>>, "
        "n_mel_frames int, mel_argmax_hz double",
        kernel,
    )], keep_bytes)


def spectral_drop_reason_col(
    max_flatness: float = 0.3,
    min_centroid_hz: float = 150.0,
    flatness_col: str = "spectral_flatness",
    centroid_col: str = "spectral_centroid_hz",
    ok_col: str = "spectral_ok",
) -> Column:
    """First-failing spectral rule as a reason string (NULL = keep) —
    the frequency-domain extension of ``audio_drop_reason_col``:
    undecodable → 'decode_error', broadband noise (flatness above
    ``max_flatness``) → 'spectral_noise', low-frequency hum/rumble
    (centroid below ``min_centroid_hz``) → 'spectral_hum'."""
    return (
        F.when(~F.col(ok_col), F.lit("decode_error"))
        .when(F.col(flatness_col) > F.lit(max_flatness), F.lit("spectral_noise"))
        .when(F.col(centroid_col) < F.lit(min_centroid_hz), F.lit("spectral_hum"))
        .otherwise(F.lit(None).cast("string"))
    )


@dataclass(frozen=True)
class AudioGateThresholds:
    """Keep/drop rules over decoded-audio features — the audio twin of
    ``kernel.quality.QualityThresholds``.  Frozen so the config captured
    at plan time cannot drift under a running job."""

    min_dur_ms: int = 300
    max_silence_ratio: float = 0.98
    max_clipping_ratio: float = 0.2


DEFAULT_AUDIO_GATE = AudioGateThresholds()


def audio_drop_reason_col(
    th: AudioGateThresholds = DEFAULT_AUDIO_GATE,
) -> Column:
    """First-matching-rule drop reason over the feature columns emitted
    by ``with_audio_features`` — pure Catalyst (whole-stage codegen), no
    Python.  NULL means the clip passes the audio gate."""
    return (
        F.when(~F.col("decode_ok"), F.lit("decode_error"))
        .when(
            F.col("dur_ms_measured") < F.lit(th.min_dur_ms),
            F.lit("too_short_audio"),
        )
        .when(
            F.col("silence_ratio") > F.lit(th.max_silence_ratio),
            F.lit("silent"),
        )
        .when(
            F.col("clipping_ratio") > F.lit(th.max_clipping_ratio),
            F.lit("clipped"),
        )
    )


def with_audio_keep_drop(
    df: DataFrame, th: AudioGateThresholds = DEFAULT_AUDIO_GATE
) -> DataFrame:
    """Audio-quality gate: decode + feature-extract (one Arrow boundary)
    then keep/drop entirely in Catalyst.  Appends ``audio_drop_reason``
    (NULL = keep) and ``audio_keep``.  Composes with the transcript gate
    (``operators.quality.with_keep_drop``) for a full multimodal filter:
    the two reason columns stay separate so counters can attribute drops
    to the right modality."""
    return _with_audio_reason(with_audio_features(df), th)


def _with_audio_reason(feats: DataFrame, th: AudioGateThresholds) -> DataFrame:
    reason = audio_drop_reason_col(th)
    return feats.withColumn("audio_drop_reason", reason).withColumn(
        "audio_keep", reason.isNull()
    )


def resampled_clips(df: DataFrame, target_sr: int = 16000) -> DataFrame:
    """Re-encode every clip at a uniform sample rate (decode → linear
    resample → pcm16) — the audio 'resize'.  Output schema matches the
    clips table with sr_hz = target_sr and codec = pcm16 on every row.
    One ``batch_resample`` per (codec, sr) group per Arrow batch; a
    strict payload transform (module doc): a row it cannot decode
    raises, unlike the gate path (``with_audio_features``)."""

    def kernel(g):
        import numpy as np

        from ..kernel.audio import batch_resample

        return (*batch_resample(
            g.samples, g.lengths, np.full(len(g.idx), g.sr), target_sr
        ), {})

    return _transform_payloads(
        df, "resampled_clips", kernel,
        sets={"sr_hz": target_sr, "codec": "pcm16"},
    )


def normalized_clips(
    df: DataFrame, target_rms: float = 0.1, max_gain: float = 100.0
) -> DataFrame:
    """Loudness-normalize every clip to ``target_rms`` (decode → gain →
    pcm16 re-encode) — level equalization before feature extraction, so
    a whisper-quiet and an overdriven recording present the same scale
    to a model.  Silent clips pass through at gain 1; near-silent gain
    is capped at ``max_gain``.  A strict payload transform grouped per
    codec (module doc): the rate is never read.  Output codec is pcm16,
    sample rate unchanged."""

    def kernel(g):
        from ..kernel.audio import batch_normalize_gain

        return batch_normalize_gain(
            g.samples, g.lengths, target_rms, max_gain
        ), g.lengths, {}

    return _transform_payloads(
        df, "normalized_clips", kernel,
        rates=(None, None), sets={"codec": "pcm16"},
    )


def _concat_bytes(pieces: Column, order: Column | None = None) -> Column:
    """One binary from ``pieces`` by Catalyst ``aggregate`` concat, no
    Python: an ``array<binary>`` joins in array order, or — with
    ``order`` — ``pieces`` is an aggregate input and the group's values
    join in ascending ``order``.  A NULL piece adds zero bytes."""
    if order is not None:
        pieces = F.transform(F.array_sort(F.collect_list(
            F.struct(order.alias("o"), pieces.alias("p")))), lambda s: s["p"])
    return F.aggregate(pieces, F.lit(b""),
                       lambda acc, p: F.concat(acc, F.coalesce(p, F.lit(b""))))


def merge_segments(
    df: DataFrame,
    max_dur_ms: int,
    clip_col: str = "clip_id",
    order_col: str = "seg_idx",
) -> DataFrame:
    """Pack consecutive voiced segments of the SAME clip into training
    windows of at most ``max_dur_ms`` — the inverse of
    :func:`chunked_clips`: split gives one row per utterance, merge
    rebuilds examples near the model's context size without ever
    crossing a clip boundary.

    Assignment is offset-based (``pack_sequences`` semantics at
    per-clip scope): a segment joins group ``floor(exclusive_cum_dur /
    max_dur_ms)``, so a segment longer than ``max_dur_ms`` keeps its
    own group — merging NEVER splits a segment.  Payloads concatenate
    in ``order_col`` order as a pure-Catalyst aggregate (sorted struct
    array → ``aggregate`` binary concat, no Python); a NULL payload
    contributes zero bytes but its duration and row mass stay counted.
    Transcript is carried by max() — the split contract puts it on
    segment 0 only, so each clip has at most one non-null.

    Scale shape: one window + one groupBy, both keyed by (clip, group)
    — per-key work is bounded by segments-per-clip (never a global
    window), and only segment rows shuffle.  Output: one row per
    (clip, group) with ``merged_id``, summed ``dur_ms``, segment count,
    and the parent metadata.
    """
    if max_dur_ms <= 0:
        raise ValueError(
            f"merge_segments: max_dur_ms must be positive, got {max_dur_ms}"
        )
    w = Window.partitionBy(clip_col).orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = F.coalesce(
        F.sum(F.col("dur_ms").cast("bigint")).over(w), F.lit(0)
    )
    # `div`, not `/`: exact bigint group ids (pack_sequences precedent)
    grouped = df.withColumn("_cum", cum).withColumn(
        "_grp", F.expr(f"_cum div {int(max_dur_ms)}")
    ).drop("_cum")
    merged = (
        grouped.groupBy(clip_col, "_grp")
        .agg(
            _concat_bytes(F.col("bytes"), F.col(order_col)).alias("bytes"),
            F.sum(F.col("dur_ms").cast("bigint")).alias("dur_ms"),
            F.count(F.lit(1)).cast("int").alias("n_segments"),
            F.min("sr_hz").alias("sr_hz"),
            F.min("codec").alias("codec"),
            F.max("transcript").alias("transcript"),
        )
        .withColumn(
            "merged_id",
            F.concat(F.col(clip_col), F.lit("#m"), F.col("_grp").cast("string")),
        )
        .drop("_grp")
    )
    return merged


def noise_mixed_clips(
    df: DataFrame, snr_db: float = 20.0, seed: int = 0
) -> DataFrame:
    """Add white Gaussian noise ``snr_db`` below each clip's measured
    signal power — the standard robustness augmentation — with a
    DETERMINISTIC noise overlay: counter-based splitmix64 → Box-Muller
    keyed on (xxhash64(clip_id, seed), sample index), so the same row
    gets the same noise under any batching, partitioning, or re-run,
    and an auditor can regenerate the overlay exactly
    (``kernel.audio.batch_mix_noise``).

    A strict payload transform grouped per codec (module doc).
    Digital-silent clips (all-zero DECODED signal) pass through
    unchanged — noise at X dB below zero signal is undefined.  A G.711
    "silent" clip decodes to the nonzero companded-zero reconstruction
    (~1e-4), so it gets noise that far below — still under SILENCE_EPS,
    still nameable by the silence gate.  Output codec is pcm16, sample
    rate unchanged."""
    keyed = df.withColumn(
        "_noise_key", F.xxhash64(F.col("clip_id"), F.lit(int(seed)))
    )

    def kernel(g):
        import numpy as np

        from ..kernel.audio import batch_mix_noise

        # int64 -> uint64 reinterpret: same 64 bits, numpy-safe
        keys = g.pdf["_noise_key"].to_numpy(dtype=np.int64)[g.idx]
        return batch_mix_noise(
            g.samples, g.lengths, keys.view(np.uint64), snr_db
        ), g.lengths, {}

    return _transform_payloads(
        keyed, "noise_mixed_clips", kernel,
        rates=(None, None), sets={"codec": "pcm16"}, drop=("_noise_key",),
    )


def _bps_col() -> Column:
    """Bytes-per-sample when-chain over ``codec`` — NULL for every
    non-seekable codec (unknown containers AND adpcm), which is the
    signal byte-slice operators key their passthrough/flag logic on.
    Derived from the kernel's one ``BYTES_PER_SAMPLE`` map so a new
    codec lands in every slice operator at once."""
    expr = F.lit(None).cast("int")
    for codec, w in _BYTES_PER_SAMPLE.items():
        expr = F.when(F.col("codec") == codec, F.lit(w)).otherwise(expr)
    return expr


# per-SAMPLE digital-zero code of every seekable codec as hex text
# (unhex(repeat(hex, m)) keeps binary concat binary end to end): the
# silence time_masked_clips, padded_clips and redact_audio_pii write; 0x80
# is the zero code of THIS repo's continuous-companding G.711 form —
# pytest-gated against encode(zeros) per codec so the two can't drift
_DIGITAL_ZERO_HEX = {"pcm16": "0000", "ulaw": "80", "alaw": "80"}
assert tuple(_DIGITAL_ZERO_HEX) == tuple(_BYTES_PER_SAMPLE)


def _zero_hex_col() -> Column:
    expr = F.lit(None).cast("string")
    for codec, h in _DIGITAL_ZERO_HEX.items():
        expr = F.when(F.col("codec") == codec, F.lit(h)).otherwise(expr)
    return expr


def _encoded_payloads(samples, lengths, codec: str) -> list:
    """Encode a concatenated float buffer to ``codec`` and slice it back
    into one bytes payload per clip.  For the stateless sample codecs
    one companding/quantize transform runs over the whole buffer
    (``alaw_encode``/``ulaw_encode``/``float_to_pcm16``) and the only
    per-clip work is the byte slicing; IMA ADPCM is stateful, so its
    kernel (``batch_adpcm_encode``) restarts predictor state per clip —
    encode-then-slice over the concatenation would corrupt every clip
    after the first."""
    import numpy as np

    from ..kernel.audio import (
        alaw_encode,
        batch_adpcm_encode,
        float_to_pcm16,
        ulaw_encode,
    )

    if codec == "pcm16":
        enc = float_to_pcm16(samples)
    elif codec == "ulaw":
        enc = ulaw_encode(samples)
    elif codec == "alaw":
        enc = alaw_encode(samples)
    elif codec == "adpcm":
        return batch_adpcm_encode(samples, lengths)
    else:
        raise NotImplementedError(
            f"codec '{codec}' requires an external encoder not present "
            f"in this container; supported: pcm16, ulaw, alaw, adpcm"
        )
    bounds = np.cumsum(lengths)
    out, start = [], 0
    for b in bounds:
        out.append(enc[start:int(b)].tobytes())
        start = int(b)
    return out


def transcode_clips(df: DataFrame, target_codec: str = "pcm16") -> DataFrame:
    """Re-encode every clip in ``target_codec`` (decode → encode) — the
    codec-normalization pass a mixed-provenance audio corpus runs before
    training so every payload has one byte layout.  Output schema
    matches the clips table with codec = ``target_codec``; sample rate
    and duration are unchanged (transcoding never resamples — compose
    with :func:`resampled_clips` for that).

    Clips already in ``target_codec`` PASS THROUGH byte-identical with
    zero decode work (re-encoding a decoded G.711 signal reproduces the
    source bytes exactly, so the skip changes nothing but cost).  All
    codec pairs here preserve SNR ≥ 35 dB vs the source signal (G.711
    8-bit companding floor, measured; pcm16 targets are ≥ 85 dB) except
    IMA ADPCM targets: a 4-bit predictive quantizer trades fidelity for
    2x compression and measures 19–31 dB depending on signal content
    (q131 gates its floor at ≥ 15 dB on the transcode fixture) — BELOW
    the 30 dB north-rule passthrough invariant, so adpcm is an ingest/
    storage codec here; route training audio through pcm16/G.711
    targets.  ADPCM payloads hold a whole number of bytes (2 samples
    each): an odd-length source is repeat-padded by one sample and
    decodes to the even-rounded count.  A strict payload transform
    grouped per source codec (module doc); the target codec is written
    on every row, NULL payloads included."""
    _encodable = sorted(_SUPPORTED_CODECS)
    if target_codec not in _encodable:
        raise NotImplementedError(
            f"codec '{target_codec}' requires an external encoder not "
            f"present in this container; supported: {_encodable}"
        )
    return _transform_payloads(
        df, "transcode_clips", lambda g: (g.samples, g.lengths, {}),
        rates=(None, None), sets={"codec": target_codec},
        keep_codec=target_codec,
    )


def trimmed_clips(
    df: DataFrame, threshold: float = 0.01, pad_ms: int = 0
) -> DataFrame:
    """Strip leading/trailing silence from every clip (the VAD-style
    endpoint trim ASR front-ends run before feature extraction),
    keeping ``pad_ms`` of context on each side.

    Decode runs only to FIND the bounds (`kernel.batch_trim_bounds`:
    one flatnonzero + two searchsorted per (codec, sr) group per Arrow
    batch); the retained region is then a BYTE SLICE of the original
    payload — every SEEKABLE codec is fixed-bytes-per-sample (adpcm is
    not: decode state is sequential, so this op refuses it as not
    byte-sliceable) — the codec column is preserved and retained samples
    are bit-identical to the input (no decode→re-encode generation
    loss).  ``dur_ms`` is rewritten from the retained sample count.
    All-silent clips come out with an empty payload (dur 0) for the
    audio gate to name, not silently dropped.  A strict payload
    transform (module doc)."""
    has_dur = "dur_ms" in df.columns

    def kernel(g):
        import numpy as np

        from ..kernel.audio import batch_trim_bounds

        starts, ends = batch_trim_bounds(
            g.samples, g.lengths, threshold, g.sr * int(pad_ms) // 1000
        )
        return starts, ends, {
            "dur_ms": np.round((ends - starts) * 1000.0 / g.sr)
        } if has_dur else {}

    return _transform_payloads(df, "trimmed_clips", kernel, slices=True)


def chunked_clips(
    df: DataFrame,
    max_dur_ms: int = 30_000,
    id_col: str = "clip_id",
) -> DataFrame:
    """Split every clip into chunks of at most ``max_dur_ms`` — the
    fixed-window segmentation ASR/training front-ends run before
    feature extraction (e.g. 30 s windows).

    ZERO decode and ZERO Python: every SEEKABLE codec is
    fixed-bytes-per-sample (pcm16 = 2, G.711 mu/A-law = 1), so a
    sample-aligned chunk is a byte slice — ``explode(sequence(...))`` +
    ``substring`` on the binary column, pure Catalyst, whole-stage
    codegen, no shuffle.  At 10^12 rows this runs at scan speed; a
    decode-based chunker would pay two codec passes for a structural
    transform that needs neither.

    Emitted per chunk: ``chunk_id`` (``<clip_id>#<idx>``), ``chunk_idx``,
    re-derived ``dur_ms`` from the actual slice length, ``chunked``
    (true iff the row was actually sliced to spec), and the parent's
    metadata.  The transcript is NOT alignable to chunks without a
    forced-alignment model, so it stays on chunk 0 only (NULL on the
    rest) — downstream cross-modal gates (rate consistency) must run
    BEFORE chunking or on chunk 0 only.  Codecs outside the seekable
    set — unknown containers AND adpcm, whose predictor-state stream
    cannot be byte-sliced — pass through as a single chunk (idx 0) with
    ``chunked = false`` so the violation of the window contract is
    observable (adpcm DECODES fine downstream, so without the flag an
    over-length clip would sail through every gate — filter
    ``~chunked`` or transcode to a seekable codec first).  A structural
    transform must not drop or corrupt rows.  Empty payloads likewise
    emit their single (empty) chunk."""
    bps = _bps_col()
    # samples per chunk at this clip's rate; NULL bps (non-seekable
    # codec) propagates NULL chunk_bytes → single passthrough chunk
    chunk_bytes = (
        F.floor(F.col("sr_hz").cast("bigint") * F.lit(max_dur_ms) / F.lit(1000))
        .cast("bigint") * bps
    )
    # coalesce(..., 1): a NULL payload must yield one passthrough chunk
    # — a NULL n_chunks would make explode(sequence(NULL)) silently DROP
    # the row, and a structural transform never loses rows
    n_chunks = F.coalesce(
        F.when(
            chunk_bytes.isNotNull() & (chunk_bytes > 0),
            F.greatest(F.lit(1).cast("bigint"),
                       F.ceil(F.length("bytes") / chunk_bytes)),
        ).otherwise(F.lit(1)),
        F.lit(1),
    )
    out = (
        df.withColumn("_cb", chunk_bytes)
        .withColumn("_nc", n_chunks)
        .withColumn(
            "chunk_idx",
            F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("_nc") - 1)),
        )
        .withColumn(
            "bytes",
            # _cb > 0, not just non-null: sr_hz <= 0 yields _cb = 0 and
            # substring(bytes, 1, 0) would EMPTY the payload of a row
            # that is supposed to pass through untouched
            F.when(
                F.col("_cb").isNotNull() & (F.col("_cb") > 0),
                F.expr("substring(bytes, cast(chunk_idx * _cb + 1 as int), "
                       "cast(_cb as int))"),
            ).otherwise(F.col("bytes")),
        )
        .withColumn(
            "dur_ms",
            F.coalesce(
                F.when(
                    F.col("_cb").isNotNull() & (F.col("_cb") > 0),
                    F.round(
                        F.length("bytes") / bps * 1000.0 / F.col("sr_hz")
                    ).cast("int"),
                ),
                F.col("dur_ms"),
            ),
        )
        .withColumn(
            "transcript",
            F.when(F.col("chunk_idx") == 0, F.col("transcript")),
        )
        .withColumn(
            "chunk_id",
            F.format_string("%s#%04d", F.col(id_col), F.col("chunk_idx")),
        )
        .withColumn(
            "chunked", F.col("_cb").isNotNull() & (F.col("_cb") > 0)
        )
        .drop("_cb", "_nc")
    )
    return out


def speed_perturbed_clips(df: DataFrame, factor: float = 1.1) -> DataFrame:
    """Speed perturbation — the Kaldi-style `sp` augmentation every ASR
    training recipe runs (0.9×/1.0×/1.1× copies of the corpus): play the
    waveform ``factor``× faster by resampling it AS IF its source rate
    were ``round(sr·factor)`` and relabeling at the original rate (sox
    `speed` semantics — pitch shifts with tempo).  Output sample count
    is ``round(n · sr / round(sr·factor))``; metadata keeps ``sr_hz``
    and rewrites ``dur_ms`` and ``codec`` (pcm16, like every
    re-synthesizing transform here).

    A strict payload transform grouped per (codec, sr) (module doc):
    the virtual source rate depends on the clip's own rate; the
    resample kernel is the shared regime-adaptive ``batch_resample``."""
    if not factor > 0:
        raise ValueError("speed_perturbed_clips: factor must be positive")
    has_dur = "dur_ms" in df.columns

    def kernel(g):
        import numpy as np

        from ..kernel.audio import batch_resample

        virtual_sr = int(round(g.sr * factor))
        if virtual_sr < 1:
            raise ValueError(
                f"speed_perturbed_clips: factor {factor} "
                f"quantizes the virtual source rate to 0 at "
                f"sr_hz={g.sr} - the factor is too small"
            )
        res, res_lengths = batch_resample(
            g.samples, g.lengths, np.full(len(g.idx), virtual_sr), g.sr
        )
        return res, res_lengths, {
            "dur_ms": np.round(res_lengths * 1000.0 / g.sr)
        } if has_dur else {}

    return _transform_payloads(
        df, "speed_perturbed_clips", kernel, sets={"codec": "pcm16"},
    )


def split_clips_on_silence(
    df: DataFrame,
    min_gap_ms: int = 200,
    threshold: float = 0.01,
    id_col: str = "clip_id",
) -> DataFrame:
    """Utterance segmentation: split every clip at internal silence runs
    of at least ``min_gap_ms`` and emit one row per voiced segment —
    the VAD-style splitting ASR training runs so each example is one
    utterance, not a 10-minute recording.  Segment bounds come from
    ``kernel.batch_voiced_segments`` (one flatnonzero + one diff per
    (codec, sr) group per Arrow batch); each segment is then a BYTE
    SLICE of the original payload (codec preserved, samples
    bit-identical), trimmed to its voiced ends — edge silence falls off,
    internal silences shorter than the gap stay inside their segment.

    Emitted per segment: ``seg_idx``, ``seg_id`` (``<clip_id>#s<idx>``),
    rewritten ``dur_ms``, and the parent's metadata; the transcript is
    not alignable to segments without forced alignment, so it stays on
    segment 0 only (NULL elsewhere) — same contract as
    :func:`chunked_clips`.  All-silent and empty clips emit ONE empty
    segment, and NULL payloads pass through as one untouched segment
    (a structural transform never loses rows).  Any other row the
    slice cannot take — a codec outside the fixed-width ones, a NULL or
    non-positive sr, an odd-length pcm16 payload — raises the strict
    transforms' named error (module doc)."""
    has_dur = "dur_ms" in df.columns

    def run(pdf):
        import numpy as np

        from ..kernel.audio import batch_decode, batch_voiced_segments

        datas = pdf["bytes"].tolist()
        nonnull = np.array([d is not None for d in datas])
        codecs = pdf["codec"].to_numpy()
        srs = pdf["sr_hz"].to_numpy(dtype="float64", na_value=np.nan)
        # segments are payload slices; NaN > 0 is False, so a NULL
        # rate is refused with the non-positive ones, and so is an
        # odd-length pcm16 payload, which the decode cannot take
        odd = np.array([
            c == "pcm16" and d is not None and len(d) % 2 == 1
            for c, d in zip(codecs.tolist(), datas)
        ], dtype=bool)
        refused = np.flatnonzero(nonnull & (odd | ~(
            pdf["codec"].isin(_BYTES_PER_SAMPLE).to_numpy() & (srs > 0)
        )))
        if len(refused):
            raise _refusal(
                "split_clips_on_silence", pdf.iloc[refused[0]], slices=True
            )
        all_rows, all_s, all_e = [], [], []
        for codec, sr in sorted(
            {(c, int(s)) for c, s, nn in
             zip(codecs.tolist(), srs.tolist(), nonnull) if nn},
            key=str,
        ):
            idx = np.flatnonzero(
                (codecs == codec) & (srs == sr) & nonnull
            )
            samples, lengths = batch_decode(
                [bytes(datas[i]) for i in idx], codec
            )
            gap = (sr * int(min_gap_ms)) // 1000
            ci, s, e = batch_voiced_segments(
                samples, lengths, threshold, gap
            )
            rows = idx[ci]
            # all-silent clips: one empty segment each
            silent = np.setdiff1d(idx, rows, assume_unique=False)
            all_rows.append(np.concatenate([rows, silent]))
            all_s.append(np.concatenate([s, np.zeros(len(silent), np.int64)]))
            all_e.append(np.concatenate([e, np.zeros(len(silent), np.int64)]))
        # NULL payloads: one passthrough segment each (s == e == -1
        # marks "do not slice, do not rewrite duration")
        nulls = np.flatnonzero(~nonnull)
        all_rows.append(nulls)
        all_s.append(np.full(len(nulls), -1, np.int64))
        all_e.append(np.full(len(nulls), -1, np.int64))
        rows = np.concatenate(all_rows) if all_rows else np.empty(0, np.int64)
        s = np.concatenate(all_s) if all_s else np.empty(0, np.int64)
        e = np.concatenate(all_e) if all_e else np.empty(0, np.int64)
        order = np.lexsort((s, rows))
        rows, s, e = rows[order], s[order], e[order]
        # seg_idx = rank of the segment within its clip
        if len(rows):
            new_clip = np.empty(len(rows), dtype=bool)
            new_clip[0] = True
            new_clip[1:] = rows[1:] != rows[:-1]
            first_pos = np.flatnonzero(new_clip)
            seg_idx = (np.arange(len(rows))
                       - np.repeat(first_pos, np.diff(
                           np.append(first_pos, len(rows)))))
        else:
            seg_idx = np.empty(0, dtype=np.int64)
        out = pdf.iloc[rows].reset_index(drop=True)
        passthrough = s < 0
        # one source of truth for bytes-per-sample: the same dict the
        # codec validation above checked against
        bps_arr = (
            out["codec"].map(_BYTES_PER_SAMPLE).fillna(1)
            .to_numpy().astype(np.int64)
        )
        out["bytes"] = [
            None if a < 0 else bytes(datas[r])[
                int(a) * int(b): int(z) * int(b)]
            for r, a, z, b in zip(rows, s, e, bps_arr)
        ]
        if has_dur:
            new_dur = out["dur_ms"].copy()
            live = np.flatnonzero(~passthrough)
            # cast to the Series' own dtype: pandas deprecates
            # (future-errors) int64 setitem into an int32 column
            new_dur.iloc[live] = np.round(
                (e[live] - s[live]) * 1000.0
                / out["sr_hz"].to_numpy()[live]
            ).astype(new_dur.dtype, copy=False)
            out["dur_ms"] = new_dur
        if "transcript" in out.columns:
            out["transcript"] = out["transcript"].where(seg_idx == 0)
        out["seg_idx"] = seg_idx.astype(np.int32)
        out["seg_id"] = [
            f"{cid}#s{int(k):03d}"
            for cid, k in zip(out[id_col], seg_idx)
        ]
        return out

    return map_batches(
        df, run, emits="seg_idx int, seg_id string", drop=()
    )


def time_masked_clips(
    df: DataFrame,
    mask_ms: int = 100,
    start_key: Column | None = None,
    seed: int = 0,
) -> DataFrame:
    """SpecAugment-style time masking as a PURE-CATALYST byte splice —
    zero decode, zero Python, zero Exchange (the `chunked_clips`
    discipline): ``mask_ms`` of samples are overwritten with the codec's
    digital-zero code (pcm16 ``0x0000``, G.711 u-law/A-law ``0x80``), so
    the masked payload stays valid in its ORIGINAL codec and byte length.

    Mask start (in samples) = ``pmod(start_key, n_samples - mask + 1)``
    — deterministic augmentation, reproducible across runs and engines.
    ``start_key`` defaults to ``xxhash64(clip_id, seed)``; pass an
    explicit bigint column when an external oracle must replay the
    placement (the q63 pattern).

    Passthrough (payload unchanged) for NULL payloads, non-seekable
    codecs (unknown containers AND adpcm — splicing zeros into a
    predictor-state stream would corrupt everything after the splice),
    non-positive sample rates, empty clips, and masks that quantize to
    zero samples — an augmentation must never poison rows it cannot
    process.  Every row carries ``masked`` (true iff the splice was
    applied): adpcm decodes fine downstream, so an unflagged skip would
    silently yield an augmentation-free corpus — filter ``~masked`` or
    transcode to a seekable codec first.  Clips shorter than
    ``mask_ms`` are fully masked.  A trailing odd byte on a misaligned
    pcm16 payload rides along untouched (the tail slice keeps
    everything after the mask).
    """
    if mask_ms <= 0:
        raise ValueError(f"time_masked_clips: mask_ms must be positive, got {mask_ms}")
    key = (
        start_key
        if start_key is not None
        else F.xxhash64(F.col("clip_id"), F.lit(seed))
    # try_cast: a float key column carrying NaN (e.g. pandas NA through
    # a non-Arrow conversion) must become NULL -> passthrough, not an
    # ANSI CAST_OVERFLOW that kills the job
    ).try_cast("bigint")
    b = F.col("bytes")
    bps = _bps_col()
    zero_hex = _zero_hex_col()
    n = F.floor(F.length(b).cast("bigint") / bps).cast("bigint")
    m = F.least(
        F.floor(
            F.col("sr_hz").cast("bigint") * F.lit(int(mask_ms)) / F.lit(1000)
        ).cast("bigint"),
        n,
    )
    start = F.pmod(key, n - m + F.lit(1))
    masked = F.concat(
        b.substr(F.lit(1), (start * bps).cast("int")),
        F.unhex(F.repeat(zero_hex, m.cast("int"))),
        b.substr(((start + m) * bps + 1).cast("int"), F.lit(2147483647)),
    )
    applicable = (
        b.isNotNull()
        & bps.isNotNull()
        # a NULL key would NULL the whole splice through pmod/substr —
        # passthrough, never payload destruction
        & key.isNotNull()
        & (F.col("sr_hz") > 0)
        & (n > 0)
        & (m > 0)
    )
    # flag first: `applicable` reads the ORIGINAL payload column
    return df.withColumn("masked", applicable).withColumn(
        "bytes", F.when(F.col("masked"), masked).otherwise(b)
    )


def frame_energy_df(
    df: DataFrame, frame_ms: int = 25, hop_ms: int = 10
) -> DataFrame:
    """clip_id + per-frame RMS energy in dB (the audio 'frame-sample').

    One row per DECODABLE clip: poison rows (NULL / odd-length pcm16
    payload, unsupported or NULL codec, NULL / non-positive sr) are
    SKIPPED, never a stage kill — the ``audio_window_hashes``
    convention; verification paths meet the same poison-row bar as the
    production operators."""

    def run(iterator):
        import numpy as np
        import pandas as pd

        from ..kernel.audio import frame_features

        for pdf in iterator:
            clip_ids = pdf["clip_id"].tolist()
            ids: list = []
            frames: list = []
            for idx, samples, lengths, sr in _sr_groups(pdf):
                bounds = np.concatenate([[0], np.cumsum(lengths)])
                for k, i in enumerate(idx):
                    ids.append(clip_ids[i])
                    frames.append(
                        frame_features(
                            samples[bounds[k]:bounds[k + 1]], sr,
                            frame_ms, hop_ms,
                        ).tolist()
                    )
            yield pd.DataFrame({"clip_id": ids, "frame_db": frames})

    return df.mapInPandas(run, schema="clip_id string, frame_db array<float>")


def decoded_pcm_df(df: DataFrame) -> DataFrame:
    """clip_id + decoded PCM as array<float> — test/verification path
    only.  One row per DECODABLE clip (supported codec, non-NULL
    payload, pcm16 byte-aligned); poison rows are SKIPPED, never a
    stage kill."""

    def run(iterator):
        import numpy as np
        import pandas as pd

        from ..kernel.audio import (
            SUPPORTED_CODECS,
            batch_decode,
            decodable_indices,
        )

        for pdf in iterator:
            datas = pdf["bytes"].tolist()
            codecs = pdf["codec"].to_numpy()
            clip_ids = pdf["clip_id"].tolist()
            ids: list = []
            pcms: list = []
            for codec in SUPPORTED_CODECS:
                cidx = decodable_indices(datas, codecs, codec)
                if not len(cidx):
                    continue
                samples, lengths = batch_decode(
                    [bytes(datas[i]) for i in cidx], codec
                )
                bounds = np.concatenate([[0], np.cumsum(lengths)])
                for k, i in enumerate(cidx):
                    ids.append(clip_ids[i])
                    pcms.append(samples[bounds[k]:bounds[k + 1]].tolist())
            yield pd.DataFrame({"clip_id": ids, "pcm": pcms})

    return df.mapInPandas(run, schema="clip_id string, pcm array<float>")


# --- cross-codec audio near-dup -------------------------------------------------


def _audio_candidate_keys(
    df: DataFrame, id_col: str, band_step: float
) -> DataFrame:
    """(id, sr_hz, dur_ms_measured, band) candidate keys for audio
    near-dup, with DOUBLE band emission: each clip lands in its
    quantized log-energy band b AND b+1, so two clips whose true
    energies differ by less than one step always share a key (|Δb| <= 1
    ⇒ {b, b+1} ∩ {b', b'+1} ≠ ∅) — deterministic candidate recall for
    codec-level perturbations (~1e-3 relative energy << band_step).
    Re-encodings of the same recording have the SAME sample count, so
    they share dur_ms_measured exactly; equal-duration clips of
    different sample counts only add candidates, and the verify kernel
    rejects length mismatches."""
    n_samples = (
        F.col("sr_hz").cast("double")
        * F.col("dur_ms_measured").cast("double")
        / F.lit(1000.0)
    )
    energy = F.log10(
        F.col("rms") * F.col("rms") * n_samples + F.lit(1e-12)
    )
    b0 = F.floor(energy / F.lit(float(band_step))).cast("long")
    return df.select(
        F.col(id_col),
        F.col("sr_hz"),
        F.col("dur_ms_measured"),
        F.explode(F.array(b0, b0 + F.lit(1))).alias("band"),
    )


def _pair_snr_udf():
    """A fresh ``pandas_udf`` ``(bytes_a, bytes_b, codec_a, codec_b) ->
    snr_db`` over ``kernel.audio.batch_pair_snr``.  Built per plan,
    never at import (the ``seam.struct_udf`` rule).

    The kernel IS deterministic; the nondeterministic flag is an
    optimizer barrier — without it Catalyst duplicates the UDF into both
    a filter on ``snr_db`` and the output projection, decoding every
    pair TWICE (two ArrowEvalPython nodes over the same bytes)."""

    def pair_snr(ba, bb, ca, cb):
        import pandas as pd

        from ..kernel.audio import batch_pair_snr

        return pd.Series(
            batch_pair_snr(
                ba.tolist(), bb.tolist(), ca.tolist(), cb.tolist()
            )
        )

    return F.pandas_udf(pair_snr, "double").asNondeterministic()


def audio_near_duplicates(
    df: DataFrame,
    id_col: str = "clip_id",
    snr_db_threshold: float = 20.0,
    band_step: float = 0.25,
    max_bucket: int | None = 256,
) -> DataFrame:
    """Cross-codec audio near-dup: (a, b, snr_db) pairs of clips whose
    DECODED signals agree at >= ``snr_db_threshold`` dB — the same
    recording re-encoded under a different G.711 codec pairs (each
    codec holds >= ~35 dB vs the source, so pairwise lands >= ~30 dB);
    unrelated recordings score ~0 dB.  Byte-exact dedup can never catch
    these: the payloads differ in every byte.

    Scale shape mirrors the text near-dup family: one decode pass emits
    cheap per-clip features; candidates come from a codegen'd self-join
    on (sr_hz, n_samples, energy-band) keys — double banding makes the
    candidate stage deterministic-recall, ``max_bucket`` drops
    mega-buckets LOUDLY (count them with ``audio_oversize_buckets`` at
    the same band_step — never cap silently); and the expensive decode
    of PAIRS happens only for candidates, via a vectorized pairwise-SNR
    kernel (``kernel.audio.batch_pair_snr``) that shuffles clip ids and
    re-reads bytes through a join instead of shuffling PCM."""
    feats = with_audio_features(df).filter(F.col("decode_ok"))
    keyed = _audio_candidate_keys(feats, id_col, band_step)
    if max_bucket is not None:
        oversize = (
            keyed.groupBy("sr_hz", "dur_ms_measured", "band")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .select("sr_hz", "dur_ms_measured", "band")
        )
        keyed = keyed.join(
            F.broadcast(oversize), ["sr_hz", "dur_ms_measured", "band"], "left_anti"
        )
    left = keyed.select("sr_hz", "dur_ms_measured", "band", F.col(id_col).alias("a"))
    right = keyed.select("sr_hz", "dur_ms_measured", "band", F.col(id_col).alias("b"))
    cand = (
        left.join(right, ["sr_hz", "dur_ms_measured", "band"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    payload = df.select(
        F.col(id_col), F.col("bytes"), F.col("codec")
    )
    pa = payload.select(
        F.col(id_col).alias("a"),
        F.col("bytes").alias("_bytes_a"),
        F.col("codec").alias("_codec_a"),
    )
    pb = payload.select(
        F.col(id_col).alias("b"),
        F.col("bytes").alias("_bytes_b"),
        F.col("codec").alias("_codec_b"),
    )
    return (
        cand.join(pa, "a")
        .join(pb, "b")
        .withColumn(
            "snr_db",
            _pair_snr_udf()(
                F.col("_bytes_a"), F.col("_bytes_b"),
                F.col("_codec_a"), F.col("_codec_b"),
            ),
        )
        .filter(F.col("snr_db") >= F.lit(float(snr_db_threshold)))
        .select("a", "b", F.round("snr_db", 3).alias("snr_db"))
    )


def audio_oversize_buckets(
    df: DataFrame, id_col: str = "clip_id",
    band_step: float = 0.25, max_bucket: int = 256,
) -> DataFrame:
    """Accounting twin of ``audio_near_duplicates(max_bucket=...)``:
    the (sr_hz, n_samples, band) buckets the cap would drop, with their
    sizes — surface these instead of capping silently."""
    feats = with_audio_features(df).filter(F.col("decode_ok"))
    return (
        _audio_candidate_keys(feats, id_col, band_step)
        .groupBy("sr_hz", "dur_ms_measured", "band")
        .agg(F.count(F.lit(1)).alias("n_clips"))
        .filter(F.col("n_clips") > max_bucket)
    )


# --- transcript <-> audio consistency -------------------------------------------


def rate_drop_reason_col(
    min_cps: float = 4.0, max_cps: float = 35.0
) -> Column:
    """Speaking-rate consistency over the columns emitted by
    ``with_audio_features``: characters of transcript per second of
    MEASURED audio.  An ASR corpus row whose transcript is far too long
    (or short) for its audio is misaligned — the transcript belongs to
    a different clip, the audio got truncated, or segmentation drifted —
    and no unimodal gate can see it.  Human speech spans roughly 4-35
    chars/sec across languages; outside that, drop.  Pure Catalyst
    (whole-stage codegen), NULL = consistent.  Rows with no measured
    audio are left to the audio gate (``decode_error`` names the real
    problem); empty transcripts are named explicitly."""
    n_chars = F.length(F.trim(F.coalesce(F.col("transcript"), F.lit(""))))
    secs = F.col("dur_ms_measured").cast("double") / F.lit(1000.0)
    cps = n_chars.cast("double") / secs
    return (
        F.when(n_chars == 0, F.lit("empty_transcript"))
        .when(secs <= 0, F.lit(None).cast("string"))
        .when(cps > F.lit(float(max_cps)), F.lit("rate_too_fast"))
        .when(cps < F.lit(float(min_cps)), F.lit("rate_too_slow"))
    )


def with_rate_consistency(
    df: DataFrame, min_cps: float = 4.0, max_cps: float = 35.0
) -> DataFrame:
    """Append ``chars_per_sec`` + ``rate_drop_reason`` (NULL = keep) to
    a frame that already carries ``with_audio_features`` columns.
    Composes with the audio and transcript gates — a third, CROSS-modal
    reason channel."""
    n_chars = F.length(F.trim(F.coalesce(F.col("transcript"), F.lit(""))))
    secs = F.col("dur_ms_measured").cast("double") / F.lit(1000.0)
    cps = F.when(
        secs > 0, F.round(n_chars.cast("double") / secs, 3)
    ).otherwise(F.lit(None).cast("double"))
    return df.withColumn("chars_per_sec", cps).withColumn(
        "rate_drop_reason", rate_drop_reason_col(min_cps, max_cps)
    )


def _snr_feature(**kw) -> _SrFeature:
    """``with_snr_estimate``'s feature; ``kw`` goes to
    ``kernel.audio.batch_snr_estimate`` (its defaults when empty)."""

    def kernel(samples, lengths, sr):
        from ..kernel.audio import batch_snr_estimate

        s, nf = batch_snr_estimate(samples, lengths, sr, **kw)
        # a decodable clip SHORTER than one frame measured nothing —
        # snr_ok=false, or a downstream gate would read an
        # authoritative-looking 0.0 dB
        return {"snr_ok": nf > 0, "snr_est_db": s, "snr_n_frames": nf}

    return _SrFeature(
        "snr_ok boolean, snr_est_db double, snr_n_frames int", kernel,
    )


def with_snr_estimate(
    df: DataFrame,
    frame_ms: int = 20,
    noise_q: float = 0.1,
    keep_bytes: bool = False,
) -> DataFrame:
    """Append the frame-energy SNR estimate (``kernel.audio.
    batch_snr_estimate``): ``snr_est_db`` (NIST-STNR-style — quietest
    ``noise_q`` of 20 ms frames = noise floor, loudest half = signal;
    needs quiet gaps, so a gapless signal reads ~0 dB by design),
    ``snr_n_frames``, and ``snr_ok``.

    Same batching discipline as ``with_log_mel``: one concatenated
    decode + one vectorized estimate per (codec, sr_hz) group per Arrow
    batch — frame length is sr-derived, hence the sr split.  Poison
    rows (undecodable, NULL sr) AND decodable clips shorter than one
    frame (nothing measurable) get snr_ok=false / 0.0 / 0 frames,
    never a stage kill.  ``bytes`` dropped unless ``keep_bytes``."""

    return _with_sr_features(
        df, [_snr_feature(frame_ms=frame_ms, noise_q=noise_q)], keep_bytes,
    )


def with_mfcc(
    df: DataFrame,
    n_mfcc: int = 13,
    n_mels: int = 40,
    frame_ms: int = 32,
    hop_ms: int = 16,
    keep_bytes: bool = False,
) -> DataFrame:
    """Append per-frame MFCCs (``kernel.spectral.batch_mfcc`` — DCT-II
    over the log-mel matrix, the classic compact ASR front-end):
    ``mfcc`` as array<array<float>> (n_frames × n_mfcc), ``n_mfcc_frames``,
    and the time-mean first two cepstra ``mfcc_c0_mean`` (overall
    log-energy spread — broadband noise reads HIGH, narrowband tones
    read very low because most mel bands sit on the log floor) and
    ``mfcc_c1_mean`` (spectral tilt — low-frequency hum reads high
    positive).  Same per-(codec, sr) batching as ``with_log_mel``;
    poison rows → mfcc_ok=false; ``bytes`` dropped unless
    ``keep_bytes``."""

    def kernel(samples, lengths, sr):
        import numpy as np

        from ..kernel.spectral import batch_mfcc

        mf, nf = batch_mfcc(
            samples, lengths, sr, n_mfcc=n_mfcc,
            n_mels=n_mels, frame_ms=frame_ms, hop_ms=hop_ms,
        )
        mats = []
        c0m = np.zeros(len(nf), dtype=np.float64)
        c1m = np.zeros(len(nf), dtype=np.float64)
        off = 0
        for k, m in enumerate(nf.tolist()):
            rows = mf[off:off + m]
            off += m
            mats.append(rows.tolist())
            if m:
                mean = rows.mean(axis=0)
                c0m[k] = float(mean[0])
                if n_mfcc > 1:
                    c1m[k] = float(mean[1])
        # ok requires >=1 frame: sub-frame clips must not publish a
        # legitimate-looking mfcc_c0_mean of 0.0
        return {"mfcc_ok": nf > 0, "mfcc": mats, "n_mfcc_frames": nf,
                "mfcc_c0_mean": c0m, "mfcc_c1_mean": c1m}

    return _with_sr_features(df, [_SrFeature(
        "mfcc_ok boolean, mfcc array<array<float>>, n_mfcc_frames int, "
        "mfcc_c0_mean double, mfcc_c1_mean double",
        kernel,
    )], keep_bytes)


def with_bandwidth(
    df: DataFrame,
    q: float = 0.95,
    frame_ms: int = 32,
    hop_ms: int = 16,
    suspect_frac: float = 0.30,
    keep_bytes: bool = False,
) -> DataFrame:
    """Append the effective-bandwidth probe (``kernel.spectral.
    batch_rolloff``): ``rolloff_hz`` (frequency below which fraction
    ``q`` of pooled spectral energy lies), ``bw_n_frames``, ``bw_ok``,
    and ``upsampled_suspect`` — true when the rolloff sits under
    ``suspect_frac`` × the CLAIMED sample rate.  Audio upsampled from a
    lower rate has no energy above the source Nyquist, so a 16 kHz
    clip rolling off below ~0.3 × sr was born 8 kHz no matter what its
    metadata says — a real speech-corpus defect no time-domain gate can
    see.  Honest narrowband audio LABELED at its true rate reads
    ~0.47 × sr and does not flag.

    Scope note: the probe measures CONTENT bandwidth, so it also flags
    genuinely band-limited content carried at a wideband rate (muffled
    or telephony-band recordings relabeled upward) — which is exactly
    what a wideband-corpus curator wants excluded, whatever the cause.
    The repo's harmonic ``synth_pcm`` clips are narrowband content and
    therefore flag at 16 kHz: expected, not a false positive.

    Same shared batching as the other sr-dependent features
    (``decode_sr_groups``); poison rows and sub-frame clips → bw_ok =
    false, never flagged, never a stage kill."""

    def kernel(samples, lengths, sr):
        from ..kernel.spectral import batch_rolloff

        r, nf = batch_rolloff(
            samples, lengths, sr, q=q, frame_ms=frame_ms, hop_ms=hop_ms,
        )
        return {"bw_ok": nf > 0, "rolloff_hz": r, "bw_n_frames": nf,
                "upsampled_suspect": (nf > 0) & (r < suspect_frac * sr)}

    return _with_sr_features(df, [_SrFeature(
        "bw_ok boolean, rolloff_hz double, bw_n_frames int, "
        "upsampled_suspect boolean",
        kernel,
    )], keep_bytes)


def dc_removed_clips(df: DataFrame, win_ms: int = 125) -> DataFrame:
    """Strip DC offset and sub-hertz drift from every clip (decode →
    centered-moving-average high-pass → pcm16 re-encode) — the cheap
    mic/ADC-defect repair that runs BEFORE level normalization and
    feature extraction, since a constant offset inflates RMS and leaks
    into every spectral frame's DC bin.  Speech-band content passes
    unchanged (the ``win_ms`` window only attenuates ≲ 1/win
    frequencies).

    A strict payload transform grouped per (codec, sr) (module doc):
    the window is sr-derived.  Output codec is pcm16, sample rate
    unchanged."""

    def kernel(g):
        from ..kernel.audio import batch_remove_dc

        return batch_remove_dc(
            g.samples, g.lengths, g.sr, win_ms=win_ms
        ), g.lengths, {}

    return _transform_payloads(
        df, "dc_removed_clips", kernel, sets={"codec": "pcm16"},
    )


def speech_drop_reason_col(min_ratio: float = 0.3) -> Column:
    """Gate over the columns emitted by ``with_speech_activity`` (pure
    Catalyst, NULL = keep): ``vad_error`` names undecodable rows,
    ``no_speech`` clips whose VAD found nothing voiced, and
    ``low_speech_ratio`` clips mostly silence/noise-floor — an ASR
    corpus wants utterances, not room tone."""
    return (
        F.when(~F.col("vad_ok"), F.lit("vad_error"))
        .when(F.col("speech_ratio") == 0.0, F.lit("no_speech"))
        .when(
            F.col("speech_ratio") < F.lit(float(min_ratio)),
            F.lit("low_speech_ratio"),
        )
    )


def with_speech_activity(
    df: DataFrame,
    threshold: float = 0.01,
    gap_ms: int = 200,
    keep_bytes: bool = False,
) -> DataFrame:
    """Append energy-VAD speech-activity measurements: ``vad_ok``,
    ``speech_ratio`` (voiced samples / decoded samples), and
    ``n_speech_segments`` — the utterance count under the SAME
    segmentation semantics as ``split_clips_on_silence`` (kernel
    ``batch_voiced_segments``: voiced runs whose internal pauses are
    shorter than ``gap_ms``).

    Same batching discipline as ``with_snr_estimate``: one concatenated
    decode + one vectorized VAD pass per (codec, sr_hz) group per Arrow
    batch (the gap is sr-derived, hence the sr split); per-clip totals
    come off the flat segment list with two ``np.add.at`` scatters — no
    per-clip Python loop.  Poison rows (undecodable codec, NULL/odd
    payload, bad sr) read ``vad_ok = false`` with zeroed measurements,
    never a stage kill.  ``bytes`` dropped unless ``keep_bytes``.

    Scale: map-only (zero Exchange); the gate itself
    (``speech_drop_reason_col``) is a codegen'd projection on top, so
    at 10^12 rows the cost is exactly one decode of each clip."""

    def kernel(samples, lengths, sr):
        import numpy as np

        from ..kernel.audio import batch_voiced_segments

        gap = max(1, int(sr * gap_ms / 1000))
        clip_idx, seg_start, seg_end = batch_voiced_segments(
            samples, lengths, threshold=threshold, gap=gap
        )
        voiced = np.zeros(len(lengths), dtype=np.int64)
        segs = np.zeros(len(lengths), dtype=np.int64)
        np.add.at(voiced, clip_idx, seg_end - seg_start)
        np.add.at(segs, clip_idx, 1)
        with np.errstate(invalid="ignore", divide="ignore"):
            r = np.where(lengths > 0, voiced / lengths, 0.0)
        # an empty-but-decodable payload measured nothing
        return {"vad_ok": lengths > 0, "speech_ratio": r,
                "n_speech_segments": segs}

    return _with_sr_features(df, [_SrFeature(
        "vad_ok boolean, speech_ratio double, n_speech_segments int",
        kernel,
    )], keep_bytes)


def audio_window_hashes(df: DataFrame, win_ms: int = 250) -> DataFrame:
    """One row per complete ``win_ms`` window of every decodable clip:
    ``(clip_id, win_idx, win_hash)``.  The hash is a uint64 polynomial
    over the window's pcm16-quantized samples (kernel
    ``batch_window_hashes``) — byte-identical audio hashes identically
    regardless of which codec carried it, distinct audio collides at
    ~2^-64.  Window length is sr-derived (``decode_sr_groups`` split),
    so a window always means the same wall-clock span.

    This is the fixed-width sketch the repeated-segment detector
    shuffles INSTEAD of PCM — 20 bytes per 250 ms window vs 4 kB of
    samples, the same never-shuffle-the-payload discipline as MinHash
    (operators/dedup.py module docstring)."""

    def run(iterator):
        import numpy as np
        import pandas as pd

        from ..kernel.audio import batch_window_hashes

        for pdf in iterator:
            ids_out = []
            wins_out = []
            hashes_out = []
            clip_ids = pdf["clip_id"].to_numpy()
            for idx, samples, lengths, sr in _sr_groups(pdf):
                win = max(1, int(sr * win_ms / 1000))
                ci, wi, h = batch_window_hashes(samples, lengths, win)
                ids_out.append(clip_ids[idx][ci])
                wins_out.append(wi)
                hashes_out.append(h)
            if ids_out:
                yield pd.DataFrame(
                    {
                        "clip_id": np.concatenate(ids_out),
                        "win_idx": np.concatenate(wins_out).astype("int32"),
                        "win_hash": np.concatenate(hashes_out),
                    }
                )

    return df.mapInPandas(
        run, schema="clip_id string, win_idx int, win_hash long"
    )


def repeated_audio_segments(
    df: DataFrame, win_ms: int = 250, min_clips: int = 2
) -> DataFrame:
    """Repeated-content detection INSIDE clips: find fixed-width audio
    windows that recur across >= ``min_clips`` distinct clips — intro
    jingles, ad reads, ringtones, hold music — the audio analog of C4's
    repeated-line strip (``dedup_lines``).  Whole-clip dedup never sees
    these: each episode is unique, only its first N seconds repeat.

    Returns one row per input clip: ``(clip_id, n_repeated_windows,
    first_repeated_win)`` (0 / NULL when nothing repeats, so a splice
    with ``trimmed_clips``/``chunked_clips`` can cut the span).

    Scale shape: the ONLY things shuffled are (win_hash, clip_id,
    win_idx) sketch rows — the (hash, clip) groupBy folds map-side
    partials, a window counts each hash's clips, and PCM never leaves
    the decode task.  At 10^12 clips this is the difference between
    shuffling ~20 B and ~4 kB per window."""
    per_clip = _repeated_windows_per_clip(
        df, win_ms, min_clips, include_drop_wins=False
    )
    return (
        df.select("clip_id")
        .join(per_clip, "clip_id", "left")
        .withColumn(
            "n_repeated_windows",
            F.coalesce(F.col("n_repeated_windows"), F.lit(0)).cast("long"),
        )
    )


def _repeated_windows_per_clip(
    df: DataFrame, win_ms: int, min_clips: int,
    include_drop_wins: bool = True,
) -> DataFrame:
    """Shared detect stage of the repeated-segment operators: one narrow
    row per clip that HAS repeats — (clip_id, n_repeated_windows,
    first_repeated_win[, _drop_wins]).  ``_drop_wins`` (the sorted
    window indices the splice consumes) is built only when asked.  One
    lazy plan over the window hashes, so the decode runs once per
    action: fold per (hash, clip), count each hash's clips with a
    window, keep hashes in >= ``min_clips`` clips, fold per clip."""
    drop = include_drop_wins
    per_pair = (
        audio_window_hashes(df, win_ms=win_ms)
        .groupBy("win_hash", "clip_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min("win_idx").alias("_first"),
            *([F.collect_list("win_idx").alias("_wins")] if drop else []),
        )
    )
    n_clips = F.count("clip_id").over(Window.partitionBy("win_hash"))
    drop_wins = F.sort_array(F.flatten(F.collect_list("_wins")))
    return (
        per_pair.withColumn("_n_clips", n_clips)
        .where(F.col("_n_clips") >= int(min_clips))
        .groupBy("clip_id")
        .agg(
            F.sum("_n").alias("n_repeated_windows"),
            F.min("_first").alias("first_repeated_win"),
            *([drop_wins.alias("_drop_wins")] if drop else []),
        )
    )


def strip_repeated_segments(
    df: DataFrame, win_ms: int = 250, min_clips: int = 2
) -> DataFrame:
    """REMOVE cross-clip repeated windows from every clip — the
    actionable form of ``repeated_audio_segments`` (detect) and the
    audio analog of ``dedup_lines`` actually deleting the boilerplate:
    intro jingles / ad reads / hold music are cut out of the payload,
    the unique content survives byte-for-byte.

    The splice is PURE CATALYST, zero re-encode: every supported codec
    is a fixed-width sample encoding (pcm16 2 B, G.711 1 B), so a
    sample window is a byte range and the kept ranges concatenate with
    substring/aggregate expressions — the same zero-Python byte-splice
    discipline as ``time_masked_clips``.  Window size is
    ``greatest(1, floor(sr_hz*win_ms/1000))`` samples, identical to the
    detection kernel's ``max(1, int(sr*win_ms/1000))`` over the same
    declared rate, so detected indices always address the right bytes.
    The ragged tail (never hashed, never matchable) is always kept.

    Scale shape: only (hash, id, idx) sketch rows and the per-clip drop
    list (a handful of ints for flagged clips ONLY) ever shuffle; the
    payload crosses one hash join and is spliced in the map stage.
    Rows the detector skipped (unknown codec, NULL payload/rate, poison
    alignment) pass through unchanged with n_removed_windows = 0.
    ``dur_ms`` is rewritten from the spliced length."""
    drops = _repeated_windows_per_clip(df, win_ms, min_clips).select(
        "clip_id", "_drop_wins"
    )
    out = df.join(drops, "clip_id", "left")

    bps = _bps_col()
    win_bytes = (
        F.greatest(
            F.lit(1),
            F.floor(F.col("sr_hz").cast("long") * win_ms / 1000),
        ).cast("int")
        * bps
    )
    n_complete = (F.length("bytes") / win_bytes).cast("int")
    kept = F.filter(
        F.sequence(F.lit(0), n_complete - 1),
        lambda i: ~F.array_contains(F.col("_drop_wins"), i),
    )
    pieces = F.transform(
        kept,
        lambda i: F.col("bytes").substr(
            i * win_bytes + 1, win_bytes
        ),
    )
    tail = F.col("bytes").substr(
        n_complete * win_bytes + 1, F.length("bytes")
    )
    spliced = F.concat(_concat_bytes(pieces), tail)
    splice_applies = (
        F.col("_drop_wins").isNotNull()
        & F.col("bytes").isNotNull()
        & bps.isNotNull()
    )
    new_bytes = F.when(splice_applies, spliced).otherwise(F.col("bytes"))
    n_removed = F.when(
        splice_applies, F.size("_drop_wins")
    ).otherwise(F.lit(0))
    # stage the spliced payload in its own column FIRST: every later
    # expression (duration) must read the new length without
    # re-evaluating the splice against the already-replaced bytes
    staged = out.withColumn("_new_bytes", new_bytes)
    new_dur = F.when(
        splice_applies & (F.col("sr_hz") > 0),
        F.floor(
            (F.length("_new_bytes") / bps) * 1000 / F.col("sr_hz")
        ).cast("int"),
    ).otherwise(F.col("dur_ms"))
    return (
        staged.withColumn("n_removed_windows", n_removed)
        .withColumn("dur_ms", new_dur)
        .withColumn("bytes", F.col("_new_bytes"))
        .drop("_drop_wins", "_new_bytes")
    )


def with_speaking_rate(
    df: DataFrame,
    threshold: float = 0.01,
    gap_ms: int = 200,
) -> DataFrame:
    """Cross-modal transcript/audio consistency measurement: append the
    energy-VAD activity columns plus ``voiced_sec`` (measured speech
    time) and ``chars_per_voiced_sec`` — transcript length over voiced
    seconds.  A mispaired row (wrong transcript attached to the clip, a
    truncated upload, text for a silent file) shows up as an implausible
    speaking rate long before an ASR model ever sees it; human speech
    lives in a narrow chars/sec band, so this is the cheap pairing
    audit a 10^12-row crawl runs on every (audio, text) pair.

    Everything above the VAD decode is PURE CATALYST: voiced time is
    ``speech_ratio x decoded_samples / sr`` with the sample count taken
    from the payload's byte length (fixed-width codecs), so no second
    decode and no extra Python.  ``chars_per_voiced_sec`` is NULL when
    there is no voiced audio or no transcript — the gate column names
    those cases explicitly rather than dividing by zero.  ``bytes`` is
    consumed and dropped, as in ``with_speech_activity``."""
    vad = with_speech_activity(
        df, threshold=threshold, gap_ms=gap_ms, keep_bytes=True
    )
    # samples from payload length — ratio form so the nibble codec is
    # exact (adpcm packs 2 samples/byte); VAD above decodes the same
    # codec set, so the two sides of speech_ratio x n_samples agree
    spb = (
        F.when(F.col("codec") == "pcm16", F.lit(0.5))
        .when(F.col("codec").isin("ulaw", "alaw"), F.lit(1.0))
        .when(F.col("codec") == "adpcm", F.lit(2.0))
    )
    n_samples = F.when(
        F.col("bytes").isNotNull() & spb.isNotNull(),
        (F.length("bytes") * spb).cast("long"),
    ).otherwise(F.lit(0))
    voiced = F.when(
        F.col("vad_ok") & (F.col("sr_hz") > 0),
        F.col("speech_ratio") * n_samples / F.col("sr_hz"),
    ).otherwise(F.lit(0.0))
    n_chars = F.length(F.trim(F.coalesce(F.col("transcript"), F.lit(""))))
    cps = F.when(
        (voiced > 0) & (n_chars > 0), n_chars / voiced
    )
    return (
        vad.withColumn("voiced_sec", voiced)
        .withColumn("chars_per_voiced_sec", cps)
        .drop("bytes")
    )


def pairing_drop_reason_col(
    min_cps: float = 4.0, max_cps: float = 30.0
) -> Column:
    """First-match drop reason for the transcript/audio pairing gate
    (over ``with_speaking_rate`` columns), NULL = keep:

    - ``vad_error``: undecodable payload — nothing to audit
    - ``missing_transcript``: voiced audio with an empty transcript
      (also names the fully-empty pair: no text is the actionable half)
    - ``transcript_without_speech``: a transcript attached to audio the
      VAD finds no speech in (silent/room-tone file, wrong pairing)
    - ``rate_too_fast`` / ``rate_too_slow``: chars/voiced-sec outside
      the plausible speaking band — truncated audio under a full
      transcript reads fast; a fragment transcript reads slow

    Defaults: conservative bounds around conversational speech (~15
    chars/s English; 4–30 admits slow dictation through fast reads).
    Pure Catalyst — a codegen'd CASE, zero extra decode."""
    n_chars = F.length(F.trim(F.coalesce(F.col("transcript"), F.lit(""))))
    return (
        F.when(~F.col("vad_ok"), F.lit("vad_error"))
        .when(n_chars == 0, F.lit("missing_transcript"))
        .when(F.col("voiced_sec") <= 0, F.lit("transcript_without_speech"))
        .when(
            F.col("chars_per_voiced_sec") > F.lit(float(max_cps)),
            F.lit("rate_too_fast"),
        )
        .when(
            F.col("chars_per_voiced_sec") < F.lit(float(min_cps)),
            F.lit("rate_too_slow"),
        )
    )


def with_tempo_fingerprint(df: DataFrame, n_frames: int = 32) -> DataFrame:
    """Append a TEMPO-ROBUST content fingerprint: the clip's energy
    envelope quantized over ``n_frames`` equal time spans (kernel
    ``batch_envelope_bits``).  A speed-perturbed re-upload (0.9x/1.1x
    tempo, any codec) stretches every span equally, so its envelope
    PATTERN — and therefore the fingerprint — is unchanged, while
    exact/cross-codec dedup (``audio_near_duplicates``) sees a
    different-length payload and misses it.  This is the detection
    counterpart of the ``speed_perturbed_clips`` augmentation: a crawl
    that augments must also recognize already-perturbed copies.

    ``fp_ok`` is false (fingerprint 0) for undecodable / sub-n_frames /
    fully-silent clips.  Scale shape: one decode boundary, then dedup
    happens on an 8-byte fingerprint groupBy — PCM never shuffles."""

    def run(pdf):
        import numpy as np

        from ..kernel.audio import (
            SUPPORTED_CODECS,
            batch_decode,
            batch_envelope_bits,
            decodable_indices,
        )

        n = len(pdf)
        oks = np.zeros(n, dtype=bool)
        fps = np.zeros(n, dtype=np.int64)
        datas = pdf["bytes"].tolist()
        codecs = pdf["codec"].to_numpy()
        for codec in SUPPORTED_CODECS:
            idx = decodable_indices(datas, codecs, codec)
            if not len(idx):
                continue
            samples, lengths = batch_decode(
                [bytes(datas[i]) for i in idx], codec
            )
            ok, bits = batch_envelope_bits(
                samples, lengths, n_frames=n_frames
            )
            oks[idx] = ok
            fps[idx] = bits
        pdf["fp_ok"] = oks
        pdf["tempo_fp"] = fps
        return pdf

    return map_batches(df, run, emits="fp_ok boolean, tempo_fp long")


def redact_audio_pii(
    df: DataFrame,
    config=None,
    text_col: str = "transcript",
) -> DataFrame:
    """CROSS-MODAL PII scrub — the reference engine's substitution
    (ref:lib/top_secret/text.rb:216-224) extended to the audio payload:
    every character span the text scrub would replace (kernel
    ``pii_char_spans`` — the same single-pass event scan, so coverage
    is exact by construction) is mapped proportionally onto the clip's
    samples and SILENCED in place (the "bleep"), while the transcript
    is scrubbed with the same mapping.  A training pair then leaks PII
    through neither modality — scrubbing the text but shipping the
    audio that SPEAKS the number would defeat the whole exercise.

    The char→time map is proportional (char i of n ↦ sample
    ``floor(i/n*len)``) — the alignment a corpus without forced
    alignments can defend; with per-word timestamps, substitute them
    upstream by pre-slicing.  Redaction writes the codec's own silence
    byte (pcm16 0x0000, G.711 companded zero), so payload length,
    codec, and metadata are unchanged and the clip stays decodable.
    Rows the redactor can't handle (unknown codec, NULL payload/
    transcript) pass through unchanged with n_redacted_spans = 0 —
    poison rows must not kill the stage.

    Scale shape: one mapInPandas, map-only, zero Exchange; the per-row
    work is the same regex scan the scrub stage already pays, plus an
    O(span) byte fill."""
    from ..kernel.filters import DEFAULT_CONFIG

    cfg = config or DEFAULT_CONFIG
    cfg.all_filters()  # plan-time label validation
    fill = {c: bytes.fromhex(h) for c, h in _DIGITAL_ZERO_HEX.items()}

    def run(pdf):
        import numpy as np

        from ..kernel.audio import SEEKABLE_CODECS
        from ..kernel.scrub import pii_char_spans, scan_text, substitute_text

        n = len(pdf)
        new_bytes = pdf["bytes"].tolist()
        scrubbed = [None] * n
        n_spans = np.zeros(n, dtype=np.int32)
        red_ms = np.zeros(n, dtype=np.float64)
        codecs = pdf["codec"].tolist()
        srs = pdf["sr_hz"].tolist()
        texts = pdf[text_col].tolist()
        for i in range(n):
            t = texts[i]
            if t is None:
                continue
            mapping = scan_text(t, None, cfg)
            scrubbed[i] = substitute_text(t, mapping)
            if not mapping:
                continue
            data, codec, sr = new_bytes[i], codecs[i], srs[i]
            # SEEKABLE only: silence is written as a per-sample byte
            # splice, which a stateful codec (adpcm) cannot survive —
            # such rows pass through with the scrubbed transcript but
            # n_redacted_spans = 0 (transcode to a fixed-width codec
            # upstream to redact audio too)
            if (
                data is None
                or codec not in SEEKABLE_CODECS
                or sr is None
                or sr != sr  # NULL sr_hz arrives from Arrow as NaN,
                # which passes both the None and <= 0 tests and
                # would pour NaN into red_ms below
                or sr <= 0
            ):
                continue
            w = _BYTES_PER_SAMPLE[codec]
            n_samp = len(data) // w
            if n_samp == 0:
                continue
            # reuse the mapping already scanned above — the regex
            # scan dominates this stage's cost, never pay it twice
            spans = pii_char_spans(t, None, cfg, mapping=mapping)
            buf = bytearray(data)
            tn = len(t)
            for a, b, _label in spans:
                s0 = (a * n_samp) // tn
                s1 = -(-(b * n_samp) // tn)  # ceil
                buf[s0 * w: s1 * w] = fill[codec] * (s1 - s0)
                red_ms[i] += (s1 - s0) * 1000.0 / sr
            n_spans[i] = len(spans)
            new_bytes[i] = bytes(buf)
        pdf["bytes"] = new_bytes
        pdf["scrubbed"] = scrubbed
        pdf["n_redacted_spans"] = n_spans
        pdf["redacted_ms"] = red_ms
        return pdf

    return map_batches(
        df, run,
        emits="scrubbed string, n_redacted_spans int, "
              "redacted_ms double",
        drop=(),
    )


def audio_cdc_segments(
    df: DataFrame, window: int = 64, mask_bits: int = 10
) -> DataFrame:
    """One row per content-defined segment of every decodable clip:
    ``(clip_id, seg_idx, seg_hash)`` (kernel ``batch_cdc_segments``).
    Boundaries come from the CONTENT (Rabin rolling hash), so an
    inserted prefix/suffix — leading silence, a new intro — leaves the
    interior segments and their hashes unchanged: the OFFSET-robust
    member of the dedup family (exact q10 / cross-codec q44 / tempo
    q94 / this).  Same-codec comparison only (the hash is over the
    decode lattice).  Like ``audio_window_hashes``, only ~16-byte
    sketch rows ever leave the decode task."""

    def run(iterator):
        import numpy as np
        import pandas as pd

        from ..kernel.audio import (
            SUPPORTED_CODECS,
            batch_cdc_segments,
            batch_decode,
            decodable_indices,
        )

        for pdf in iterator:
            ids_out, segs_out, hashes_out = [], [], []
            datas = pdf["bytes"].tolist()
            codecs = pdf["codec"].to_numpy()
            clip_ids = pdf["clip_id"].to_numpy()
            for codec in SUPPORTED_CODECS:
                idx = decodable_indices(datas, codecs, codec)
                if not len(idx):
                    continue
                samples, lengths = batch_decode(
                    [bytes(datas[i]) for i in idx], codec
                )
                ci, si, h = batch_cdc_segments(
                    samples, lengths, window=window, mask_bits=mask_bits
                )
                ids_out.append(clip_ids[idx][ci])
                segs_out.append(si)
                hashes_out.append(h)
            if ids_out:
                yield pd.DataFrame(
                    {
                        "clip_id": np.concatenate(ids_out),
                        "seg_idx": np.concatenate(segs_out).astype("int32"),
                        "seg_hash": np.concatenate(hashes_out),
                    }
                )

    return df.mapInPandas(
        run, schema="clip_id string, seg_idx int, seg_hash long"
    )


def offset_robust_partners(
    df: DataFrame,
    window: int = 64,
    mask_bits: int = 10,
    min_shared: int = 2,
) -> DataFrame:
    """Per-clip offset-robust duplicate audit: ``(clip_id, n_partners)``
    where a partner is ANOTHER clip sharing at least ``min_shared``
    distinct content-defined segment hashes — catches the re-upload
    with extra leading silence or an appended outro that
    exact/fixed-window dedup misses (every sample position shifted).
    ``min_shared`` defaults to 2: one shared segment can be a chance
    collision of two SHORT segments on a coarse companded lattice
    (observed on G.711 at 10-bit expected segment length); genuinely
    shared content spans many consecutive segments.

    Scale shape: the self-join runs on 8-byte segment hashes (the
    standard sketch-join; a corpus-common byte-identical segment makes
    a hot bucket — cap it with the ``max_bucket`` accounting pattern of
    ``near_duplicates_minhash`` when mining the open web).  PCM never
    shuffles; the shared-count and partner-count aggregations fold
    map-side."""
    segs = audio_cdc_segments(
        df, window=window, mask_bits=mask_bits
    ).select("clip_id", "seg_hash").distinct()
    pairs = (
        segs.join(
            segs.withColumnRenamed("clip_id", "_other"), "seg_hash"
        )
        .filter(F.col("clip_id") != F.col("_other"))
        .groupBy("clip_id", "_other")
        .agg(F.count(F.lit(1)).alias("_n_shared"))
        .filter(F.col("_n_shared") >= int(min_shared))
        .groupBy("clip_id")
        .agg(F.count(F.lit(1)).alias("n_partners"))
    )
    return (
        df.select("clip_id")
        .join(pairs, "clip_id", "left")
        .withColumn(
            "n_partners",
            F.coalesce(F.col("n_partners"), F.lit(0)).cast("long"),
        )
    )


def with_channel_stats(
    df: DataFrame,
    threshold: float = 0.01,
    block_ms: int = 10,
    keep_bytes: bool = False,
) -> DataFrame:
    """Per-channel call analytics over frame-interleaved multichannel
    clips (``n_channels`` column required): append ``chan_ok``,
    ``talk_ms_ch0`` / ``talk_ms_ch1`` (block-energy voiced time per
    channel, ``kernel.batch_channel_blocks`` semantics), and
    ``overtalk_ms`` (blocks where >= 2 channels are voiced at once —
    the agent/customer crosstalk measure call-center curation gates
    on).  Channels beyond the first two still count toward overtalk;
    the two named columns keep the schema fixed (2 channels is the
    telephony case this models).  Mono rows read ``overtalk_ms = 0``.

    Scale: map-only, zero Exchange; ONE decode + one whole-batch
    reshape/mean per (codec, sr, nch) group per Arrow batch
    (``decode_sr_nch_groups``), no per-clip Python.  Poison rows (bad
    codec / NULL payload / NULL sr / NULL or nonpositive n_channels)
    read ``chan_ok = false`` with zeroed measurements — never a stage
    kill.  ``bytes`` dropped unless ``keep_bytes`` (multi-kB payloads
    must not ride the Arrow boundary twice for a stats pass).

    Reference parity: top_secret is text-only; this is part of the
    audio twin the north rule adds (BASELINE.json north_star)."""

    def run(pdf):
        import numpy as np

        from ..kernel.audio import batch_channel_blocks

        n = len(pdf)
        oks = np.zeros(n, dtype=bool)
        talk0 = np.zeros(n, dtype=np.int64)
        talk1 = np.zeros(n, dtype=np.int64)
        over = np.zeros(n, dtype=np.int64)
        for idx, samples, lengths, sr, nch, _codec in _sr_nch_groups(pdf):
            vc, ot, nb = batch_channel_blocks(
                samples, lengths, nch, sr,
                threshold=threshold, block_ms=block_ms,
            )
            oks[idx] = nb > 0
            talk0[idx] = vc[:, 0] * block_ms
            if nch >= 2:
                talk1[idx] = vc[:, 1] * block_ms
            over[idx] = ot * block_ms
        pdf["chan_ok"] = oks
        pdf["talk_ms_ch0"] = talk0
        pdf["talk_ms_ch1"] = talk1
        pdf["overtalk_ms"] = over
        return pdf

    return map_batches(
        df, run,
        emits="chan_ok boolean, talk_ms_ch0 bigint, "
              "talk_ms_ch1 bigint, overtalk_ms bigint",
        drop=() if keep_bytes else ("bytes",),
    )


def downmix_to_mono(df: DataFrame) -> DataFrame:
    """Downmix frame-interleaved multichannel clips to mono in the
    clip's own codec: decode → one whole-buffer reshape/mean
    (``kernel.batch_downmix``) → ONE whole-buffer re-encode, then
    per-clip byte slices off the encoded buffer (the only per-row work
    anywhere — a memoryview slice).  ``n_channels`` becomes 1, payload
    shrinks by the channel factor, ``dur_ms`` is unchanged (frames per
    channel are preserved; a ragged trailing partial frame is dropped).

    A restoration payload transform grouped per (codec, sr, nch)
    (module doc): poison rows (undecodable codec, NULL payload/sr/
    n_channels) pass through byte-for-byte with their original
    ``n_channels`` — at 10^12 rows a poison row must stay visible to the
    downstream metadata audit (q88), not be silently relabeled mono.

    Scale: map-only, zero Exchange, zero per-clip numpy calls; the
    downmix is one mean over a ``(frames, nch)`` view of the whole
    Arrow batch."""

    def kernel(g):
        from ..kernel.audio import batch_downmix

        mono, mlen = batch_downmix(g.samples, g.lengths, g.nch)
        return mono, mlen, {"n_channels": 1}

    return _transform_payloads(
        df, "downmix_to_mono", kernel,
        rates=("sr_hz", "n_channels"), strict=False,
    )


# --- WAV/RIFF container handling (pure Catalyst) ------------------------------


def _le_uint(col, off: int, width: int):
    """Little-endian unsigned int read from a binary column at 1-based
    byte offset ``off`` — pure Catalyst: hex() the byte slice, reverse
    the byte order by re-concatenating hex digit pairs, conv(16, 10).
    Codegen'd end to end; no Python touches the bytes."""
    h = F.hex(F.substring(col, off, width))
    pairs = [F.substring(h, 2 * i + 1, 2) for i in range(width)]
    return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("bigint")


#: staged temporaries of ``with_wav_header``; an input column of the
#: same name would be overwritten and then dropped, so it is refused
_WAV_TEMPS = (
    "_w_blen", "_w_fmt_code", "_w_fmt_size", "_w_nch", "_w_sr",
    "_w_bits", "_w_c1_off", "_w_c1_id", "_w_c1_size", "_w_c2_off",
    "_w_c2_id", "_w_c2_size", "_w_data_off", "_w_data_len", "_w_issue",
)


def with_wav_header(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Parse the RIFF/WAVE container header ENTIRELY in Catalyst — no
    Python, no decode: byte-slice + hex + conv expressions that
    whole-stage-codegen compiles next to the scan, so a 10^12-row
    header audit never pays an Arrow crossing or touches payload
    samples.

    Appends ``fmt_code`` / ``nch_hdr`` / ``sr_hdr`` / ``bits_hdr``
    (NULL when the container is malformed), ``data_off`` / ``data_len``
    (1-based payload location), and ``wav_issue``: NULL for a
    well-formed container, else the first failing check in document
    order — ``null_payload``, ``not_riff``, ``not_wave``, ``no_fmt``,
    ``bad_fmt`` (fmt chunk shorter than the 16 mandatory bytes),
    ``no_data`` (data chunk absent after skipping at most one
    interposed chunk, e.g. LIST or fact), or ``truncated_data``
    (declared data length runs past the payload).

    The fmt chunk's DECLARED size is honored, not assumed 16: G.711 and
    extensible WAVs written by standard tools carry an 18- or 40-byte
    fmt (cbSize field) and usually a fact chunk before data — a
    fixed-offset probe would land mid-fmt and misreport ``no_data`` on
    spec-conformant files.  RIFF odd-size padding is applied when
    walking past fmt and the interposed chunk.  The mandatory first 16
    fmt bytes hold every field this audit reads, so field offsets stay
    fixed; only the chunk WALK is size-dependent.

    Reference parity: the reference has no container handling (audio is
    the graft axis); this is the ingest-side twin of q88's metadata
    audit, one level deeper — the file format itself.

    Raises ``ValueError`` at plan time when an input column shares a
    name with one of the ``_w_*`` staging temporaries."""
    clash = sorted(set(df.columns) & set(_WAV_TEMPS))
    if clash:
        raise ValueError(
            f"with_wav_header: input columns {clash} collide with its "
            "_w_* staging temporaries; rename them first"
        )
    b = F.col(bytes_col)
    # chunk walk honors the DECLARED fmt size (+ RIFF odd-size pad).
    # CLAMP every derived offset before the int cast: a malformed/lying
    # 32-bit size (up to 2^32-1) would overflow the cast under ANSI
    # mode and kill the stage — a poison ROW must never be a poison
    # STAGE.  A clamped offset lands past any real payload, substring
    # reads empty, and the row resolves to `no_data`/`bad_fmt`, the
    # verdict it deserves.
    #
    # PERFORMANCE SHAPE: the walk is built as STAGED withColumns
    # projections, not one expression tree.  Inlined, every `when` arm
    # re-expands the full hex/conv parse of each upstream field (the
    # chunk2 branch alone re-derives fmt_size ~10x), the collapsed
    # projection overflows codegen and falls back to interpreted eval
    # with no subexpression reuse — measured 718 clips/s.  Staged, each
    # parse tree is a named alias that downstream stages reference as a
    # plain attribute; CollapseProject declines to inline non-trivial
    # aliases referenced more than once, so every field is evaluated
    # exactly once per row (15x measured: see BENCH wav_audit arm).
    _CLAMP = F.lit(2_000_000_000)
    stage1 = df.withColumns(
        {
            "_w_blen": F.length(b),
            "_w_fmt_code": _le_uint(b, 21, 2),
            "_w_fmt_size": _le_uint(b, 17, 4),
            "_w_nch": _le_uint(b, 23, 2),
            "_w_sr": _le_uint(b, 25, 4),
            "_w_bits": _le_uint(b, 35, 2),
        }
    )
    fmt_size = F.col("_w_fmt_size")
    stage2 = stage1.withColumn(
        "_w_c1_off",
        F.least(
            F.lit(21) + fmt_size + F.pmod(fmt_size, 2), _CLAMP
        ).cast("int"),
    )
    c1_off = F.col("_w_c1_off")
    stage3 = stage2.withColumns(
        {
            "_w_c1_id": F.substring(b, c1_off, 4),
            "_w_c1_size": _le_uint(
                b, F.least(c1_off + 4, _CLAMP).cast("int"), 4
            ),
        }
    )
    c1_size = F.col("_w_c1_size")
    # one-chunk skip: if the chunk after fmt isn't `data` (fact, LIST,
    # INFO — the common real-world interposers), look past it once
    stage4 = stage3.withColumn(
        "_w_c2_off",
        F.least(
            c1_off + 8 + c1_size + F.pmod(c1_size, 2), _CLAMP
        ).cast("int"),
    )
    c2_off = F.col("_w_c2_off")
    stage5 = stage4.withColumns(
        {
            "_w_c2_id": F.substring(b, c2_off, 4),
            "_w_c2_size": _le_uint(
                b, F.least(c2_off + 4, _CLAMP).cast("int"), 4
            ),
        }
    )
    is_data1 = F.col("_w_c1_id") == F.lit(b"data")
    is_data2 = F.col("_w_c2_id") == F.lit(b"data")
    stage6 = stage5.withColumns(
        {
            "_w_data_off": (
                F.when(is_data1, c1_off + 8)
                .when(is_data2, c2_off + 8)
                .otherwise(F.lit(None))
                .cast("int")
            ),
            "_w_data_len": (
                F.when(is_data1, c1_size)
                .when(is_data2, F.col("_w_c2_size"))
                .otherwise(F.lit(None))
                .cast("bigint")
            ),
        }
    )
    blen = F.col("_w_blen")
    data_off = F.col("_w_data_off")
    data_len = F.col("_w_data_len")
    issue = (
        F.when(b.isNull(), F.lit("null_payload"))
        .when(blen < 44, F.lit("not_riff"))
        .when(F.substring(b, 1, 4) != F.lit(b"RIFF"), F.lit("not_riff"))
        .when(F.substring(b, 9, 4) != F.lit(b"WAVE"), F.lit("not_wave"))
        .when(F.substring(b, 13, 4) != F.lit(b"fmt "), F.lit("no_fmt"))
        .when(fmt_size < 16, F.lit("bad_fmt"))
        .when(~is_data1 & ~is_data2, F.lit("no_data"))
        .when(data_off + data_len - 1 > blen, F.lit("truncated_data"))
        .otherwise(F.lit(None))
    )
    stage7 = stage6.withColumn("_w_issue", issue)
    parsed = F.col("_w_issue").isNull() | (
        F.col("_w_issue") == F.lit("truncated_data")
    )
    ok = F.col("_w_issue").isNull()
    return (
        stage7.withColumn("wav_issue", F.col("_w_issue"))
        .withColumn("fmt_code", F.when(parsed, F.col("_w_fmt_code")).cast("int"))
        .withColumn("nch_hdr", F.when(parsed, F.col("_w_nch")).cast("int"))
        .withColumn("sr_hdr", F.when(parsed, F.col("_w_sr")).cast("int"))
        .withColumn("bits_hdr", F.when(parsed, F.col("_w_bits")).cast("int"))
        .withColumn("data_off", F.when(ok, data_off))
        .withColumn("data_len", F.when(ok, data_len))
        .drop(*_WAV_TEMPS)
    )


def unwrap_wav(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Unwrap well-formed RIFF/WAVE containers to their raw payload —
    still pure Catalyst: the payload is ``substring(bytes, data_off,
    data_len)``, the ``codec`` column is rewritten from the container's
    fmt code (1→pcm16 when 16-bit, 6→alaw, 7→ulaw), and ``sr_hz`` /
    ``n_channels`` (when present) are rewritten from the header — the
    container is authoritative over upload-time metadata.  Malformed or
    unsupported-fmt rows pass through byte-for-byte so the q88/q100
    audits still see them.  Requires :func:`with_wav_header` columns;
    applies them itself if absent.

    This is the ingest adapter that lets the standard decode boundary
    (q16, q40, the fused pipeline) consume containerized uploads with
    zero Python added to the plan."""
    if "wav_issue" not in df.columns:
        df = with_wav_header(df, bytes_col)
    supported = (
        ((F.col("fmt_code") == 1) & (F.col("bits_hdr") == 16))
        | F.col("fmt_code").isin(6, 7)
    )
    ok = F.col("wav_issue").isNull() & supported
    codec_hdr = (
        F.when(F.col("fmt_code") == 1, F.lit("pcm16"))
        .when(F.col("fmt_code") == 6, F.lit("alaw"))
        .when(F.col("fmt_code") == 7, F.lit("ulaw"))
    )
    out = (
        df.withColumn(
            bytes_col,
            F.when(
                ok,
                F.expr(
                    f"substring({bytes_col}, data_off, data_len)"
                ),
            ).otherwise(F.col(bytes_col)),
        )
        .withColumn("codec", F.when(ok, codec_hdr).otherwise(F.col("codec")))
        .withColumn(
            "sr_hz",
            F.when(ok, F.col("sr_hdr")).otherwise(F.col("sr_hz")).cast("int"),
        )
    )
    if "n_channels" in df.columns:
        out = out.withColumn(
            "n_channels",
            F.when(ok, F.col("nch_hdr"))
            .otherwise(F.col("n_channels")).cast("int"),
        )
    return out


def declipped_clips(df: DataFrame, level: float = 0.95) -> DataFrame:
    """Clipping repair (audio restoration): decode → vectorized
    declip-by-interpolation (``kernel.batch_declip`` — clipped runs
    rebuilt from their flanking good samples, edge runs held, fully-
    clipped clips left for the gate) → re-encode in the clip's OWN
    codec, appending ``n_clipped`` / ``n_repaired`` so downstream rules
    can distinguish repaired from pristine rows.  An overdriven but
    otherwise-good recording becomes usable training audio instead of a
    q40 ``clipped`` drop — repair first, gate what repair can't anchor.

    Scale: map-only, zero Exchange; one concatenated decode + ONE
    global accumulate each way per (codec, sr) group per Arrow batch —
    no per-clip or per-run Python.  A restoration payload transform
    (module doc): poison rows pass through byte-for-byte with zeroed
    counts."""

    def kernel(g):
        from ..kernel.audio import batch_declip

        rep, nc, nr = batch_declip(g.samples, g.lengths, level=level)
        return rep, g.lengths, {"n_clipped": nc, "n_repaired": nr}

    return _transform_payloads(
        df, "declipped_clips", kernel, strict=False,
        emits="n_clipped bigint, n_repaired bigint",
    )


def pack_audio_examples(
    df: DataFrame,
    example_ms: int,
    order_col: str = "clip_id",
    codec: str | None = None,
    sr_hz: int | None = None,
) -> DataFrame:
    """Assemble clips into fixed-duration TRAINING EXAMPLES: clips
    concatenate in ``order_col`` order and the stream is chopped every
    ``example_ms`` — the audio twin of :func:`~top_secret_spark.
    operators.packing.pack_sequences` (concat-then-chop, no padding,
    examples always full except the last), the batch shape speech-SSL
    pretraining consumes.  A clip straddling a boundary contributes its
    head to one example and its tail to the next.

    Returns one row per example: ``pack_id``, ``bytes`` (the assembled
    payload, byte-exact: concatenating all examples reproduces the
    concatenated input stream — pytest-gated), ``n_clips`` (clips
    contributing), ``dur_ms``, plus the uniform ``codec`` / ``sr_hz``.

    Input must be pre-normalized to ONE (codec, sr) — run
    :func:`resampled_clips` first.  Pass the DECLARED ``codec`` /
    ``sr_hz`` to skip uniformity inference: mismatching rows then fail
    per-row inside the existing Catalyst stage (``assert_true`` folded
    into the offset projection — a wrong-width row corrupts every
    example after it, so the job MUST stop; no extra scan, no extra
    job).  With no declaration, uniformity is inferred from a narrow
    (codec, sr_hz) distinct — a full extra scan of two small columns;
    fine interactively, declare at 10^12 rows.  NULL/empty payloads
    contribute nothing; neither does a clip with a NULL ``order_col``.
    ``order_col`` must be unique (segments of
    :func:`split_clips_on_silence`: ``order_col="seg_id"``), and the
    input is evaluated twice — an uncached :func:`resampled_clips`
    upstream resamples twice (see ``packing.with_global_offset``).

    Scale shape: global clip offsets come from the two-phase prefix sum
    over (order, sample count) only (``packing.with_global_offset`` —
    no single-partition window, no payload in its range shuffle or
    checkpoint); the per-(clip, example) byte slices are PURE CATALYST
    (explode a 1-2 element pack sequence, ``substring`` the payload);
    the payload moves only in the offsets' join back and the final
    groupBy(pack_id), where every byte moves exactly once to the
    example that owns it — the assembly adds zero Python."""
    from .packing import with_global_offset

    declared = codec is not None and sr_hz is not None
    if (codec is None) != (sr_hz is None):
        # a partial declaration must not silently fall back to inference
        # (which would overwrite the caller's explicit half)
        raise ValueError(
            "pack_audio_examples: declare BOTH codec and sr_hz (got "
            f"codec={codec!r}, sr_hz={sr_hz!r}) or neither"
        )
    if not declared:
        kinds = df.select("codec", "sr_hz").distinct().collect()
        if len(kinds) != 1:
            raise ValueError(
                f"pack_audio_examples needs ONE (codec, sr_hz), got {kinds}: "
                "normalize first (resampled_clips)."
            )
        codec, sr = kinds[0].codec, int(kinds[0].sr_hz)
    else:
        sr = int(sr_hz)
    if codec not in _BYTES_PER_SAMPLE:
        raise ValueError(
            f"unsupported codec for packing: {codec!r} — packing slices "
            "payload bytes, so only fixed-width seekable codecs qualify "
            "(transcode adpcm first)"
        )
    width = _BYTES_PER_SAMPLE[codec]
    size = int(example_ms * sr / 1000)  # samples per example
    if size <= 0:
        raise ValueError("example_ms too small for this sample rate")

    n_expr = (F.length("bytes") / width).cast("bigint")
    if declared:
        # per-row uniformity enforcement folded into the offset
        # projection: assert_true yields NULL when the row matches the
        # declared (codec, sr) — coalesce keeps _n untouched — and
        # fails the job on the first mismatching (or NULL-metadata)
        # row.  Folding into _n (used downstream) keeps Catalyst from
        # pruning the check away.
        match = (F.col("codec") == F.lit(codec)) & (
            F.col("sr_hz") == F.lit(sr)
        )
        msg = F.concat(
            F.lit(
                f"pack_audio_examples: row (codec, sr_hz) != declared "
                f"({codec!r}, {sr}): ("
            ),
            F.coalesce(F.col("codec"), F.lit("NULL")),
            F.lit(", "),
            F.coalesce(F.col("sr_hz").cast("string"), F.lit("NULL")),
            F.lit(") — normalize first (resampled_clips)"),
        )
        n_expr = n_expr + F.coalesce(
            F.assert_true(match, msg).cast("bigint"), F.lit(0)
        )
    d = df.withColumn("_n", n_expr).filter(F.col("_n") > 0)
    d = with_global_offset(d, order_col, "_n", out_col="_off")
    first = F.floor(F.col("_off") / size).cast("bigint")
    last = F.floor((F.col("_off") + F.col("_n") - 1) / size).cast("bigint")
    spans = d.withColumn("pack_id", F.explode(F.sequence(first, last)))
    s = F.greatest(F.col("pack_id") * size - F.col("_off"), F.lit(0))
    e = F.least(F.col("_n"), (F.col("pack_id") + 1) * size - F.col("_off"))
    chunk = F.expr(f"substring(bytes, cast(_s * {width} + 1 as int), "
                   f"cast((_e - _s) * {width} as int))")
    spans = spans.withColumns({"_s": s, "_e": e}).withColumn("_chunk", chunk)
    out = (
        spans.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            _concat_bytes(F.col("_chunk"), F.col("_off")).alias("bytes"),
        )
        .withColumn(
            "dur_ms",
            (F.length("bytes") / width * 1000 / sr).cast("int"),
        )
        .withColumn("codec", F.lit(codec))
        .withColumn("sr_hz", F.lit(sr).cast("int"))
    )
    return out.select(
        "pack_id", "bytes", "n_clips", "dur_ms", "codec", "sr_hz"
    )


def dedup_cross_modal(
    df: DataFrame,
    id_col: str = "clip_id",
    text_col: str = "transcript",
    n_frames: int = 32,
) -> DataFrame:
    """CONJUNCTIVE cross-modal dedup: keep the min-id survivor per
    (normalized-transcript fingerprint, tempo-robust audio envelope
    fingerprint) pair — a row collapses only when BOTH modalities
    match.  Text-only dedup on an ASR corpus destroys speaker
    diversity (two speakers reading the same prompt are different
    training examples); audio-only dedup keeps re-transcribed
    duplicates.  The conjunction collapses true re-uploads (same
    speech, same words, any codec or tempo) and nothing else.

    Undecodable / sub-resolution audio never collapses (its audio key
    falls back to the row id): equality that cannot be verified is not
    asserted — conservative by design, the metadata audit owns those
    rows.

    Scale shape: one decode boundary computes the audio fingerprint
    (PCM never shuffles); the dedup is a groupBy on a 16-byte
    (text-hash, envelope-bits) key plus a semi join back on the id —
    the same never-move-the-payload discipline as every dedup family
    here."""
    from .dedup import fingerprint_col

    fp = with_tempo_fingerprint(
        df.select(id_col, "bytes", "codec", text_col), n_frames=n_frames
    )
    keyed = fp.select(
        F.col(id_col),
        # NULL transcript gets the same cannot-verify fallback as
        # undecodable audio: xxhash64(NULL) is a seed CONSTANT, so
        # without the guard every transcript-less row would share one
        # text key and collapse on audio alone — asserting a text
        # match that was never verified
        F.when(
            F.col(text_col).isNotNull(), fingerprint_col(text_col)
        ).otherwise(F.xxhash64(F.col(id_col), F.lit(1)))
        .alias("_tfp"),
        F.when(F.col("fp_ok"), F.col("tempo_fp"))
        .otherwise(F.xxhash64(F.col(id_col)))
        .alias("_afp"),
    )
    surv = keyed.groupBy("_tfp", "_afp").agg(F.min(id_col).alias(id_col))
    return df.join(surv.select(id_col), id_col, "leftsemi")


def denoised_clips(
    df: DataFrame,
    alpha: float = 2.0,
    beta: float = 0.05,
    quiet_frac: float = 0.2,
) -> DataFrame:
    """Spectral-subtraction noise reduction (restoration counterpart of
    :func:`noise_mixed_clips`): decode → STFT → subtract each clip's
    own quiet-frame noise spectrum → overlap-add resynthesize
    (``kernel.spectral.batch_denoise``) → re-encode in the clip's own
    codec.  A recording with steady background hiss/hum becomes usable
    training audio instead of an SNR-gate drop — like
    :func:`declipped_clips`, repair precedes the gate.

    Scale: map-only, zero Exchange; selection energies cost one global
    cumsum, the noise-estimate FFT pass touches only ~``quiet_frac``
    of frames, and both FFT passes run in memory-bounded blocks — no
    per-clip or per-frame Python.  A restoration payload transform
    (module doc): poison rows pass through byte-for-byte (``denoise_ok``
    false); sub-frame clips pass through with ``denoise_ok`` true and
    zero frames."""

    def kernel(g):
        from ..kernel.spectral import batch_denoise

        den, nf = batch_denoise(
            g.samples, g.lengths, g.sr,
            alpha=alpha, beta=beta, quiet_frac=quiet_frac,
        )
        return den, g.lengths, {"denoise_ok": True, "n_frames_denoised": nf}

    return _transform_payloads(
        df, "denoised_clips", kernel, strict=False,
        emits="denoise_ok boolean, n_frames_denoised int",
    )


def dedup_audio_against_corpus(
    batch: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "clip_id",
    n_frames: int = 32,
) -> DataFrame:
    """Incremental AUDIO dedup of a new crawl batch against a
    materialized corpus index (audio twin of
    :func:`~top_secret_spark.operators.dedup.dedup_against_corpus`):
    keep batch rows that are (a) the min-id representative of their
    tempo-robust envelope fingerprint WITHIN the batch and (b) absent
    from the corpus index (``sources.bucketed.
    write_audio_fingerprint_index``) — so a re-upload of corpus audio
    at any tempo or codec drops before it ever re-enters the corpus.
    Rows whose audio cannot be fingerprinted pass through: equality
    the engine cannot verify is never asserted (same rule as
    :func:`dedup_cross_modal`).

    Scale shape: the corpus side of the anti-join is bucketed by the
    8-byte fingerprint and never exchanges (only the small batch
    shuffles — the q43 plan, proven by ``tests/test_bucketed.py``);
    PCM never shuffles anywhere (the fingerprint stage drops it)."""
    fp = with_tempo_fingerprint(batch, n_frames=n_frames)
    ok = fp.filter(F.col("fp_ok"))
    bad = fp.filter(~F.col("fp_ok")).select(id_col)
    w_min = ok.groupBy("tempo_fp").agg(F.min(id_col).alias(id_col))
    batch_rep = ok.join(w_min, ["tempo_fp", id_col], "inner")
    fresh = batch_rep.join(
        corpus_index,
        batch_rep["tempo_fp"] == corpus_index["fingerprint"],
        "left_anti",
    ).select(id_col)
    keep_ids = fresh.unionByName(bad)
    return batch.join(keep_ids, id_col, "leftsemi")


def with_speaker_turns(
    df: DataFrame,
    threshold: float = 0.01,
    block_ms: int = 10,
    keep_bytes: bool = False,
) -> DataFrame:
    """Append per-clip SPEAKER-TURN counts over frame-interleaved
    multichannel clips (``kernel.batch_speaker_turns``: a turn is a
    handoff of the single-voiced channel; silence and overlap neither
    start nor break one).  Turn density is the dialogue-vs-monologue
    measure conversational-data curation ranks by — a call with zero
    handoffs is dictation, not dialogue.

    Same scaffold and scale posture as :func:`with_channel_stats`:
    map-only, one decode + one shared block-VAD pass per (codec, sr,
    nch) Arrow group, poison rows read ``turn_ok = false``."""

    def run(pdf):
        import numpy as np

        from ..kernel.audio import batch_speaker_turns

        n = len(pdf)
        oks = np.zeros(n, dtype=bool)
        turns = np.zeros(n, dtype=np.int64)
        for idx, samples, lengths, sr, nch, _codec in _sr_nch_groups(pdf):
            t, nb = batch_speaker_turns(
                samples, lengths, nch, sr,
                threshold=threshold, block_ms=block_ms,
            )
            oks[idx] = nb > 0
            turns[idx] = t
        pdf["turn_ok"] = oks
        pdf["n_turns"] = turns
        return pdf

    return map_batches(
        df, run,
        emits="turn_ok boolean, n_turns bigint",
        drop=() if keep_bytes else ("bytes",),
    )


def _pitch_feature(**kw) -> _SrFeature:
    """``with_pitch``'s feature; ``kw`` goes to
    ``kernel.spectral.batch_pitch`` (its defaults when empty)."""

    def kernel(samples, lengths, sr):
        from ..kernel.spectral import batch_pitch

        f0, vr, nf = batch_pitch(samples, lengths, sr, **kw)
        return {"pitch_ok": nf > 0, "f0_hz": f0, "voiced_ratio": vr,
                "n_pitch_frames": nf}

    return _SrFeature(
        "pitch_ok boolean, f0_hz double, voiced_ratio double, "
        "n_pitch_frames int",
        kernel,
    )


def _reverb_feature(**kw) -> _SrFeature:
    """``with_reverb``'s feature; ``kw`` goes to
    ``kernel.spectral.batch_reverb`` (its defaults when empty)."""

    def kernel(samples, lengths, sr):
        from ..kernel.spectral import batch_reverb

        rt, pairs, nf = batch_reverb(samples, lengths, sr, **kw)
        return {"reverb_ok": nf > 0, "rt60_s": rt, "n_decay_pairs": pairs,
                "n_reverb_frames": nf}

    return _SrFeature(
        "reverb_ok boolean, rt60_s double, n_decay_pairs int, "
        "n_reverb_frames int",
        kernel,
    )


def with_pitch(
    df: DataFrame,
    frame_ms: int = 32,
    hop_ms: int = 16,
    f_min: float = 60.0,
    f_max: float = 400.0,
    voiced_threshold: float = 0.5,
    keep_bytes: bool = False,
) -> DataFrame:
    """Append dominant-f0 pitch statistics (``kernel.spectral.
    batch_pitch``): ``f0_hz`` (0.0 when unvoiced), ``voiced_ratio``
    (fraction of frames whose own normalized autocorrelation peak
    clears the threshold), ``n_pitch_frames``, and ``pitch_ok``.
    Speaker-diversity stats (f0 distribution ~ speaker mix), music/
    tone-vs-speech triage, and TTS-corpus balance all rank by these.

    Same batching discipline as ``with_log_mel``: one concatenated
    decode + ONE blocked FFT-autocorrelation pass per (codec, sr_hz)
    group per Arrow batch; per-clip pooling is reduceat-based and
    block-bounded (never a (total_frames x n_lags) materialization).
    Poison rows (undecodable payload, NULL sr) get pitch_ok=false —
    never a stage kill; pitch_ok is also false for decodable clips
    shorter than one frame (sub-frame clips leave f0 at an
    authoritative-looking 0.0 — same convention as mel/snr/bandwidth).
    ``bytes`` is dropped unless ``keep_bytes``."""

    return _with_sr_features(df, [_pitch_feature(
        frame_ms=frame_ms, hop_ms=hop_ms, f_min=f_min, f_max=f_max,
        voiced_threshold=voiced_threshold,
    )], keep_bytes)


def with_reverb(
    df: DataFrame,
    frame_ms: int = 20,
    min_run: int = 4,
    min_pairs: int = 6,
    drop_db: float = 0.25,
    keep_bytes: bool = False,
) -> DataFrame:
    """Append reverberation statistics (``kernel.spectral.
    batch_reverb``): ``rt60_s`` (free-decay RT60 proxy from the energy
    envelope; 0.0 when unmeasurable), ``n_decay_pairs`` (how many
    qualifying decay-frame pairs supported the estimate — the
    measurability signal), and ``reverb_ok``.  A boomy room smears
    phone boundaries; speech curation drops heavily-reverberant clips
    before ASR training.

    Same conventions as ``with_pitch``: one concatenated decode per
    (codec, sr_hz) group per Arrow batch, one vectorized envelope pass
    (a single reduceat-style cumsum over the squared buffer — no
    per-clip Python), poison rows reverb_ok=false, sub-frame clips
    not-ok, ``bytes`` dropped unless ``keep_bytes``.  Steady noise,
    tones, and silence legitimately read n_decay_pairs < min_pairs —
    unmeasurable is NOT dry, so the gate column only fires on clips
    that measured."""

    return _with_sr_features(df, [_reverb_feature(
        frame_ms=frame_ms, min_run=min_run, min_pairs=min_pairs,
        drop_db=drop_db,
    )], keep_bytes)


def reverb_drop_reason_col(
    max_rt60_s: float = 1.0, min_pairs: int = 6
) -> Column:
    """Gate column over :func:`with_reverb`: ``reverb`` when the clip
    MEASURED (n_decay_pairs >= min_pairs) and rt60 exceeds the budget;
    unmeasurable clips keep — steady noise and tones are owned by the
    spectral/SNR gates, not this one.  Codegen'd CASE."""
    return F.when(
        (F.col("n_decay_pairs") >= F.lit(int(min_pairs)))
        & (F.col("rt60_s") > F.lit(float(max_rt60_s))),
        F.lit("reverb"),
    )


def with_voice_health(
    df: DataFrame,
    keep_bytes: bool = False,
) -> DataFrame:
    """Speech-health stage: pitch (f0 + voiced ratio), RT60
    reverberation proxy, and the frame-energy SNR estimate behind ONE
    decode boundary — the feature set (pitch, reverb, snr) at their
    defaults, run by the same ``_with_sr_features`` runner as the three
    individual operators.  Composing ``with_pitch`` → ``with_reverb``
    → ``with_snr_estimate`` decodes every payload three times and
    crosses Python↔JVM three times; at 10^12 clips decode IS the audio
    pipeline's dominant cost (see BENCH pipeline_audio), so the one
    boundary is the shape a production speech-curation gate actually
    runs.  Column semantics are IDENTICAL to the three individual
    operators (same specs, same kernels, same defaults) —
    pytest-gated.

    Emits: pitch_ok/f0_hz/voiced_ratio/n_pitch_frames,
    reverb_ok/rt60_s/n_decay_pairs/n_reverb_frames,
    snr_ok/snr_est_db/snr_n_frames.  Gate columns
    (``reverb_drop_reason_col`` etc.) compose over the output
    unchanged."""

    return _with_sr_features(
        df, [_pitch_feature(), _reverb_feature(), _snr_feature()],
        keep_bytes,
    )


_CODEC_FAMILY = {"pcm16": "pcm16", "ulaw": "companded", "alaw": "companded"}


def with_codec_verify(
    df: DataFrame,
    max_bytes: int = 4096,
    min_rho: float = 0.9,
    min_margin: float = 0.1,
    keep_bytes: bool = True,
) -> DataFrame:
    """Metadata-lies detector for the codec column (``kernel.audio.
    batch_codec_family``): the payload is decoded under each codec
    FAMILY hypothesis (pcm16 vs companded — mu-law and A-law are
    near-equal curves, so asserting between them would be guessing)
    on a bounded prefix, and the family whose lag-1 autocorrelation
    wins by ``min_margin`` with rho >= ``min_rho`` is the detected
    family.  A crawler that mislabels mu-law telephony as pcm16 (or
    vice versa) poisons every downstream decode with full-scale noise
    that still PASSES rate/duration audits — this is the check that
    catches it before the decode boundary trusts the label.

    Emits ``codec_family_detected`` (NULL when unverifiable),
    ``codec_verified`` (both thresholds met), and ``codec_mismatch``
    (verified AND detected != declared family).  Rows with codecs
    outside the raw families (containers, unknown codecs — q100/q101
    own those) and payloads too smooth/noisy to discriminate read
    verified=false, mismatch=false: unverifiable is never asserted.
    ``bytes`` kept by default — this operator runs BEFORE decode."""

    def run(pdf):
        import numpy as np

        from ..kernel.audio import batch_codec_family

        rho_pcm, rho_comp = batch_codec_family(
            pdf["bytes"].tolist(), max_bytes=max_bytes
        )
        win_pcm = rho_pcm >= rho_comp
        win_rho = np.where(win_pcm, rho_pcm, rho_comp)
        lose_rho = np.where(win_pcm, rho_comp, rho_pcm)
        verified = (win_rho >= min_rho) & (
            win_rho - lose_rho >= min_margin
        )
        detected = np.where(win_pcm, "pcm16", "companded")
        mapped = pdf["codec"].map(_CODEC_FAMILY)
        # .map(dict) yields NaN (not None) for unmapped codecs —
        # notna() is the only correct known-family test here
        known = mapped.notna().to_numpy(dtype=bool)
        declared = mapped.to_numpy(dtype=object)
        verified = verified & known
        mismatch = verified & (detected != declared.astype(str))
        pdf["codec_family_detected"] = np.where(verified, detected, None)
        pdf["codec_verified"] = verified
        pdf["codec_mismatch"] = mismatch
        return pdf

    return map_batches(
        df, run,
        emits="codec_family_detected string, codec_verified boolean, "
              "codec_mismatch boolean",
        drop=() if keep_bytes else ("bytes",),
    )


def codec_mismatch_reason_col() -> Column:
    """Gate column over :func:`with_codec_verify`: ``codec_mismatch``
    when the detector verified a family contradicting the declared
    codec, NULL (keep) otherwise.  Codegen'd CASE."""
    return F.when(F.col("codec_mismatch"), F.lit("codec_mismatch"))


def padded_clips(df: DataFrame, target_ms: int = 30_000) -> DataFrame:
    """Fixed-length batching prep as a PURE-CATALYST byte op — every
    clip becomes EXACTLY ``target_ms`` long: longer clips truncate
    (byte slice), shorter clips pad with the codec's digital-zero code
    (pcm16 ``0x0000``, G.711 u-law/A-law ``0x80`` — the
    ``time_masked_clips`` convention), so a training loader gets
    uniform tensors without a decode.  Zero Python, zero Exchange.

    Emits ``n_pad_samples`` (how much silence was added; 0 when
    truncated — the loss-masking input a trainer needs) and
    ``pad_ok``.  Passthrough rows (NULL payload, unknown codec,
    NULL/non-positive sr — padding is undefined) keep their payload
    with pad_ok=false.  ``dur_ms`` is rewritten to ``target_ms`` on
    padded rows; a trailing odd byte on a misaligned pcm16 payload is
    dropped BY the slice (alignment is part of the contract here,
    unlike the mask's ride-along: a padded batch must be exactly
    bps x target samples)."""
    if target_ms <= 0:
        raise ValueError(f"padded_clips: target_ms must be positive, got {target_ms}")
    b = F.col("bytes")
    bps = _bps_col()
    zero_hex = _zero_hex_col()
    target = F.floor(
        F.col("sr_hz").cast("bigint") * F.lit(int(target_ms)) / F.lit(1000)
    ).cast("bigint")
    ok = (
        b.isNotNull()
        & bps.isNotNull()
        & F.col("sr_hz").isNotNull()
        & (F.col("sr_hz") > 0)
        # degenerate sr metadata (e.g. sr_hz=1 at target_ms<1000) makes
        # target quantize to ZERO samples — padding would truncate the
        # payload to nothing while claiming pad_ok; passthrough instead
        & (target > 0)
    )
    n = F.floor(F.length(b).cast("bigint") / bps).cast("bigint")
    pad = F.greatest(target - n, F.lit(0).cast("bigint"))
    kept = F.least(n, target)
    out_bytes = F.when(
        ok,
        F.concat(
            b.substr(F.lit(1), (kept * bps).cast("int")),
            F.unhex(F.repeat(zero_hex, pad.cast("int"))),
        ),
    ).otherwise(b)
    return (
        df.withColumn("n_pad_samples", F.when(ok, pad).otherwise(F.lit(0)).cast("int"))
        .withColumn("pad_ok", ok)
        .withColumn("bytes", out_bytes)
        .withColumn(
            "dur_ms",
            F.when(ok, F.lit(int(target_ms))).otherwise(F.col("dur_ms")).cast("int"),
        )
    )
