"""Deterministic synthetic clips table (BASELINE.json input_hint) and
the planted-signal fixture families built the same way.

Schema (``CLIPS_SCHEMA_DDL``): clip_id:string, bytes:binary, sr_hz:int,
dur_ms:int, codec:string, transcript:string; the stereo families add
n_channels:int (``STEREO_SCHEMA_DDL``).

Row-range contract, shared by every generator here and by
``operators.multimodal.media_df``: ``X_rows_for_range(start, end)``
returns rows [start, end) as a pandas frame, and every row is a pure
function of (seed, row index).  The distributed twin ``X_clips_df(spark,
n_rows, partitions=None)`` is ``range_df``: ``spark.range(n_rows)`` over
p partitions (default max(8, defaultParallelism)), then one
``rows_fn(ids.min(), ids.max() + 1)`` call per non-empty Arrow batch —
no shuffle, no driver bottleneck.  The table is therefore identical
however generation is partitioned, which machine runs it, or how many
times it is re-run, so the same generator backs unit tests (pandas,
hundreds of rows) and benchmarks (Spark, millions of rows) and still
compares clip-by-clip.  ``rows_frame`` turns a generator's row tuples
into the frame: column order and int32 casts both come from the DDL
string.

Row mix of ``rows_for_range`` is designed to exercise every pipeline
stage: clean English (kept), English with planted PII (kept +
scrubbed), non-English, gibberish, symbol soup, too-short, repetition,
duplicate lines, and digit-heavy rows (each dropped by its rule).  Codec
distribution is deliberately skewed (~80% pcm16) with a long-tail
duration distribution to exercise salting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..kernel.audio import encode, resample, synth_pcm

SEED = 42

_EN_SENTENCES = [
    "The committee will review the proposal next week and publish its findings.",
    "She walked along the river bank watching the morning light on the water.",
    "Our team shipped the new release after months of careful testing.",
    "The recipe calls for two cups of flour and a pinch of salt.",
    "Traffic was light on the highway so we arrived earlier than expected.",
    "He spent the afternoon reading in the garden under the old oak tree.",
    "The museum exhibit features paintings from the early modern period.",
    "Students gathered in the hall to hear the announcement about the schedule.",
    "A gentle rain fell over the city as the evening market opened.",
    "The engineers traced the fault to a loose connector behind the panel.",
]

# distinct from the langid training seeds on purpose — the classifier must
# generalize, not memorize
_NON_EN_SENTENCES = {
    "de": ["Die Kinder spielten den ganzen Nachmittag im Garten hinter dem Haus.",
           "Wir haben gestern einen langen Spaziergang durch die Altstadt gemacht."],
    "fr": ["Les enfants ont joué dans le jardin pendant tout l'après-midi.",
           "Nous avons fait une longue promenade dans la vieille ville hier soir."],
    "es": ["Los niños jugaron en el jardín durante toda la tarde de ayer.",
           "Hicimos una larga caminata por el casco antiguo de la ciudad."],
    "pt": ["As crianças brincaram no jardim durante toda a tarde de ontem.",
           "Fizemos uma longa caminhada pelo centro histórico da cidade."],
    "it": ["I bambini hanno giocato in giardino per tutto il pomeriggio.",
           "Abbiamo fatto una lunga passeggiata nel centro storico della città."],
}

_PII_TEMPLATES = [
    "Please reach me at {email} whenever you get a chance.",
    "My card number is {cc} and it expires next spring.",
    "Call the office at {phone} before five in the afternoon.",
    "The form lists the social security number {ssn} for verification.",
    "Send the invoice to {email} and copy the billing team at {email2}.",
    "Billing tried {cc} first and then charged {cc2} instead.",
]

_CODECS = ("pcm16", "ulaw", "alaw")
_CODEC_CDF = (0.80, 0.90, 1.00)  # skewed on purpose

CLIPS_SCHEMA_DDL = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, "
    "codec string, transcript string"
)
STEREO_SCHEMA_DDL = CLIPS_SCHEMA_DDL + ", n_channels int"


def ddl_fields(schema: str) -> list[tuple[str, str]]:
    """(name, type) pairs of a flat DDL string like ``CLIPS_SCHEMA_DDL``."""
    return [tuple(f.split()) for f in schema.split(",")]


def rows_frame(rows: list[tuple],
               schema: str = CLIPS_SCHEMA_DDL) -> pd.DataFrame:
    """A generator's row tuples as the pandas frame of ``schema``:
    columns in DDL order, ``int`` columns cast to int32 (an empty range
    keeps the columns, object-typed except the casts)."""
    fields = ddl_fields(schema)
    cols = list(zip(*rows)) or [()] * len(fields)
    df = pd.DataFrame({name: list(c) for (name, _), c in zip(fields, cols)})
    for name, typ in fields:
        if typ == "int":
            df[name] = df[name].astype("int32")
    return df


def range_df(spark, n_rows: int, rows_fn, schema: str = CLIPS_SCHEMA_DDL,
             partitions: int | None = None):
    """Distributed ``rows_fn`` over rows [0, n_rows): the row-range
    contract of the module docstring."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(iterator):
        for pdf in iterator:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield rows_fn(int(ids.min()), int(ids.max()) + 1)

    return spark.range(0, n_rows, numPartitions=parts).mapInPandas(
        gen, schema=schema
    )


def _range_generator(rows_fn, schema: str = CLIPS_SCHEMA_DDL):
    """``X_clips_df(spark, n_rows, partitions=None)`` for ``rows_fn =
    X_rows_for_range``."""

    def distributed(spark, n_rows: int, partitions: int | None = None):
        return range_df(spark, n_rows, rows_fn, schema, partitions)

    distributed.__name__ = distributed.__qualname__ = (
        rows_fn.__name__.replace("_rows_for_range", "_clips_df")
    )
    distributed.__doc__ = f"Distributed ``{rows_fn.__name__}``."
    return distributed


def _email(r: int, k: int = 0) -> str:
    return f"user{r % 9973}{'' if k == 0 else chr(97 + k)}@example{r % 7}.com"


def _phone(r: int) -> str:
    return f"{200 + r % 700}-{100 + r % 900}-{1000 + r % 9000}"


def _ssn(r: int) -> str:
    return f"{100 + r % 900}-{10 + r % 90}-{1000 + r % 9000}"


def _cc(r: int, k: int = 0) -> str:
    head = "4242" if (r + k) % 2 == 0 else "4141"
    body = f"{(r * 7919 + k * 104729) % 10**12:012d}"
    if (r + k) % 3 == 0:
        g = head + body
        return f"{g[0:4]}-{g[4:8]}-{g[8:12]}-{g[12:16]}"
    return head + body


def _transcript(r: int, rng: np.random.Generator) -> str:
    """Deterministic transcript for row r (rng is row-seeded)."""
    kind = rng.random()
    pick = lambda seq: seq[int(rng.integers(0, len(seq)))]
    if kind < 0.55:  # clean English
        k = int(rng.integers(1, 4))
        return " ".join(pick(_EN_SENTENCES) for _ in range(k))
    if kind < 0.67:  # English with planted PII
        tpl = pick(_PII_TEMPLATES)
        body = tpl.format(
            email=_email(r), email2=_email(r, 1), phone=_phone(r),
            ssn=_ssn(r), cc=_cc(r), cc2=_cc(r, 1),
        )
        return pick(_EN_SENTENCES) + " " + body
    if kind < 0.75:  # non-English
        lang = pick(list(_NON_EN_SENTENCES))
        return " ".join(_NON_EN_SENTENCES[lang][i % 2] for i in range(2))
    if kind < 0.81:  # gibberish
        letters = "bcdfghjklmnpqrstvwxz"
        words = ["".join(pick(letters) for _ in range(int(rng.integers(3, 7))))
                 for _ in range(12)]
        return " ".join(words)
    if kind < 0.86:  # symbol soup
        return " ".join("@#$%^&*()!" for _ in range(8))
    if kind < 0.90:  # too short
        return "ok then"
    if kind < 0.94:  # repetition
        return "buy now " * 12
    if kind < 0.97:  # duplicate lines
        return "\n".join(["the same line of text appears here"] * 6 + ["one other line"])
    # digit heavy
    return " ".join(str(10000019 * (r + i) % 10**8) for i in range(10))


def rows_for_range(start: int, end: int, with_audio: bool = True) -> pd.DataFrame:
    """Generate clips rows [start, end) — the pure-function core."""
    rows = []
    for r in range(start, end):
        rng = np.random.default_rng(SEED * 1_000_003 + r)
        codec_u = rng.random()
        codec = _CODECS[int(np.searchsorted(_CODEC_CDF, codec_u, side="left"))]
        sr_hz = 8000 if codec in ("ulaw", "alaw") else (16000 if rng.random() < 0.9 else 44100)
        # long-tail duration: lognormal, clamped
        dur_ms = int(min(4000, max(80, rng.lognormal(mean=5.6, sigma=0.8))))
        transcript = _transcript(r, rng)
        if with_audio:
            n = int(sr_hz * dur_ms / 1000)
            pcm = synth_pcm(SEED * 7_000_003 + r, n, sr_hz)
            data = encode(pcm, codec)
        else:
            data = b""
        rows.append((f"clip-{r:010d}", data, sr_hz, dur_ms, codec, transcript))
    return rows_frame(rows)


def clips_df(spark, n_rows: int, with_audio: bool = True, partitions: int | None = None):
    """Distributed ``rows_for_range``.  Each task generates its own id
    range independently; at 10^12 rows this is exactly how the table
    would be materialized (write per-bucket, see sources/checkpoint.py)."""
    return range_df(
        spark, n_rows, lambda start, end: rows_for_range(start, end, with_audio),
        partitions=partitions,
    )


GATE_DEFECT_PERIOD = 6  # row r's planted defect = r % 6 (see gate_rows_for_range)


def gate_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows with PLANTED audio defects, keyed by ``r % 6`` so an
    oracle can recompute the expected gate decision from the row index
    alone (DuckDB ``range()``): 0 silent (digital zero, codec cycles all
    three — companded zeros must still read as silent), 1 clipped
    (overdriven 10x then clamped by the encoder), 2 too-short (120 ms),
    3 undecodable codec tag, 4-5 clean speech-band signal (kept)."""
    rows = []
    for r in range(start, end):
        kind = r % GATE_DEFECT_PERIOD
        codec = _CODECS[r % 3]
        sr_hz = 8000
        dur_ms = 120 if kind == 2 else 1000
        n = int(sr_hz * dur_ms / 1000)
        if kind == 0:
            data = encode(np.zeros(n, dtype=np.float32), codec)
        elif kind == 1:
            pcm = synth_pcm(SEED * 7_000_003 + r, n, sr_hz)
            data = encode(np.clip(10.0 * pcm, -1.0, 1.0), codec)
        elif kind == 3:
            codec = "opus"  # not in SUPPORTED_CODECS -> decode_error
            data = b"\x00\x01\x02\x03"
        else:
            data = encode(synth_pcm(SEED * 7_000_003 + r, n, sr_hz), codec)
        rows.append((
            f"gate-{r:010d}", data, sr_hz, dur_ms, codec,
            f"clean transcript for gated clip {r}",
        ))
    return rows_frame(rows)


gate_clips_df = _range_generator(gate_rows_for_range)


NEARDUP_FAMILY_SIZE = 3  # r // 3 = family, r % 3 = codec member


def neardup_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Cross-codec near-dup families: rows r in [start, end) where
    family ``f = r // 3`` shares ONE synth source and member ``r % 3``
    picks the codec (pcm16 / ulaw / alaw) — three lossy-different
    encodings of the same recording, so every payload differs in every
    byte but the decoded signals agree at >= ~30 dB pairwise.  Duration
    cycles with ``f % 5`` so families collide on the (sr, n_samples)
    candidate key across DIFFERENT sources too — the verify stage must
    reject those (~0 dB).  Pure function of the row index, so a SQL
    oracle recomputes the expected pair structure from ``range()``."""
    rows = []
    for r in range(start, end):
        f, m = divmod(r, NEARDUP_FAMILY_SIZE)
        codec = _CODECS[m]
        sr_hz = 8000
        dur_ms = 400 + (f % 5) * 150
        n = int(sr_hz * dur_ms / 1000)
        pcm = synth_pcm(SEED * 11_000_027 + f, n, sr_hz)
        rows.append((
            f"nd-{r:08d}", encode(pcm, codec), sr_hz, dur_ms, codec,
            f"near dup family {f} member {m}",
        ))
    return rows_frame(rows)


neardup_clips_df = _range_generator(neardup_rows_for_range)


#: transcripts planted by ``rate_rows_for_range``, indexed by ``r % 4``:
#: consistent (~21 cps over 1 s), impossibly fast (92 cps), impossibly
#: slow (2 cps), empty.  Shared with the q45 oracle, which recomputes
#: chars-per-second from these SAME literals in SQL.
RATE_TRANSCRIPTS = (
    "this is a normal rate",
    "talking extremely fast " * 4,
    "hi",
    "",
)


def rate_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips with planted transcript↔audio rate inconsistencies, keyed
    by ``r % 4`` (see ``RATE_TRANSCRIPTS``).  Audio is always a clean
    1000 ms pcm16 clip, so the measured duration is exactly 1 s and the
    expected chars-per-second equals the transcript length — a SQL
    oracle recomputes every decision and value from ``range()``."""
    rows = []
    sr_hz = 8000
    for r in range(start, end):
        pcm = synth_pcm(SEED * 13_000_039 + r, sr_hz, sr_hz)
        rows.append((
            f"rate-{r:08d}", encode(pcm, "pcm16"), sr_hz, 1000, "pcm16",
            RATE_TRANSCRIPTS[r % 4],
        ))
    return rows_frame(rows)


rate_clips_df = _range_generator(rate_rows_for_range)


RESAMPLE_SRS = (8000, 16000, 44100)  # r % 3 picks the source rate


def resample_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips at mixed sample rates for the uniform-rate resample gate
    (q46): ``r % 3`` picks sr from ``RESAMPLE_SRS`` (8 kHz clips are
    G.711 mu-law, the rest pcm16 — the legal codec/rate pairings the
    corpus generator uses), and ``n_samples = 400 + 37*r`` — pure row
    arithmetic, so a SQL oracle recomputes every clip's expected output
    sample count at the target rate: n (16 kHz), 2n (8 kHz), or
    round(n*16000/44100) (44.1 kHz; no round-half ties below r=311,
    where Python's banker's rounding and SQL's half-away would part)."""
    rows = []
    for r in range(start, end):
        sr_hz = RESAMPLE_SRS[r % 3]
        codec = "ulaw" if sr_hz == 8000 else "pcm16"
        n = 400 + 37 * r
        pcm = synth_pcm(SEED * 17_000_023 + r, n, sr_hz)
        rows.append((
            f"rs-{r:08d}", encode(pcm, codec), sr_hz, int(1000 * n / sr_hz),
            codec, f"resample probe {r}",
        ))
    return rows_frame(rows)


resample_clips_df = _range_generator(resample_rows_for_range)


TRANSCODE_CODECS = ("pcm16", "ulaw", "alaw")  # r % 3 picks the source codec


def transcode_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Mixed-codec clips for the codec-normalization gate (q66):
    ``r % 3`` picks the source codec from ``TRANSCODE_CODECS`` and
    ``n_samples = 400 + 37*r`` — pure row arithmetic, so a SQL oracle
    recomputes every clip's expected payload size at the target codec
    (1 byte/sample G.711, 2 bytes/sample pcm16) without decoding."""
    rows = []
    for r in range(start, end):
        codec = TRANSCODE_CODECS[r % 3]
        n = 400 + 37 * r
        sr_hz = 8000
        pcm = synth_pcm(SEED * 23_000_057 + r, n, sr_hz)
        rows.append((
            f"tc-{r:08d}", encode(pcm, codec), sr_hz, int(1000 * n / sr_hz),
            codec, f"transcode probe {r}",
        ))
    return rows_frame(rows)


transcode_clips_df = _range_generator(transcode_rows_for_range)


TRIM_CLASSES = ("clean", "padded", "silent")  # r % 3 picks the class


def trim_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips with planted silence-padding classes for the endpoint-trim
    transform (q49), keyed by ``r % 3`` (the class rides in the
    transcript so both engines group on it): clean = signal only,
    padded = the same signal wrapped in leading/trailing digital-zero
    runs, silent = all zeros.  The signal is a constant-magnitude
    alternating wave (|x| = 0.3, which decodes to >= 0.30 under every
    codec while encoded zeros decode to <= 2.5e-4), so against a 0.01
    threshold the retained sample count after trimming is EXACTLY the
    planted signal length — pure row arithmetic a SQL oracle
    recomputes: n_sig = 400 + 16*(r%7) (divisible by sr/1000 — trimmed
    durations are exact integers under BOTH numpy round and SQL round),
    lead = 100 + 50*(r%4),
    tail = 60 + 30*(r%5), silent n = 500.  Codec cycles with
    (r // 3) % 3 so every class × codec pair appears."""
    rows = []
    sr_hz = 8000
    codecs = ("pcm16", "ulaw", "alaw")
    for r in range(start, end):
        cls = TRIM_CLASSES[r % 3]
        codec = codecs[(r // 3) % 3]
        n_sig = 400 + 16 * (r % 7)
        sig = np.full(n_sig, 0.3, dtype=np.float32)
        sig[1::2] = -0.3
        if cls == "clean":
            pcm = sig
        elif cls == "padded":
            lead = 100 + 50 * (r % 4)
            tail = 60 + 30 * (r % 5)
            pcm = np.concatenate(
                [np.zeros(lead, np.float32), sig, np.zeros(tail, np.float32)]
            )
        else:
            pcm = np.zeros(500, dtype=np.float32)
        rows.append((
            f"tr-{r:08d}", encode(pcm, codec), sr_hz,
            int(round(len(pcm) * 1000.0 / sr_hz)), codec, cls,
        ))
    return rows_frame(rows)


trim_clips_df = _range_generator(trim_rows_for_range)


SEGMENT_CLASSES = ("single", "two_utterances", "short_gap", "silent")


def segment_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips with planted utterance structure for the silence-split
    transform (q52), keyed by ``r % 4`` (class in the transcript):
    single = one voiced block, two_utterances = two blocks separated by
    a 400-sample silence (>= the 25 ms/200-sample gate → 2 segments),
    short_gap = two blocks separated by 104 samples (< gate → ONE
    segment spanning block + gap + block), silent = all zeros.  Every
    clip is wrapped in 80-lead/48-tail silence that must fall off.
    Signal is the same |x| = 0.3 alternating wave as the trim table;
    block length n = 320 + 16*(r%5); all lengths are multiples of 8 so
    durations at 8 kHz are exact integers in both engines.  Codec
    cycles with (r // 4) % 3."""
    rows = []
    sr_hz = 8000
    codecs = ("pcm16", "ulaw", "alaw")
    for r in range(start, end):
        cls = SEGMENT_CLASSES[r % 4]
        codec = codecs[(r // 4) % 3]
        n = 320 + 16 * (r % 5)
        sig = np.full(n, 0.3, dtype=np.float32)
        sig[1::2] = -0.3
        z = lambda k: np.zeros(k, dtype=np.float32)
        if cls == "single":
            body = sig
        elif cls == "two_utterances":
            body = np.concatenate([sig, z(400), sig])
        elif cls == "short_gap":
            body = np.concatenate([sig, z(104), sig])
        else:
            body = z(512)
        pcm = body if cls == "silent" else np.concatenate([z(80), body, z(48)])
        rows.append((
            f"sg-{r:08d}", encode(pcm, codec), sr_hz,
            int(round(len(pcm) * 1000.0 / sr_hz)), codec, cls,
        ))
    return rows_frame(rows)


segment_clips_df = _range_generator(segment_rows_for_range)


LOUDNESS_CLASSES = ("quiet", "loud", "silent")  # r % 3 picks the class


def loudness_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips with planted LEVEL classes for the gain-normalization gate
    (q48), keyed by ``r % 3`` (see ``LOUDNESS_CLASSES``; the class name
    rides in the transcript so both engines can group on it): quiet =
    0.05x speech signal, loud = 2.5x (encoder-clipped), silent = digital
    zero.  All pcm16/8 kHz/800 samples, so after ``normalized_clips``
    every non-silent clip must measure RMS ≈ target and every silent
    clip must stay at exactly 0 — decisions a SQL oracle recomputes
    from the row index alone."""
    rows = []
    sr_hz = 8000
    n = 800
    for r in range(start, end):
        cls = LOUDNESS_CLASSES[r % 3]
        base = synth_pcm(SEED * 23_000_057 + r, n, sr_hz)
        if cls == "quiet":
            pcm = (base * 0.05).astype(np.float32)
        elif cls == "loud":
            pcm = np.clip(base * 2.5, -1.0, 1.0).astype(np.float32)
        else:
            pcm = np.zeros(n, dtype=np.float32)
        rows.append((
            f"ln-{r:08d}", encode(pcm, "pcm16"), sr_hz, 100, "pcm16", cls,
        ))
    return rows_frame(rows)


loudness_clips_df = _range_generator(loudness_rows_for_range)


SPECTRAL_CLASSES = ("tone", "tone", "noise", "hum")  # r % 4 -> class
SPECTRAL_TONE_FREQS = (500, 1000, 1500, 2000, 2500)  # tone f = FREQS[r % 5]
SPECTRAL_HUM_HZ = 80  # mains-rumble stand-in: centroid must read < 150 Hz


def spectral_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips with planted SPECTRAL classes for the frequency-domain gate
    (q59), keyed by ``r % 4`` (class name rides in the transcript):
    tone = 0.4x sine at ``SPECTRAL_TONE_FREQS[r % 5]`` (centroid must
    read within 60 Hz of the planted frequency, flatness ~0), noise =
    0.15x white Gaussian (flatness must read > 0.3), hum = 0.4x 80 Hz
    sine (centroid must read < 150 Hz).  All pcm16/16 kHz/4800 samples —
    decisions a SQL oracle recomputes from the row index alone."""
    rows = []
    sr_hz = 16000
    n = 4800
    t = np.arange(n, dtype=np.float64) / sr_hz
    for r in range(start, end):
        cls = SPECTRAL_CLASSES[r % 4]
        if cls == "tone":
            f = SPECTRAL_TONE_FREQS[r % 5]
            pcm = (0.4 * np.sin(2.0 * np.pi * f * t)).astype(np.float32)
        elif cls == "noise":
            rng = np.random.default_rng(SEED * 29_000_039 + r)
            pcm = np.clip(
                0.15 * rng.standard_normal(n), -1.0, 1.0
            ).astype(np.float32)
        else:
            pcm = (
                0.4 * np.sin(2.0 * np.pi * SPECTRAL_HUM_HZ * t)
            ).astype(np.float32)
        rows.append((
            f"sp-{r:08d}", encode(pcm, "pcm16"), sr_hz, 300, "pcm16", cls,
        ))
    return rows_frame(rows)


spectral_clips_df = _range_generator(spectral_rows_for_range)


def write_clips_parquet(path: str, n_rows: int, with_audio: bool = True,
                        rows_per_file: int = 20_000) -> None:
    """Driverless (pyarrow) writer for tests/small scales."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    part = 0
    for start in range(0, n_rows, rows_per_file):
        end = min(start + rows_per_file, n_rows)
        table = pa.Table.from_pandas(rows_for_range(start, end, with_audio))
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))
        part += 1


SNR_CLASSES = ("gapped_clean", "gapped_noisy", "steady_noise")  # r % 3
SNR_NOISE_AMPS = (1e-4, 0.1, 0.2)  # per-class additive-noise amplitude


def snr_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips with planted SNR-ESTIMATE classes for the frame-energy
    noise-floor gate (q73), keyed by ``r % 3`` (class in transcript).
    All 16 kHz pcm16 × 9600 samples (600 ms → 30 × 20 ms frames):

    - gapped_clean: 1 kHz tone bursts (40 ms on / 40 ms off, amp 0.4)
      over a 1e-4 noise floor — quiet gaps expose the floor, estimate
      reads HIGH (> 30 dB).
    - gapped_noisy: same bursts over 0.1 Gaussian noise — estimate
      reads the planted mid band (3–15 dB).
    - steady_noise: 0.2 Gaussian noise, no gaps — a gapless signal
      correctly reads ~0 dB (< 3), the estimator's documented limit.
    """
    rows = []
    sr_hz, n = 16000, 9600
    t = np.arange(n, dtype=np.float64) / sr_hz
    burst = 0.4 * np.sin(2.0 * np.pi * 1000.0 * t)
    burst *= ((np.arange(n) // 640) % 2 == 0).astype(np.float64)
    for r in range(start, end):
        cls = SNR_CLASSES[r % 3]
        rng = np.random.default_rng(SEED * 31_000_027 + r)
        noise = SNR_NOISE_AMPS[r % 3] * rng.standard_normal(n)
        pcm = noise if cls == "steady_noise" else burst + noise
        pcm = np.clip(pcm, -1.0, 1.0).astype(np.float32)
        rows.append((
            f"sn-{r:08d}", encode(pcm, "pcm16"), sr_hz, 600, "pcm16", cls,
        ))
    return rows_frame(rows)


snr_clips_df = _range_generator(snr_rows_for_range)


BW_CLASSES = ("wideband", "upsampled", "native8k")  # r % 3


def bw_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips with planted BANDWIDTH classes for the effective-bandwidth
    gate (q84), keyed by ``r % 3`` (class in transcript):

    - wideband: 0.2 Gaussian noise born at 16 kHz — rolloff(0.95)
      reads ~0.47 × sr (> 0.40).
    - upsampled: the same noise born at 8 kHz, linearly resampled to
      16 kHz and RELABELED sr=16000 — no energy above the source
      Nyquist, rolloff reads ~0.27 × sr (< 0.30): the metadata lies
      and the spectrum proves it.
    - native8k: noise born and labeled 8 kHz — rolloff ~0.47 × its own
      sr; honest narrowband audio must NOT flag.
    All pcm16, 600 ms."""
    rows = []
    for r in range(start, end):
        cls = BW_CLASSES[r % 3]
        rng = np.random.default_rng(SEED * 37_000_013 + r)
        if cls == "wideband":
            sr, n = 16000, 9600
            pcm = np.clip(0.2 * rng.standard_normal(n), -1, 1)
        elif cls == "upsampled":
            sr = 16000
            born = np.clip(
                0.2 * rng.standard_normal(4800), -1, 1
            ).astype(np.float32)
            pcm = resample(born, 8000, 16000)
        else:
            sr, n = 8000, 4800
            pcm = np.clip(0.2 * rng.standard_normal(n), -1, 1)
        pcm = pcm.astype(np.float32)
        rows.append((
            f"bw-{r:08d}", encode(pcm, "pcm16"), sr, 600, "pcm16", cls,
        ))
    return rows_frame(rows)


bw_clips_df = _range_generator(bw_rows_for_range)


DC_CLASSES = ("offset", "clean")  # r % 2


def dc_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips with planted DC-OFFSET classes for the drift-removal gate
    (q85), keyed by ``r % 2``: both classes carry the same 1 kHz tone
    (amp 0.4, rms ≈ 0.283); 'offset' adds a +0.3 DC bias (input rms ≈
    0.415 — the inflated level a constant offset causes).  After
    ``dc_removed_clips`` BOTH classes must read the tone's rms.  All
    pcm16 / 16 kHz / 4800 samples."""
    rows = []
    sr_hz, n = 16000, 4800
    t = np.arange(n, dtype=np.float64) / sr_hz
    tone = 0.4 * np.sin(2.0 * np.pi * 1000.0 * t)
    for r in range(start, end):
        cls = DC_CLASSES[r % 2]
        pcm = (tone + 0.3 if cls == "offset" else tone).astype(np.float32)
        rows.append((
            f"dc-{r:08d}", encode(pcm, "pcm16"), sr_hz, 300, "pcm16", cls,
        ))
    return rows_frame(rows)


dc_clips_df = _range_generator(dc_rows_for_range)


INTEGRITY_CLASS_PERIOD = 8  # row r's planted metadata state = r % 8


def integrity_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows with PLANTED metadata-integrity states, keyed by
    ``r % 8`` so a SQL oracle recomputes the expected audit verdict AND
    the implied duration from the row index alone: 0 consistent pcm16
    (1000 ms), 1 consistent ulaw (800 ms), 2 duration_mismatch (500 ms
    payload declared as 1000), 3 misaligned pcm16 (last byte torn),
    4 unknown codec tag, 5 zero sample rate, 6 empty payload with a
    positive declared duration, 7 consistent alaw (500 ms @ 16 kHz)."""
    rows = []
    for r in range(start, end):
        kind = r % INTEGRITY_CLASS_PERIOD
        sr_hz, dur_ms, codec = 8000, 1000, "pcm16"
        if kind == 1:
            codec, dur_ms = "ulaw", 800
        elif kind == 7:
            codec, sr_hz, dur_ms = "alaw", 16000, 500
        payload_ms = 500 if kind == 2 else dur_ms
        n = int(sr_hz * payload_ms / 1000)
        pcm = synth_pcm(SEED * 13_000_021 + r, n, sr_hz)
        if kind == 4:
            codec, data = "mp3", b"\xffID3" + bytes(60)
        elif kind == 5:
            sr_hz, data = 0, encode(pcm, codec)
        elif kind == 6:
            data = b""
        else:
            data = encode(pcm, codec)
            if kind == 3:
                data = data[:-1]  # torn final sample
        rows.append((
            f"meta-{r:010d}", data, sr_hz, dur_ms, codec,
            f"transcript for audited clip {r}",
        ))
    return rows_frame(rows)


integrity_clips_df = _range_generator(integrity_rows_for_range)


VAD_CLASS_PERIOD = 5  # row r's planted speech-activity class = r % 5


def _vad_voiced(n: int) -> np.ndarray:
    """Constant-magnitude (0.45) alternating block wave: every sample is
    unambiguously voiced (|x| ≈ 0.45 across all three codecs, vs the
    0.01 VAD threshold) and there is no DC component to upset the
    companded codecs."""
    return np.where(
        (np.arange(n) // 8) % 2 == 0, 0.45, -0.45
    ).astype(np.float32)


def vad_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows with PLANTED speech-activity structure, keyed by
    ``r % 5`` (codec cycles ``r % 3`` — companded silence must still
    read as silence): 0 fully voiced (ratio 1.0, 1 segment), 1 two
    3000-sample utterances around a 2000-sample pause (ratio 0.75,
    2 segments — the pause exceeds the 1600-sample VAD gap), 2 one
    1000-sample utterance inside 7000 samples of silence (ratio 0.125,
    1 segment), 3 digital silence (ratio 0.0, 0 segments), 4 an
    undecodable codec tag (vad_ok = false).  Segment arithmetic is
    EXACT by construction — every voiced sample sits at |x| ≈ 0.45 and
    every silent sample below 2.5e-4 after any codec — so the oracle
    gates the measured speech_ratio, not just the decision."""
    rows = []
    sr_hz = 8000
    for r in range(start, end):
        kind = r % VAD_CLASS_PERIOD
        codec = _CODECS[r % 3]
        if kind == 0:
            pcm = _vad_voiced(8000)
        elif kind == 1:
            pcm = np.concatenate(
                [_vad_voiced(3000), np.zeros(2000, np.float32), _vad_voiced(3000)]
            )
        elif kind == 2:
            pcm = np.concatenate(
                [np.zeros(3500, np.float32), _vad_voiced(1000),
                 np.zeros(3500, np.float32)]
            )
        else:
            pcm = np.zeros(8000, np.float32)
        if kind == 4:
            codec, data = "opus", b"\x00\x01\x02\x03"
        else:
            data = encode(pcm, codec)
        rows.append((
            f"vad-{r:010d}", data, sr_hz, 1000, codec,
            f"transcript for vad clip {r}",
        ))
    return rows_frame(rows)


vad_clips_df = _range_generator(vad_rows_for_range)


REPEAT_CLASS_PERIOD = 4  # row r's planted repeated-segment class = r % 4


def _repeat_jingle(n: int) -> np.ndarray:
    """The shared "intro jingle" waveform: a 0.3-amplitude block wave
    with a 32-sample period.  Constant magnitude keeps every codec's
    round trip deterministic (all jingle-bearing rows of one codec
    decode to byte-identical pcm16), and 2000 % 32 != 0 makes adjacent
    250 ms windows of the jingle DIFFER from each other — repetition is
    only ever cross-clip, never a same-clip artifact."""
    return np.where((np.arange(n) // 16) % 2 == 0, 0.3, -0.3).astype(
        np.float32
    )


def _repeat_noise(r: int, n: int) -> np.ndarray:
    """Per-row unique filler: PCG64-seeded uniform noise in ±0.4.  Two
    distinct rows agreeing on a full 2000-sample pcm16-quantized window
    would need 2000 simultaneous quantization collisions — the planted
    outcome is deterministic (fixed seeds), and verified collision-free
    once in tests."""
    return (
        np.random.default_rng(7_700_000 + r)
        .uniform(-0.4, 0.4, n)
        .astype(np.float32)
    )


def repeat_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows with PLANTED repeated-segment structure, keyed by
    ``r % 4`` (codec cycles ``r % 3`` so matching happens inside each
    codec's decode lattice; every class keeps >= 2 clips per codec):
    0 = 500 ms jingle then 500 ms unique noise (windows 0,1 repeated),
    1 = fully unique 1 s clip (nothing repeats), 2 = 500 ms unique
    noise then the SAME jingle (windows 2,3 repeated — position differs,
    content matches class 0's), 3 = 375 ms unique clip (one complete
    250 ms window plus a ragged tail the windower must drop).  At
    win_ms=250 / sr 8000 the oracle knows every clip's
    (n_repeated_windows, first_repeated_win) from the row index alone."""
    rows = []
    sr_hz = 8000
    jingle = _repeat_jingle(4000)
    for r in range(start, end):
        kind = r % REPEAT_CLASS_PERIOD
        codec = _CODECS[r % 3]
        if kind == 0:
            pcm = np.concatenate([jingle, _repeat_noise(r, 4000)])
        elif kind == 1:
            pcm = _repeat_noise(r, 8000)
        elif kind == 2:
            pcm = np.concatenate([_repeat_noise(r, 4000), jingle])
        else:
            pcm = _repeat_noise(r, 3000)
        rows.append((
            f"rep-{r:010d}", encode(pcm, codec), sr_hz,
            int(len(pcm) * 1000 / sr_hz), codec,
            f"transcript for repeat clip {r}",
        ))
    return rows_frame(rows)


repeat_clips_df = _range_generator(repeat_rows_for_range)


PAIRING_CLASS_PERIOD = 5  # row r's planted pairing class = r % 5


def pairing_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows with PLANTED transcript/audio pairing structure,
    keyed by ``r % 5`` (codec cycles ``r % 3``): every clip is exactly
    1 s at 8 kHz, voiced clips use the constant-magnitude block wave
    (speech_ratio exactly 1.0 → voiced_sec exactly 1.0), so
    chars-per-voiced-second equals the transcript length EXACTLY and
    the oracle can gate the measured rate bit-for-bit:
    0 = voiced + 16-char transcript (keep, 16 cps),
    1 = voiced + 80-char transcript (rate_too_fast, 80 cps),
    2 = voiced + 2-char transcript (rate_too_slow, 2 cps),
    3 = digital silence + 16-char transcript (transcript_without_speech),
    4 = voiced + empty transcript (missing_transcript)."""
    rows = []
    sr_hz = 8000
    for r in range(start, end):
        kind = r % PAIRING_CLASS_PERIOD
        codec = _CODECS[r % 3]
        pcm = (
            np.zeros(8000, np.float32) if kind == 3 else _vad_voiced(8000)
        )
        transcript = {0: "c" * 16, 1: "c" * 80, 2: "c" * 2,
                      3: "c" * 16, 4: ""}[kind]
        rows.append((
            f"pair-{r:010d}", encode(pcm, codec), sr_hz, 1000, codec,
            transcript,
        ))
    return rows_frame(rows)


pairing_clips_df = _range_generator(pairing_rows_for_range)


TEMPO_GROUP = 3      # rows r, r+1, r+2 with r % 3 == 0 form one group
TEMPO_UNIQUE_MOD = 4  # group g is all-unique when g % 4 == 3


def _tempo_pattern_pcm(pattern: int, sec_len: int) -> np.ndarray:
    """8-section clip from an 8-bit pattern: section k is a 0.45 block
    wave when bit k is set, digital silence otherwise.  Section length
    is the tempo knob — scaling it scales every section equally, which
    is exactly what a speed perturbation does to the envelope."""
    secs = []
    for k in range(8):
        if (pattern >> k) & 1:
            secs.append(
                np.where(
                    (np.arange(sec_len) // 8) % 2 == 0, 0.45, -0.45
                ).astype(np.float32)
            )
        else:
            secs.append(np.zeros(sec_len, np.float32))
    return np.concatenate(secs)


def tempo_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows with PLANTED tempo-duplicate structure: rows group by
    ``g = r // 3``; members ``m = r % 3`` carry the SAME 8-section
    energy pattern at three tempos (section lengths 1000/900/1100 →
    1.0 s / 0.9 s / 1.1 s) across three codecs (``r % 3`` — the
    fingerprint must hold across codec AND tempo).  Groups with
    ``g % 4 == 3`` instead give every member its OWN pattern (planted
    non-duplicates), so the oracle knows each clip's duplicate-group
    size (3 or 1) from the row index alone.  Patterns: shared groups
    use ``g + 1`` (1..80 at 240 rows), unique rows use ``81 +
    3*(g//4) + m`` (81..140) — all distinct by construction."""
    rows = []
    sr_hz = 8000
    sec_lens = (1000, 900, 1100)
    for r in range(start, end):
        g, m = divmod(r, TEMPO_GROUP)
        if g % TEMPO_UNIQUE_MOD == 3:
            pattern = 81 + 3 * (g // TEMPO_UNIQUE_MOD) + m
        else:
            pattern = g + 1
        pcm = _tempo_pattern_pcm(pattern, sec_lens[m])
        codec = _CODECS[r % 3]
        rows.append((
            f"tempo-{r:010d}", encode(pcm, codec), sr_hz,
            int(len(pcm) * 1000 / sr_hz), codec,
            f"transcript for tempo clip {r}",
        ))
    return rows_frame(rows)


tempo_clips_df = _range_generator(tempo_rows_for_range)


REDACT_CLASS_PERIOD = 3  # row r's planted PII class = r % 3


def redact_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows with PLANTED PII at EXACT character offsets in a
    100-char transcript over a 1 s / 8 kHz clip, keyed by ``r % 3``
    (codec cycles ``(r // 3) % 3`` so PII class and codec decorrelate):
    0 = a 17-char email at chars [20, 37), 1 = an 11-char SSN at chars
    [50, 61), 2 = no PII.  With 8000 samples over 100 chars the
    proportional char→sample map lands on integers exactly (80
    samples/char), so the oracle knows every clip's redacted span
    (1360 samples = 170 ms / 880 samples = 110 ms / none) and the
    emitted placeholder label from the row index alone.  Values are
    framed by spaces so the unanchored email pattern and the \\b-bound
    SSN pattern match exactly the planted chars."""
    rows = []
    sr_hz = 8000
    base = "word " * 20  # exactly 100 chars, no digits/dots/@
    for r in range(start, end):
        kind = r % REDACT_CLASS_PERIOD
        codec = _CODECS[(r // 3) % 3]
        if kind == 0:
            value, off = f"user{r:04d}@mail.com", 20
        elif kind == 1:
            value, off = f"{100 + r % 900:03d}-{10 + r % 90:02d}-{1000 + r:04d}", 50
        else:
            value, off = None, 0
        if value is None:
            transcript = base
        else:
            transcript = (
                base[:off] + value + " " + base[off + len(value) + 1:]
            )
            assert len(transcript) == 100
        pcm = synth_pcm(SEED * 11_000_003 + r, 8000, sr_hz)
        rows.append((
            f"redact-{r:010d}", encode(pcm, codec), sr_hz, 1000, codec,
            transcript,
        ))
    return rows_frame(rows)


redact_clips_df = _range_generator(redact_rows_for_range)


OFFSET_GROUP = 3       # rows r, r+1, r+2 with r // 3 == g form one group
OFFSET_UNIQUE_MOD = 4  # group g is all-unique when g % 4 == 3


def offset_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows with PLANTED offset-duplicate structure: group
    ``g = r // 3`` shares one 8000-sample noise body X (seeded by g);
    member ``m = r % 3`` carries it as X / silence(1024)+X /
    X+silence(512) — the same content at three OFFSETS, which shifts
    every fixed-window position but no content-defined boundary.
    Groups with ``g % 4 == 3`` give every member its OWN noise body
    (planted non-duplicates).  Codec is per-GROUP (``g % 3``): CDC
    hashes live on the decode lattice, so partners are same-codec by
    design.  The oracle knows each clip's partner count (2 or 0) from
    the row index alone."""
    rows = []
    sr_hz = 8000
    for r in range(start, end):
        g, m = divmod(r, OFFSET_GROUP)
        codec = _CODECS[g % 3]
        if g % OFFSET_UNIQUE_MOD == 3:
            seed = 8_900_000 + 3 * g + m
        else:
            seed = 8_800_000 + g
        body = (
            np.random.default_rng(seed)
            .uniform(-0.4, 0.4, 8000)
            .astype(np.float32)
        )
        if m == 1:
            pcm = np.concatenate([np.zeros(1024, np.float32), body])
        elif m == 2:
            pcm = np.concatenate([body, np.zeros(512, np.float32)])
        else:
            pcm = body
        rows.append((
            f"off-{r:010d}", encode(pcm, codec), sr_hz,
            int(len(pcm) * 1000 / sr_hz), codec,
            f"transcript for offset clip {r}",
        ))
    return rows_frame(rows)


offset_clips_df = _range_generator(offset_rows_for_range)


STEREO_CLASS_PERIOD = 6  # row r's planted channel-activity class = r % 6


def stereo_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Frame-interleaved STEREO clips rows with PLANTED per-channel
    speech structure, keyed by ``r % 6`` (codec cycles ``(r // 6) % 3``
    so every class sees every codec): 0 ch0 talks the whole second
    (1000/0/0 ms talk0/talk1/overtalk), 1 ch1 talks (0/1000/0), 2 clean
    turn-taking — ch0 the first half, ch1 the second (500/500/0), 3
    crosstalk — ch0 throughout, ch1 joins for the second half
    (1000/500/500), 4 both silent (0/0/0), 5 an undecodable codec tag
    (chan_ok = false).  Voiced spans use the 0.45-magnitude block wave
    (``_vad_voiced``) against the 0.01 block-energy threshold and halves
    align on 10 ms block boundaries, so talk/overtalk milliseconds are
    EXACT by construction and the oracle gates the measured times, not
    just decisions.  Downmix expectations are closed-form too: one
    voiced channel → 0.225 amplitude ('half'), both in-phase → 0.45
    ('loud'), silence → 0, so q99 gates the downmixed level class and
    the halved payload byte length per codec."""
    rows = []
    sr_hz = 8000
    n = 8000  # frames per channel = 1 s
    half = n // 2
    voiced = _vad_voiced(n)
    voiced_half = _vad_voiced(half)
    silence = np.zeros(n, np.float32)
    for r in range(start, end):
        kind = r % STEREO_CLASS_PERIOD
        codec = _CODECS[(r // STEREO_CLASS_PERIOD) % 3]
        if kind == 0:
            ch0, ch1 = voiced, silence
        elif kind == 1:
            ch0, ch1 = silence, voiced
        elif kind == 2:
            ch0 = np.concatenate([voiced_half, np.zeros(half, np.float32)])
            ch1 = np.concatenate([np.zeros(half, np.float32), voiced_half])
        elif kind == 3:
            ch0 = voiced
            ch1 = np.concatenate([np.zeros(half, np.float32), voiced_half])
        else:
            ch0, ch1 = silence, silence
        if kind == 5:
            codec, data = "opus", b"\x00\x01\x02\x03"
        else:
            inter = np.empty(2 * n, np.float32)
            inter[0::2] = ch0
            inter[1::2] = ch1
            data = encode(inter, codec)
        rows.append((
            f"st-{r:010d}", data, sr_hz, 1000, codec,
            f"transcript for stereo clip {r}", 2,
        ))
    return rows_frame(rows, STEREO_SCHEMA_DDL)


stereo_clips_df = _range_generator(stereo_rows_for_range, STEREO_SCHEMA_DDL)


WAV_CLASS_PERIOD = 6  # row r's planted container class = r % 6


def _wav_bytes(
    payload: bytes, fmt_code: int, nch: int, sr: int, bits: int,
    extra_chunk: bytes = b"", data_len_override: int | None = None,
    fmt_ext: bytes | None = None,
) -> bytes:
    """Canonical RIFF/WAVE container around ``payload`` (optionally with
    one interposed chunk before `data`, a lying data-length field, or a
    non-16-byte fmt chunk — ``fmt_ext`` appends extension bytes after
    the 16 mandatory ones, e.g. ``b"\\x00\\x00"`` for the cbSize=0
    18-byte fmt G.711 writers emit; odd fmt sizes get the RIFF pad)."""
    import struct

    block_align = max(1, nch * (bits // 8))
    byte_rate = sr * block_align
    dlen = len(payload) if data_len_override is None else data_len_override
    fmt_body = struct.pack(
        "<HHIIHH", fmt_code, nch, sr, byte_rate, block_align, bits
    )
    if fmt_ext is not None:
        fmt_body += fmt_ext
    chunks = b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
    if len(fmt_body) % 2:
        chunks += b"\x00"  # RIFF odd-size pad byte
    chunks += extra_chunk
    chunks += b"data" + struct.pack("<I", dlen) + payload
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def wav_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows whose payloads are RIFF/WAVE CONTAINERS with PLANTED
    container classes keyed by ``r % 6``: 0 canonical pcm16 WAV
    (consistent header), 1 canonical mu-law WAV (fmt 7), 2 pcm16 WAV
    with one interposed LIST chunk before `data` (the parser's one-skip
    path), 3 well-formed WAV whose header sample rate (16000) CONTRADICTS
    the table's sr_hz column (8000) — the header-vs-metadata audit case,
    4 container whose data chunk DECLARES twice the bytes it carries
    (truncated upload), 5 a raw non-container pcm16 payload.  Audio is
    the 0.45-magnitude block wave throughout, so post-unwrap levels are
    closed-form ('loud') and byte lengths are exact constants: pcm16
    payload 16000 B / container 16044 B, LIST variant 16064 B, mu-law
    8000 / 8044 B."""
    rows = []
    sr_hz = 8000
    voiced = _vad_voiced(8000)
    pcm_payload = encode(voiced, "pcm16")
    ulaw_payload = encode(voiced, "ulaw")
    for r in range(start, end):
        kind = r % WAV_CLASS_PERIOD
        codec = "wav"
        if kind == 0:
            data = _wav_bytes(pcm_payload, 1, 1, 8000, 16)
        elif kind == 1:
            data = _wav_bytes(ulaw_payload, 7, 1, 8000, 8)
        elif kind == 2:
            data = _wav_bytes(
                pcm_payload, 1, 1, 8000, 16,
                extra_chunk=b"LIST" + (12).to_bytes(4, "little") + b"INFOisft-tst",
            )
        elif kind == 3:
            data = _wav_bytes(pcm_payload, 1, 1, 16000, 16)
        elif kind == 4:
            data = _wav_bytes(
                pcm_payload, 1, 1, 8000, 16, data_len_override=32000
            )
        else:
            codec, data = "pcm16", pcm_payload
        rows.append((
            f"wv-{r:010d}", data, sr_hz, 1000, codec,
            f"transcript for wav clip {r}",
        ))
    return rows_frame(rows)


wav_clips_df = _range_generator(wav_rows_for_range)


DECLIP_CLASS_PERIOD = 4  # row r's planted clipping class = r % 4


def declip_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows with PLANTED clipping damage keyed by ``r % 4`` (codec
    cycles ``r % 3`` — 4 and 3 are coprime so every class sees every
    codec): 0 clean 0.45 block wave (0 clipped / 0 repaired), 1 an
    interior 500-sample full-scale run cut into a 0.2→0.4 ramp (500 /
    500 — interpolation has both anchors), 2 a 300-sample full-scale
    HEAD on a 0.3 plateau (300 / 300 — held at the single anchor), 3
    fully clipped (8000 / 0 — nothing to anchor, left for the gate).
    Full scale decodes to ~1.0 in all three codecs and every good
    sample sits <= 0.45, so the 0.95 detection level classifies every
    sample identically across codecs and the oracle knows both counts
    from the row index alone."""
    rows = []
    sr_hz = 8000
    n = 8000
    clean = _vad_voiced(n)
    ramp = np.linspace(0.2, 0.4, n).astype(np.float32)
    interior = ramp.copy()
    interior[3750:4250] = 1.0
    head = np.full(n, 0.3, np.float32)
    head[:300] = -1.0
    full = np.ones(n, np.float32)
    waves = (clean, interior, head, full)
    for r in range(start, end):
        kind = r % DECLIP_CLASS_PERIOD
        codec = _CODECS[r % 3]
        data = encode(waves[kind], codec)
        rows.append((
            f"dc-{r:010d}", data, sr_hz, 1000, codec,
            f"transcript for declip clip {r}",
        ))
    return rows_frame(rows)


declip_clips_df = _range_generator(declip_rows_for_range)


def pack_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Uniform-codec clips rows for example packing (q105): pcm16 at
    8 kHz, durations cycling 600/1000/1400 ms by ``r % 3`` (mean 1000 —
    the stream length, hence every pack boundary, is closed-form), each
    clip a distinct constant level so assembled example bytes are
    position-verifiable."""
    rows = []
    for r in range(start, end):
        dur = (600, 1000, 1400)[r % 3]
        n = dur * 8
        pcm = np.full(n, 0.05 + 0.001 * (r % 100), np.float32)
        rows.append((
            f"pk-{r:010d}", encode(pcm, "pcm16"), 8000, dur, "pcm16",
            f"transcript for pack clip {r}",
        ))
    return rows_frame(rows)


pack_clips_df = _range_generator(pack_rows_for_range)


XMODAL_GROUP = 3       # members per planted cross-modal group
XMODAL_CLASS_MOD = 4   # group g's class = g % 4


def xmodal_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows with PLANTED cross-modal duplicate structure: rows
    group by ``g = r // 3`` (members ``m = r % 3``, codec cycles ``m``)
    and the group's class ``g % 4`` sets which modalities its members
    share: 0 same transcript AND same audio pattern (true re-uploads —
    only the conjunction may collapse these, to the m=0 member), 1 same
    transcript but per-member audio (two speakers, one prompt — text
    dedup would wrongly collapse), 2 same audio but per-member
    transcript (re-transcriptions), 3 all unique.  Audio bodies are
    8-section envelope patterns (``_tempo_pattern_pcm``), allocated so
    every distinct body across the whole fixture has a distinct 8-bit
    pattern: shared groups use ``g + 1`` (<= 80), class-1 members
    ``81 + 3*(g//4) + m`` (81..140), class-3 members ``141 + 3*(g//4)
    + m`` (141..200)."""
    rows = []
    sr_hz = 8000
    for r in range(start, end):
        g, m = divmod(r, XMODAL_GROUP)
        cls = g % XMODAL_CLASS_MOD
        if cls in (0, 2):
            pattern = g + 1
        elif cls == 1:
            pattern = 81 + 3 * (g // XMODAL_CLASS_MOD) + m
        else:
            pattern = 141 + 3 * (g // XMODAL_CLASS_MOD) + m
        if cls in (0, 1):
            transcript = f"shared transcript for group {g}"
        else:
            transcript = f"transcript for clip {r}"
        pcm = _tempo_pattern_pcm(pattern, 1000)
        codec = _CODECS[m]
        rows.append((
            f"xm-{r:010d}", encode(pcm, codec), sr_hz, 1000, codec, transcript,
        ))
    return rows_frame(rows)


xmodal_clips_df = _range_generator(xmodal_rows_for_range)


def audidx_corpus_rows(n_patterns: int = 20) -> pd.DataFrame:
    """Tiny deterministic audio corpus for the incremental-dedup index
    (q110): one pcm16 clip per envelope pattern 1..n_patterns."""
    rows = []
    for p in range(1, n_patterns + 1):
        pcm = _tempo_pattern_pcm(p, 1000)
        rows.append((
            f"corp-{p:06d}", encode(pcm, "pcm16"), 8000, 1000, "pcm16",
            f"corpus clip {p}",
        ))
    return rows_frame(rows)


def audidx_batch_rows(n_rows: int = 120, n_patterns: int = 20) -> pd.DataFrame:
    """New-crawl batch with PLANTED incremental-dedup classes keyed by
    ``r % 3``: 0 a corpus re-upload — pattern ``(r//3) % n_patterns + 1``
    at 0.9x tempo in mu-law (drops: the envelope fingerprint sees
    through tempo AND codec), 1 a fresh unique pattern ``100 + r//3``
    (survives), 2 a within-batch duplicate pair — consecutive class-2
    rows (r and r+3) share pattern ``150 + r//6``, the min-id member
    survives.  All arithmetic closed-form for the oracle."""
    rows = []
    for r in range(n_rows):
        kind = r % 3
        if kind == 0:
            pattern, sec, codec = (r // 3) % n_patterns + 1, 900, "ulaw"
        elif kind == 1:
            pattern, sec, codec = 100 + r // 3, 1000, "pcm16"
        else:
            pattern, sec, codec = 150 + r // 6, 1000, "alaw"
        pcm = _tempo_pattern_pcm(pattern, sec)
        rows.append((
            f"newb-{r:06d}", encode(pcm, codec), 8000,
            int(len(pcm) * 1000 / 8000), codec, f"batch clip {r}",
        ))
    return rows_frame(rows)


RESTORE_CLASS_PERIOD = 4  # row r's planted restoration class = r % 4


def restore_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips rows for the RESTORATION-LIFT gate (q111), keyed by
    ``r % 4`` — all 16 kHz pcm16, the q73 burst structure (40 ms on /
    40 ms off 1 kHz tone) so the SNR estimator has gaps to read: 0
    clean (keeps with or without restoration), 1 a 1200-sample
    full-scale clipped run inside a burst (clip ratio 0.125 raw —
    gate-dropped — but declip repairs all 1200: kept after), 2 clean
    bursts over 0.1 noise (snr ~10 dB raw — dropped — ~22 dB after
    denoise: kept), 3 hopeless: constant full-scale, nothing to anchor
    (dropped both ways via the still-clipped counter).  Per-row seeded
    noise keeps every measurement deterministic."""
    rows = []
    sr_hz, n = 16000, 9600
    t = np.arange(n, dtype=np.float64) / sr_hz
    burst = 0.4 * np.sin(2.0 * np.pi * 1000.0 * t)
    burst *= ((np.arange(n) // 640) % 2 == 0).astype(np.float64)
    for r in range(start, end):
        kind = r % RESTORE_CLASS_PERIOD
        rng = np.random.default_rng(SEED * 17_000_023 + r)
        if kind == 0:
            pcm = burst + 1e-4 * rng.standard_normal(n)
        elif kind == 1:
            pcm = burst + 1e-4 * rng.standard_normal(n)
            pcm[1000:2200] = 1.0
        elif kind == 2:
            pcm = burst + 0.1 * rng.standard_normal(n)
        else:
            pcm = np.ones(n)
        pcm = np.clip(pcm, -1.0, 1.0).astype(np.float32)
        rows.append((
            f"rs-{r:010d}", encode(pcm, "pcm16"), sr_hz, 600, "pcm16",
            f"transcript for restore clip {r}",
        ))
    return rows_frame(rows)


restore_clips_df = _range_generator(restore_rows_for_range)


TURNS_CLASS_PERIOD = 4  # row r's planted turn-structure class = r % 4


def turns_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """STEREO clips rows with PLANTED speaker-turn structure keyed by
    ``r % 4`` (codec cycles ``(r // 4) % 3``): 0 a ch0 monologue (0
    turns), 1 one clean handoff ch0 -> ch1 (1 turn), 2 strict 100 ms
    alternation across 1 s (9 turns), 3 alternation interrupted by
    silence and one both-voiced overlap span — label sequence ch0,
    ch1, ch0 (2 turns; pauses and overlap must neither add nor break
    turns).  Spans are 100 ms (10 blocks at the 10 ms VAD block), so
    every count is exact by construction."""
    rows = []
    sr_hz = 8000
    span = 800  # 100 ms per channel

    def seg(ch):
        s = np.zeros((span, 2), np.float32)
        s[:, ch] = _vad_voiced(span)
        return s

    silence = np.zeros((span, 2), np.float32)
    overlap = np.zeros((span, 2), np.float32)
    overlap[:, 0] = _vad_voiced(span)
    overlap[:, 1] = _vad_voiced(span)
    for r in range(start, end):
        kind = r % TURNS_CLASS_PERIOD
        codec = _CODECS[(r // TURNS_CLASS_PERIOD) % 3]
        if kind == 0:
            parts = [seg(0)] * 10
        elif kind == 1:
            parts = [seg(0)] * 5 + [seg(1)] * 5
        elif kind == 2:
            parts = [seg(i % 2) for i in range(10)]
        else:
            parts = [seg(0), seg(0), silence, seg(1), seg(1),
                     overlap, seg(0), seg(0), silence, silence]
        inter = np.concatenate(parts).ravel()
        rows.append((
            f"tn-{r:010d}", encode(inter, codec), sr_hz, 1000, codec,
            f"transcript for turns clip {r}", 2,
        ))
    return rows_frame(rows, STEREO_SCHEMA_DDL)


turns_clips_df = _range_generator(turns_rows_for_range, STEREO_SCHEMA_DDL)


PITCH_CLASSES = ("tone100", "tone220", "harmonic120", "noise")  # r % 4
PITCH_F0 = {"tone100": 100.0, "tone220": 220.0, "harmonic120": 120.0}


def pitch_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips with planted PITCH classes for the f0 estimator (q117),
    keyed by ``r % 4`` (class name rides in the transcript): pure
    100 Hz / 220 Hz sines (f0 must read the planted value within the
    lag grid), a harmonic-rich 120 Hz stack (fundamental + 2f + 3f —
    f0 must read the FUNDAMENTAL, the subharmonic-ambiguity case), and
    white noise (must read unvoiced, f0 = 0).  All pcm16/16 kHz/4800
    samples — per-class decisions a SQL oracle recomputes from r % 4."""
    rows = []
    sr_hz = 16000
    n = 4800
    t = np.arange(n, dtype=np.float64) / sr_hz
    for r in range(start, end):
        cls = PITCH_CLASSES[r % 4]
        if cls == "tone100":
            pcm = 0.4 * np.sin(2.0 * np.pi * 100.0 * t)
        elif cls == "tone220":
            pcm = 0.4 * np.sin(2.0 * np.pi * 220.0 * t)
        elif cls == "harmonic120":
            pcm = (
                0.25 * np.sin(2.0 * np.pi * 120.0 * t)
                + 0.12 * np.sin(2.0 * np.pi * 240.0 * t)
                + 0.06 * np.sin(2.0 * np.pi * 360.0 * t)
            )
        else:
            rng = np.random.default_rng(SEED * 31_000_081 + r)
            pcm = np.clip(0.15 * rng.standard_normal(n), -1.0, 1.0)
        rows.append((
            f"pi-{r:08d}", encode(pcm.astype(np.float32), "pcm16"), sr_hz, 300,
            "pcm16", cls,
        ))
    return rows_frame(rows)


pitch_clips_df = _range_generator(pitch_rows_for_range)


REVERB_CLASSES = ("dry", "moderate", "reverberant", "steady")  # r % 4
REVERB_TAU = {"dry": 0.02, "moderate": 0.1, "reverberant": 0.2}


def reverb_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips with planted REVERB classes for the RT60-proxy gate
    (q118), keyed by ``r % 4`` (class in the transcript): noise bursts
    with exponential amplitude tails exp(-t/tau) at tau = 20 ms (dry,
    rt60 ~ 0.14 s), 100 ms (moderate, ~ 0.69 s), 200 ms (reverberant,
    ~ 1.38 s — must drop at max_rt60 = 1.0), and steady white noise
    (must read UNMEASURABLE: n_decay_pairs < min_pairs, keeps).
    Bursts are spaced >= 9 tau so tails never overlap (an overlapping
    tail floors the apparent decay rate).  All pcm16/16 kHz/3 s."""
    rows = []
    sr_hz = 16000
    dur_s = 3.0
    n = int(sr_hz * dur_s)
    for r in range(start, end):
        cls = REVERB_CLASSES[r % 4]
        rng = np.random.default_rng(SEED * 37_000_121 + r)
        if cls == "steady":
            pcm = 0.25 * rng.standard_normal(n)
        else:
            tau = REVERB_TAU[cls]
            pcm = np.zeros(n)
            spacing = max(0.3, 9.0 * tau)
            for b in range(max(2, int(dur_s / spacing))):
                at = int(b * spacing * sr_hz)
                tail_n = min(int(7.0 * tau * sr_hz), n - at)
                if tail_n <= 0:
                    break
                t = np.arange(tail_n) / sr_hz
                pcm[at:at + tail_n] += (
                    0.3 * rng.standard_normal(tail_n) * np.exp(-t / tau)
                )
        pcm = np.clip(pcm, -1.0, 1.0).astype(np.float32)
        rows.append((
            f"rv-{r:08d}", encode(pcm, "pcm16"), sr_hz, int(dur_s * 1000),
            "pcm16", cls,
        ))
    return rows_frame(rows)


reverb_clips_df = _range_generator(reverb_rows_for_range)


CODEC_LIE_CLASSES = (
    "honest_pcm16", "honest_ulaw", "lie_pcm16_is_ulaw", "lie_ulaw_is_pcm16",
)  # r % 4


def codec_lie_rows_for_range(start: int, end: int) -> pd.DataFrame:
    """Clips with planted codec-label LIES for the family detector
    (q121), keyed by ``r % 4`` (class in the transcript): honest
    pcm16, honest mu-law, mu-law bytes DECLARED pcm16, and pcm16
    bytes DECLARED mu-law.  Content is a speech-band tone mix with a
    touch of noise (rho ~ 0.99 under the true family) at 16 kHz,
    300 ms."""
    rows = []
    sr_hz = 16000
    n = 4800
    t = np.arange(n, dtype=np.float64) / sr_hz
    for r in range(start, end):
        cls = CODEC_LIE_CLASSES[r % 4]
        rng = np.random.default_rng(SEED * 41_000_207 + r)
        pcm = (
            0.3 * np.sin(2.0 * np.pi * 220.0 * t)
            + 0.1 * np.sin(2.0 * np.pi * 520.0 * t)
            + 0.02 * rng.standard_normal(n)
        ).astype(np.float32)
        if cls == "honest_pcm16":
            data, codec = encode(pcm, "pcm16"), "pcm16"
        elif cls == "honest_ulaw":
            data, codec = encode(pcm, "ulaw"), "ulaw"
        elif cls == "lie_pcm16_is_ulaw":
            data, codec = encode(pcm, "ulaw"), "pcm16"
        else:
            data, codec = encode(pcm, "pcm16"), "ulaw"
        rows.append((f"cl-{r:08d}", data, sr_hz, 300, codec, cls))
    return rows_frame(rows)


codec_lie_clips_df = _range_generator(codec_lie_rows_for_range)
