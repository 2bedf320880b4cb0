"""The end-to-end quality-filter + PII-scrub pipeline.

clips(clip_id, bytes, sr_hz, dur_ms, codec, transcript)
  → [optional] audio decode-validate + features   (mapInPandas, numpy)
  → quality signals + langid + perplexity
    + keep/drop + PII scrub of kept transcripts   (one fused Arrow stage,
                                                   operators/fused.py)
  → [optional] audio gate folded into keep/drop   (Catalyst when-chain)

With audio and no injected entities, decode and the text stage share
one ``mapInPandas`` crossing.

The whole pipeline is map-only: zero shuffles, zero driver collects —
embarrassingly parallel, which is what makes the N→4N scaling-efficiency
target (BASELINE.json north_rule, ≥0.8) achievable: throughput is bounded
by input splittability and per-core UDF speed, not by any exchange.
Partitioning (hash-bucket by clip_id + salting) matters for the
checkpointed write layout — see sources/checkpoint.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernel.filters import NORTH_STAR_CONFIG, ScrubConfig
from .kernel.quality import DEFAULT_THRESHOLDS, QualityThresholds
from .operators.audio import (
    AudioGateThresholds,
    _with_audio_reason,
    with_audio_features,
)
from .operators.fused import run_pipeline_fused, run_pipeline_fused_multimodal


@dataclass(frozen=True)
class PipelineConfig:
    """Explicit config object (replaces the reference's mutable module
    globals, top_secret.rb:46-63) — captured by closures at plan time."""

    # pipeline default = reference's six slots + the URL filter (the
    # north-star names URL scrubbing); parity surfaces that must match
    # the gem byte-for-byte pass DEFAULT_CONFIG explicitly
    scrub: ScrubConfig = field(default_factory=lambda: NORTH_STAR_CONFIG)
    thresholds: QualityThresholds = field(default_factory=lambda: DEFAULT_THRESHOLDS)
    include_audio: bool = False  # decode-validate stage on/off
    scrub_dropped: bool = False  # scrub even rows that fail keep/drop
    # pre-extracted NER entities column (array<struct<text,tag,score>>) —
    # the engine's injected-entities slot (spec/spec_helper.rb:26-31);
    # None runs regex/dictionary filters only (NullModel semantics)
    entities_col: str | None = None
    # audio-quality gate thresholds (operators/audio.py) — when set (and
    # include_audio), the final keep/drop is MULTIMODAL: keep requires
    # passing both gates, drop_reason names the audio reason first (a
    # clip whose audio is unusable can't be trained on however clean its
    # transcript reads).  None keeps the text-only reference semantics.
    audio_gate: AudioGateThresholds | None = None
    n_buckets: int = 64  # hash buckets for the checkpointed layout


DEFAULT_PIPELINE = PipelineConfig()


def with_bucket(df: DataFrame, n_buckets: int, key: str = "clip_id") -> DataFrame:
    """Deterministic hash bucket for partition-granular checkpoint/resume
    and co-located writes.  xxhash64 is content-based, so bucket ids are
    stable across runs and cluster sizes."""
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))


def salted(df: DataFrame, id_col: str = "clip_id", salt_mod: int = 16) -> DataFrame:
    """Salt column for skew mitigation on hot keys (codec/duration skew):
    repartition by the composite (hot_key, salt) to split a hot value
    across salt_mod reducers.  The salt derives from ROW IDENTITY (not
    the hot key — all hot rows would share one salt), so it is
    deterministic across runs/cluster sizes."""
    return df.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(id_col), F.lit("skew-salt")), F.lit(salt_mod))
    )


def per_codec_top_k(
    df: DataFrame,
    k: int = 10,
    order_col: str = "dur_ms",
    id_col: str = "clip_id",
    salt_mod: int = 16,
) -> DataFrame:
    """Top-k clips per codec by ``order_col`` — the SALTED two-phase
    form of a skew-prone per-key window.

    A plain ``Window.partitionBy("codec")`` funnels EVERY row of the
    hot codec (~80% of a G.711/PCM corpus — sources/clips.py plants
    exactly this skew) through one task; at 10^12 clips that task is
    the job.  Phase 1 ranks within (codec, salt) — the hot codec's
    rows split across ``salt_mod`` window tasks, each keeping k — so
    phase 2 ranks only the ≤ salt_mod·k survivors per codec.  The
    result is EXACTLY the unsalted window's (ties broken by
    ``id_col``): every global top-k row is top-k within its own salt.
    Output: input columns + ``rank`` (1..k per codec)."""
    from pyspark.sql import Window

    s = salted(df, id_col=id_col, salt_mod=salt_mod)
    w1 = Window.partitionBy("codec", "salt").orderBy(
        F.desc(order_col), F.col(id_col)
    )
    survivors = (
        s.withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )
    w2 = Window.partitionBy("codec").orderBy(F.desc(order_col), F.col(id_col))
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .drop("salt")
    )


def run_pipeline(
    clips: DataFrame, config: PipelineConfig = DEFAULT_PIPELINE
) -> DataFrame:
    """clips → clips + (quality signals, lang, lang_conf, ppl, keep,
    drop_reason, scrubbed, mapping)."""
    gate = config.audio_gate if config.include_audio else None
    if config.include_audio and config.entities_col is None:
        # single-crossing multimodal stage: decode + audio features +
        # the full text kernel in ONE mapInPandas — the transcript (and
        # every carried column) pays one Arrow round-trip, not two.
        # Semantics identical to the two-stage path below (same batch
        # cores; equivalence pytest-gated).  The entities-injected
        # variant keeps the two-stage layout: struct columns arrive
        # differently under mapInPandas and that path is rare.
        out = run_pipeline_fused_multimodal(
            clips, config.scrub, config.thresholds, config.scrub_dropped
        )
        if gate is not None:
            out = _with_audio_reason(out, gate)
    else:
        df = clips
        if config.include_audio:
            df = with_audio_features(df)
            if gate is not None:
                df = _with_audio_reason(df, gate)
        out = run_pipeline_fused(
            df, config.scrub, config.thresholds, config.scrub_dropped,
            entities_col=config.entities_col,
        )
    return out if gate is None else _fold_audio_gate(out)


def _fold_audio_gate(out: DataFrame) -> DataFrame:
    """Combine the text decision with the audio gate: keep requires both;
    the audio reason wins the drop_reason slot.  Scrub output for rows
    dropped ONLY by audio is left as produced by the text pass (they were
    text-kept) — harmless, since downstream filters on ``keep``, and it
    keeps the text stages modality-blind."""
    return out.withColumn(
        "drop_reason",
        F.coalesce(F.col("audio_drop_reason"), F.col("drop_reason")),
    ).withColumn("keep", F.col("keep") & F.col("audio_keep"))


def partition_audit(df: DataFrame) -> DataFrame:
    """Per-partition audit rows (north-rule counters): how many rows each
    physical partition produced, split by keep/drop_reason.  Written next
    to stage lineage, this is the row-accounting trail for reruns."""
    return (
        df.groupBy(
            F.spark_partition_id().alias("partition_id"),
            F.coalesce("drop_reason", F.lit("keep")).alias("drop_reason"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


class PipelineCounters:
    """Accumulator-backed stage counters (north-rule 'counters').

    Updated inside the fused UDF via closure capture; read on the driver
    after an action.  Accumulators are at-least-once under task retries —
    they are MONITORING, not accounting; exact per-bucket counts live in
    the checkpoint lineage (sources/checkpoint.py)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.rows_in = sc.accumulator(0)
        self.rows_kept = sc.accumulator(0)
        self.rows_scrubbed = sc.accumulator(0)

    def as_dict(self) -> dict:
        return {
            "rows_in": self.rows_in.value,
            "rows_kept": self.rows_kept.value,
            "rows_scrubbed": self.rows_scrubbed.value,
        }


OUTPUT_COLUMNS = [
    "clip_id",
    "keep",
    "drop_reason",
    "lang",
    "lang_conf",
    "ppl",
    "scrubbed",
    "mapping",
]


def pipeline_output(clips: DataFrame, config: PipelineConfig = DEFAULT_PIPELINE) -> DataFrame:
    """The compact output projection (SURVEY.md §1 north-rule schema)."""
    return run_pipeline(clips, config).select("clip_id", *OUTPUT_COLUMNS[1:])
