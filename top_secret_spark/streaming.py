"""Structured Streaming support.

The reference has no streaming surface, and the north rule asks for
batch-with-checkpoints rather than streams (SURVEY.md §2.5) — but the
fused pipeline stage is stateless per row, so it lifts onto Structured
Streaming for free.  This module provides that lift for ingest-time
filtering (e.g. scrubbing clips as they land) with watermarked per-window
keep/drop counters as the monitoring stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernel.filters import DEFAULT_CONFIG, ScrubConfig
from .kernel.quality import DEFAULT_THRESHOLDS, QualityThresholds
from .operators.fused import run_pipeline_fused


def scrub_stream(
    stream: DataFrame,
    scrub_config: ScrubConfig = DEFAULT_CONFIG,
    thresholds: QualityThresholds = DEFAULT_THRESHOLDS,
    text_col: str = "transcript",
    entities_col: str | None = None,
) -> DataFrame:
    """Apply the full quality-filter + scrub stage to a streaming frame.

    Stateless map — no watermark needed; works with any source/sink and
    exactly-once file/Delta sinks via checkpointLocation."""
    if not stream.isStreaming:
        raise ValueError("scrub_stream expects a streaming DataFrame")
    return run_pipeline_fused(
        stream, scrub_config, thresholds, text_col=text_col,
        entities_col=entities_col,
    )


def dedup_stream(
    stream: DataFrame,
    text_col: str = "transcript",
    state_ttl: str | int | None = None,
    key: str = "fingerprint",
    fingerprint_col_name: str | None = None,
) -> DataFrame:
    """Stateful streaming dedup: first-seen row per content key wins;
    later arrivals (same or later micro-batches) are dropped.  Custom
    stateful operator via ``applyInPandasWithState`` — state is one
    counter per key, grouped so each key's state lives on one executor.

    ``state_ttl`` (default None: state kept for the query's lifetime)
    bounds state size for unbounded streams: ProcessingTimeTimeout
    evicts idle keys, after which a re-arrival would be emitted again —
    the standard TTL trade-off.  A TTL needs a continuous trigger: with
    a timeout every micro-batch schedules another, so a bounded run
    (``trigger(availableNow=True)``, ``processAllAvailable``) never
    terminates.

    ``key`` picks the content identity:

    * ``"fingerprint"`` (default) — EXACT dedup on the normalized-text
      xxhash64 fingerprint (operators/text_analysis.py), computed here
      from ``text_col``.  To reuse a fingerprint an upstream stage
      already computed (so the hash chain runs once per row — see
      ``ingest_dedup_stream``), pass its column name EXPLICITLY via
      ``fingerprint_col_name``; a column that merely happens to be
      called ``fingerprint`` (stale persisted values, a different
      normalization version, another text column) is never silently
      trusted.
    * ``"simhash"`` — sketch-exact NEAR-dup: the 64-bit SimHash is
      stable under small edits when the text is long (a one-token change
      in a ~1 kB transcript usually flips zero bits — see q36), so
      near-identical re-crawls/retransmissions dedup in-stream.  This is
      the streamable end of the batch SimHash family
      (``near_duplicates_simhash``); Hamming>0 near-misses still need
      the batch pass.

    At 10^12-row scale the shuffle key is 8 bytes either way, never the
    document body, mirroring the batch dedup invariant
    (operators/dedup.py).

    ``state_ttl`` accepts ``"N second(s)|minute(s)|hour(s)|day(s)"`` or
    a millisecond int; anything else raises ValueError at plan time.
    Among duplicates arriving in the SAME micro-batch the retained
    "first-seen" representative is whichever row the shuffle delivers
    first — nondeterministic, which is fine for dedup (all rows share
    one fingerprint) but don't rely on a specific surviving row id.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .operators.text_analysis import fingerprint_col

    if not stream.isStreaming:
        raise ValueError("dedup_stream expects a streaming DataFrame")

    if key == "fingerprint":
        if fingerprint_col_name is not None:
            if fingerprint_col_name not in stream.columns:
                raise ValueError(
                    f"fingerprint_col_name {fingerprint_col_name!r} not in "
                    f"stream columns {stream.columns}"
                )
            if fingerprint_col_name == "fingerprint":
                with_fp = stream
            else:
                # drop any pre-existing 'fingerprint' column first — the
                # caller explicitly chose a DIFFERENT column, and the
                # rename would otherwise create two columns named
                # 'fingerprint' and break the state groupBy with an
                # ambiguous reference (the stale-column scenario this
                # parameter exists for)
                if "fingerprint" in stream.columns:
                    stream = stream.drop("fingerprint")
                with_fp = stream.withColumnRenamed(
                    fingerprint_col_name, "fingerprint"
                )
        else:
            with_fp = stream.withColumn(
                "fingerprint", fingerprint_col(text_col)
            )
    elif key == "simhash":
        from .operators.dedup import make_simhash_udf

        with_fp = stream.withColumn(
            "simhash", make_simhash_udf()(F.col(text_col))
        )
    else:
        raise ValueError(
            f"key must be 'fingerprint' or 'simhash', got {key!r}"
        )
    out_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in with_fp.schema
    )
    ttl_ms = None
    if state_ttl is not None:
        if isinstance(state_ttl, int):
            ttl_ms = state_ttl
        else:
            units = {
                "second": 1000, "seconds": 1000,
                "minute": 60_000, "minutes": 60_000,
                "hour": 3_600_000, "hours": 3_600_000,
                "day": 86_400_000, "days": 86_400_000,
            }
            parts = str(state_ttl).split()
            if (
                len(parts) != 2
                or not parts[0].isdigit()
                or parts[1] not in units
            ):
                raise ValueError(
                    f"state_ttl must be an int (milliseconds) or "
                    f"'N second(s)|minute(s)|hour(s)|day(s)', got "
                    f"{state_ttl!r}"
                )
            ttl_ms = int(parts[0]) * units[parts[1]]
        if ttl_ms <= 0:
            raise ValueError(f"state_ttl must be positive, got {state_ttl!r}")

    def first_seen(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        emitted = not state.exists
        first = None
        n = 0 if not state.exists else state.get[0]
        for pdf in pdfs:
            if emitted and first is None and len(pdf):
                first = pdf.iloc[[0]]
            n += len(pdf)
        state.update((n,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if first is not None:
            yield first

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return with_fp.groupBy(key).applyInPandasWithState(
        first_seen,
        outputStructType=out_ddl,
        stateStructType="n long",
        outputMode="append",
        timeoutConf=timeout,
    )


def keep_drop_counters(
    scrubbed_stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed keep/drop counters with late-data tolerance — the
    monitoring side-stream (per-partition counters are the batch
    equivalent, sources/checkpoint.py)."""
    return (
        scrubbed_stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            F.coalesce(F.col("drop_reason"), F.lit("keep")).alias("drop_reason"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "drop_reason",
            "n",
        )
    )


def ingest_dedup_stream(
    stream: DataFrame,
    corpus_index: DataFrame,
    text_col: str = "transcript",
    state_ttl: str | int | None = None,
) -> DataFrame:
    """Streaming twin of the incremental batch dedup
    (``operators.dedup.dedup_against_corpus``): rows whose content the
    corpus already holds are dropped by a STREAM-STATIC anti-join
    against the materialized fingerprint index BEFORE the stateful
    stage, so streaming state only ever tracks genuinely-new keys —
    at 10^12 corpus rows that is the difference between state the size
    of the crawl delta and state the size of the corpus.  Within-stream
    duplicates then dedup via ``dedup_stream`` (first-seen-wins; see
    there for ``state_ttl``).

    ``corpus_index`` needs a ``fingerprint`` column
    (``sources.bucketed.write_fingerprint_index`` /
    ``operators.dedup.with_fingerprint``); reading it back with
    ``sources.bucketed.read_table`` keeps the static side's scan
    bucketed on the join key.  Exact (fingerprint) identity only — the
    index stores fingerprints, not sketches."""
    from .operators.text_analysis import fingerprint_col

    if not stream.isStreaming:
        raise ValueError("ingest_dedup_stream expects a streaming DataFrame")
    if "fingerprint" not in corpus_index.columns:
        raise ValueError(
            "corpus_index must carry a 'fingerprint' column "
            "(write_fingerprint_index / with_fingerprint)"
        )
    with_fp = stream.withColumn("fingerprint", fingerprint_col(text_col))
    # keep the fingerprint column — dedup_stream reuses it as the state
    # key (explicit opt-in below) rather than recomputing the hash chain
    # per row — and re-select the pre-join column order: a USING join
    # fronts the key, which would reorder the output schema out from
    # under positional consumers (sinks created from the old layout)
    fresh = with_fp.join(
        corpus_index.select("fingerprint"), "fingerprint", "left_anti"
    ).select(*with_fp.columns)
    return dedup_stream(
        fresh,
        text_col=text_col,
        state_ttl=state_ttl,
        fingerprint_col_name="fingerprint",
    )


def multimodal_stream(stream: DataFrame, config=None) -> DataFrame:
    """Streaming lift of the FULL multimodal pipeline: decode →
    segmented audio features → fused text kernel → audio gate →
    multimodal keep/drop fold, applied to a streaming clips frame.
    Every stage is a stateless per-row map (one mapInPandas plus
    codegen'd projections — operators/fused.py
    run_pipeline_fused_multimodal), so the lift needs no watermark and
    works with any source and exactly-once file/Delta sinks — the
    ingest-time shape of the batch pipeline: gate clips AS THEY LAND,
    before anything is persisted downstream.

    ``config`` defaults to ``PipelineConfig(include_audio=True,
    audio_gate=AudioGateThresholds())`` — the multimodal gate; pass any
    PipelineConfig to override (same plan-time capture semantics as the
    batch entry point)."""
    if not stream.isStreaming:
        raise ValueError("multimodal_stream expects a streaming DataFrame")
    from .operators.audio import AudioGateThresholds
    from .pipeline import PipelineConfig, run_pipeline

    if config is None:
        config = PipelineConfig(
            include_audio=True, audio_gate=AudioGateThresholds()
        )
    return run_pipeline(stream, config)
