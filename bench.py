"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default 4).  Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set (`value` is the sum of their times):
  pipeline        full quality-filter + scrub pipeline over generated clips
                  (text-only; clip count scales with sf)
  pipeline_audio  pipeline incl. G.711/PCM16 decode over a smaller table
  scrub_restore   scrub + restore roundtrip over the documents table
  dedup_minhash   MinHash+LSH near-dup over documents
  cosine_topk     brute-force cosine top-10, 5 queries over embeddings
  global_labels   distributed batch global-label job
  tpch_q1         relational aggregation baseline over lineitem

The secondary arms are reported as `<name>_sec` plus a rows-per-second
rate, outside the headline sum.

Protocol: every arm runs through one closed loop, the one perfbench
uses (perfbench/run.py warm_passes / timed_passes): untimed calls until
>= 3 s have passed (at least 1), then timed calls until >= 6 s have
passed (at least 3); the arm reports the median call time.  A host
memory-bandwidth probe before and after the arms is recorded as a field
only.  The dedup candidate-pair stats come from a separate untimed call
after the arms.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from time import perf_counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "4")
WARM_SECONDS, MIN_WARM_CALLS = 3.0, 1
TIMED_SECONDS, MIN_TIMED_CALLS = 6.0, 3


def _sf(sf_dir: str) -> str:
    return sf_dir.rstrip("/").rsplit("sf", 1)[-1]


def _host_probe_sec() -> float:
    """Host memory-bandwidth reading: one 20M-element numpy multiply.
    Recorded so a degraded host window is visible in the record;
    tpch_q1 is the JVM-side counterpart."""
    import numpy as np

    a = np.random.default_rng(0).random(20_000_000)
    t0 = perf_counter()
    a * 1.5
    return round(perf_counter() - t0, 3)


def median_call_sec(fn):
    """The closed loop: (median timed seconds, last call's result)."""
    start, calls = perf_counter(), 0
    while calls < MIN_WARM_CALLS or perf_counter() - start < WARM_SECONDS:
        fn()
        calls += 1
    walls, start = [], perf_counter()
    while len(walls) < MIN_TIMED_CALLS or perf_counter() - start < TIMED_SECONDS:
        t0 = perf_counter()
        out = fn()
        walls.append(perf_counter() - t0)
    return statistics.median(walls), out


def arms(spark, sf_dir: str):
    """Build the cached inputs and the arm table for ``sf_dir``.

    Returns ``(rows, cached)``: ``rows`` is a list of
    ``(name, fn, n_rows, headline)`` — ``fn()`` runs the arm once and
    ``n_rows`` is what its rate divides (None: no rate) — and ``cached``
    maps a name to each frame this call cached; the caller unpersists
    them.  The session is left running."""
    from pyspark.sql import functions as F

    from top_secret_spark.operators.audio import (
        denoised_clips,
        pack_audio_examples,
        split_clips_on_silence,
        time_masked_clips,
        transcode_clips,
        trimmed_clips,
        with_log_mel,
        with_spectral_features,
        with_voice_health,
        with_wav_header,
    )
    from top_secret_spark.operators.batch import batch_scrub
    from top_secret_spark.operators.dedup import near_duplicates_minhash
    from top_secret_spark.operators.scrub import with_restore, with_scrub
    from top_secret_spark.operators.similarity import brute_force_top_k
    from top_secret_spark.operators.text_analysis import top_terms
    from top_secret_spark.pipeline import PipelineConfig, run_pipeline
    from top_secret_spark.sources.clips import clips_df, wav_clips_df

    sf = _sf(sf_dir)
    sf_num = float(sf) if sf.replace(".", "").isdigit() else 0.1
    n_text = max(2000, int(2_000_000 * sf_num))
    n_audio = max(500, int(80_000 * sf_num))
    cores = spark.sparkContext.defaultParallelism

    cached = {
        "clips": clips_df(spark, n_text, with_audio=False,
                          partitions=cores * 4),
        "aclips": clips_df(spark, n_audio, with_audio=True,
                           partitions=cores * 2),
        "wavs": wav_clips_df(spark, n_audio, partitions=cores * 2),
        # The documents parquet is ONE split at bench sf — measured A/B
        # (sf0.1, best-of-4 warm): 1 partition 0.67 s vs repartition(64)
        # 1.77 s for scrub_restore, because 5k rows / 64 tasks = 78-row
        # Arrow batches whose per-task overhead swamps the 0.08 ms/doc
        # kernel.  At 100 TB the scan yields >> cores splits and the same
        # code runs wide; forcing that shape onto 5k rows would measure
        # scheduler overhead, not the engine.
        "docs": spark.read.parquet(f"{sf_dir}/documents.parquet"),
        "emb": spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
    }
    # the collapsing side of near_duplicates_minhash's "auto" choice: one
    # page copied 1,000 times (the headline dedup_minhash arm does not
    # collapse)
    docs = cached["docs"]
    page = docs.select("text").first()[0]
    cached["dupheavy"] = docs.select("doc_id", "text").unionByName(
        spark.range(1000).select((F.col("id") - 1000).alias("doc_id"),
                                 F.lit(page).alias("text")))
    counts = {name: df.cache().count() for name, df in cached.items()}
    clips, aclips, wavs, emb, dupheavy = (
        cached[k] for k in ("clips", "aclips", "wavs", "emb", "dupheavy"))

    queries = [(r["vec_id"], r["embedding"])
               for r in emb.filter(F.col("vec_id") < 5).collect()]
    msgs = docs.select(
        F.col("doc_id").alias("msg_idx"),
        F.concat(F.col("text"), F.lit(" contact user"),
                 (F.col("doc_id") % 41).cast("string"),
                 F.lit("@example.com")).alias("input"),
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pcm_clips = aclips.filter(
        (F.col("codec") == "pcm16") & (F.col("sr_hz") == 16000))
    na = counts["aclips"]

    # plain calls only, no instrumentation inside; the aggregates keep
    # the outputs on the executors
    rows = [
        ("pipeline",
         lambda: run_pipeline(clips).filter(F.col("keep")).count(),
         counts["clips"], True),
        ("pipeline_audio",
         lambda: run_pipeline(aclips, PipelineConfig(include_audio=True))
         .filter(F.col("keep")).count(),
         na, True),
        ("scrub_restore",
         lambda: with_restore(with_scrub(docs, text_col="text"),
                              text_col="scrubbed")
         .filter(F.col("restored_text") == F.col("text")).count(),
         None, True),
        ("dedup_minhash",
         lambda: near_duplicates_minhash(
             docs, threshold=0.8, collapse_exact="auto").count(),
         None, True),
        ("cosine_topk",
         lambda: brute_force_top_k(emb, queries, k=10).count(), None, True),
        ("global_labels", lambda: batch_scrub(msgs)[0].count(), None, True),
        ("tpch_q1",
         lambda: li.groupBy("l_returnflag", "l_linestatus").agg(
             F.sum("l_quantity"), F.sum("l_extendedprice"),
             F.count(F.lit(1))).count(),
         None, True),
        ("audio_prep",
         lambda: split_clips_on_silence(
             trimmed_clips(aclips), min_gap_ms=200).count(),
         na, False),
        ("spectral",
         lambda: with_spectral_features(aclips).agg(
             F.count(F.when(F.col("spectral_ok"), 1)),
             F.avg("spectral_flatness")).collect(),
         na, False),
        ("log_mel",
         lambda: with_log_mel(aclips).agg(
             F.sum("n_mel_frames"),
             F.count(F.when(F.col("mel_ok"), 1))).collect(),
         na, False),
        ("voice_health",
         lambda: with_voice_health(aclips).agg(
             F.count(F.when(F.col("pitch_ok"), 1)),
             F.avg("rt60_s"), F.avg("snr_est_db")).collect(),
         na, False),
        ("time_mask",
         lambda: time_masked_clips(aclips, mask_ms=200).agg(
             F.sum(F.length("bytes"))).collect(),
         na, False),
        ("transcode",
         lambda: transcode_clips(aclips, "ulaw").agg(
             F.sum(F.length("bytes"))).collect(),
         na, False),
        ("vocab_topk", lambda: top_terms(docs, k=100, n=2).count(),
         counts["docs"], False),
        ("dedup_dupheavy",
         lambda: near_duplicates_minhash(
             dupheavy, threshold=0.8, collapse_exact="auto").count(),
         counts["dupheavy"], False),
        ("denoise",
         lambda: denoised_clips(aclips).agg(
             F.sum(F.length("bytes")), F.sum("n_frames_denoised")).collect(),
         na, False),
        ("pack_audio",
         lambda: pack_audio_examples(
             pcm_clips, 30_000, codec="pcm16", sr_hz=16000).agg(
             F.sum(F.length("bytes")), F.sum("n_clips")).collect(),
         pcm_clips.count(), False),
        ("wav_audit",
         lambda: with_wav_header(wavs).agg(
             F.count(F.when(F.col("wav_issue").isNull(), 1)),
             F.sum("data_len")).collect(),
         na, False),
    ]
    return rows, cached


def main():
    from pyspark.sql import SparkSession

    from top_secret_spark.operators.dedup import near_duplicates_minhash
    from top_secret_spark.sources.checkpoint import iceberg_available
    from top_secret_spark.util import ship_package

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("tss-bench")
        .config("spark.sql.shuffle.partitions", str(int(CPUS) * 2))
        .config("spark.sql.adaptive.enabled", "true")
        # 60k rows/Arrow batch (round 5): the kernels now chunk
        # internally (langid._CHUNK_BYTES) so batch size no longer sets
        # their working footprint, and fewer crossings measured ~1.3x
        # the 20k setting for the fused pipeline at local[32]
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "60000")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    rows, cached = arms(spark, SF_DIR)

    timings: dict[str, float] = {}
    extras: dict = {"host_probe_before_sec": _host_probe_sec()}
    # the vocabulary and dup-heavy arms' rates count documents, every
    # other one clips
    rate_keys = {"vocab_topk": "vocab_docs_per_sec",
                 "dedup_dupheavy": "dedup_dupheavy_docs_per_sec"}
    for name, fn, n_rows, headline in rows:
        sec, out = median_call_sec(fn)
        if headline:
            timings[name] = round(sec, 3)
        else:
            extras[f"{name}_sec"] = round(sec, 3)
        if n_rows is not None:
            # divide by the raw median, not the rounded record value — a
            # few-ms run would distort the rate by up to ~50%
            extras[rate_keys.get(name, f"{name}_clips_per_sec")] = round(
                n_rows / max(sec, 1e-9), 1)
        if name == "pipeline":
            extras["pipeline_n_clips"] = n_rows
            extras["pipeline_kept"] = out
        elif name == "audio_prep":
            extras["audio_prep_segments"] = out
    extras["host_probe_after_sec"] = _host_probe_sec()

    # untimed stats pass: candidate-pair volume is THE cost driver at web
    # scale — surfaced for dashboards, but never billed to the arm
    dd_stats: dict = {}
    near_duplicates_minhash(
        cached["docs"], threshold=0.8, collapse_exact="auto", stats=dd_stats
    ).count()
    extras["dedup_candidate_pairs"] = dd_stats.get("n_candidate_pairs")
    extras["dedup_exact_dup_ratio"] = dd_stats.get("exact_dup_ratio")
    extras["dedup_collapsed_exact"] = dd_stats.get("collapsed_exact")
    dd_stats = {}
    near_duplicates_minhash(
        cached["dupheavy"], threshold=0.8, collapse_exact="auto",
        stats=dd_stats).count()
    extras["dedup_dupheavy_collapsed_exact"] = dd_stats.get("collapsed_exact")
    for df in cached.values():
        df.unpersist()

    # Iceberg runtime availability, recorded every run so the unexecuted
    # Iceberg branch (sources/checkpoint.py) stays visibly gated on the
    # environment: the moment the sandbox gains the runtime jars this
    # flips to "available" and the skipped test suite turns on for free.
    extras["iceberg"] = (
        "available" if iceberg_available(spark) else "unavailable"
    )

    print(json.dumps({
        "metric": "headline_suite_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf(SF_DIR),
        "cores": spark.sparkContext.defaultParallelism,
        "protocol": "closed_loop_median",
        **extras,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
