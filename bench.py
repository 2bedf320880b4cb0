"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set:
  pipeline        full quality-filter + scrub pipeline over generated clips
                  (text-only; clip count scales with sf)
  pipeline_audio  pipeline incl. G.711/PCM16 decode over a smaller table
  scrub_restore   scrub + restore roundtrip over the documents table
  dedup_minhash   MinHash+LSH near-dup over documents
  cosine_topk     brute-force cosine top-10, 5 queries over embeddings
  global_labels   distributed batch global-label job
  tpch_q1         relational aggregation baseline over lineitem

Measurement protocol (r3): all arms are INTERLEAVED across
$SPARK_GRAFT_BENCH_REPEATS rounds (default 4) and each arm reports its
best round — on a shared VM with minute-scale CPU variance, interleaving
decorrelates an arm from a single bad window and best-of-N is the
faithful estimate of what the code costs.  Round 1 additionally absorbs
per-closure Python-worker spin-up (6-14 s on this host), so the minimum
is always a warm measurement.  Instrumentation (dedup candidate-pair
stats: extra count jobs and the collapse probe) runs in a separate
UNTIMED invocation after the timed rounds — signatures are
deterministic, so the stats describe exactly the timed computation.

Adaptive rounds (round-4 tail): after the configured rounds, the loop
keeps adding interleaved rounds (cap $SPARK_GRAFT_BENCH_MAX_ROUNDS,
default 10) until at least one round ran bracketed by calm
bandwidth probes (both fenceposts <= 0.45 s).  `calm_round` in the
record says whether that happened, so a record whose every sample was
taken inside a neighbor-noise burst self-identifies.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SF = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]


def _bandwidth_probe_sec() -> float:
    """Host memory-bandwidth control: one 20M-element numpy multiply.
    ~0.05 s on this VM when calm; observed 8-22 s for hours at a time
    under neighbor contention (load average near zero throughout — the
    interference is external).  Reported in the output so a degraded
    window is visible in the record instead of masquerading as an
    engine regression; tpch_q1 is the JVM-side control, this is the
    Python/numpy-side one."""
    import time as _t

    import numpy as _np

    a = _np.random.rand(20_000_000)
    t0 = _t.perf_counter()
    a * 1.5
    return round(_t.perf_counter() - t0, 3)


def _best_of_2(fn):
    """One untimed warm call (closure and worker spin-up), then the
    minimum of two timed calls: (raw seconds, last call's result).
    Every secondary arm is map-only or has one small exchange, so no
    interleaving is needed."""
    fn()
    times = []
    for _ in range(2):
        t0 = time.time()
        out = fn()
        times.append(time.time() - t0)
    return min(times), out


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

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
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from top_secret_spark.operators.batch import batch_scrub
    from top_secret_spark.operators.dedup import near_duplicates_minhash
    from top_secret_spark.operators.scrub import with_restore, with_scrub
    from top_secret_spark.operators.similarity import brute_force_top_k
    from top_secret_spark.pipeline import PipelineConfig, run_pipeline
    from top_secret_spark.sources.clips import clips_df
    from top_secret_spark.util import ship_package

    ship_package(spark)
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # Warm the Python workers (numpy/pandas import + model singletons) on
    # every core before any timed section — same policy as
    # tools/pipeline_job.py: steady-state throughput is the metric; a
    # real 10^12-row run amortizes worker startup to nothing.
    cores = spark.sparkContext.defaultParallelism
    warm = clips_df(spark, cores * 64, with_audio=True, partitions=cores)
    run_pipeline(warm, PipelineConfig(include_audio=True)).filter(
        F.col("keep")
    ).count()

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "4")))

    # ---- datasets (built/cached once, outside every timed section) ----
    sf_num = float(SF) if SF.replace(".", "").isdigit() else 0.1
    n_text = max(2000, int(2_000_000 * sf_num))
    n_audio = max(500, int(80_000 * sf_num))

    clips = clips_df(spark, n_text, with_audio=False, partitions=cores * 4).cache()
    n = clips.count()
    aclips = clips_df(spark, n_audio, with_audio=True, partitions=cores * 2).cache()
    na = aclips.count()
    # The documents parquet is ONE split at bench sf — measured A/B
    # (sf0.1, best-of-4 warm): 1 partition 0.67 s vs repartition(64)
    # 1.77 s for scrub_restore, because 5k rows / 64 tasks = 78-row
    # Arrow batches whose per-task overhead swamps the 0.08 ms/doc
    # kernel.  At 100 TB the scan yields >> cores splits and the same
    # code runs wide; forcing that shape onto 5k rows would measure
    # scheduler overhead, not the engine.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    docs.count()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    emb.count()
    queries = [(r["vec_id"], r["embedding"])
               for r in emb.filter(F.col("vec_id") < 5).collect()]
    msgs = docs.select(
        F.col("doc_id").alias("msg_idx"),
        F.concat(F.col("text"), F.lit(" contact user"),
                 (F.col("doc_id") % 41).cast("string"),
                 F.lit("@example.com")).alias("input"),
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")

    # ---- arms (plain calls only; no instrumentation inside) ----
    arms = [
        ("pipeline",
         lambda: run_pipeline(clips).filter(F.col("keep")).count()),
        ("pipeline_audio",
         lambda: run_pipeline(aclips, PipelineConfig(include_audio=True))
         .filter(F.col("keep")).count()),
        ("scrub_restore",
         lambda: with_restore(with_scrub(docs, text_col="text"),
                              text_col="scrubbed")
         .filter(F.col("restored_text") == F.col("text")).count()),
        ("dedup_minhash",
         lambda: near_duplicates_minhash(
             docs, threshold=0.8, collapse_exact="auto").count()),
        ("cosine_topk",
         lambda: brute_force_top_k(emb, queries, k=10).count()),
        ("global_labels", lambda: batch_scrub(msgs)[0].count()),
        ("tpch_q1",
         lambda: li.groupBy("l_returnflag", "l_linestatus").agg(
             F.sum("l_quantity"), F.sum("l_extendedprice"),
             F.count(F.lit(1))).count()),
    ]

    extras["host_probe_before_sec"] = _bandwidth_probe_sec()
    results: dict[str, int] = {}
    per_round: dict[str, list[float]] = {name: [] for name, _ in arms}
    # Adaptive rounds: run the configured interleaved rounds, then keep
    # adding rounds (up to $SPARK_GRAFT_BENCH_MAX_ROUNDS, default 10)
    # until at least one round is BRACKETED by calm probes — the shared
    # VM's noise comes in bursts of a few minutes, so a fixed round
    # count launched inside a burst ships a record where every best-of
    # sample is contaminated.  `round_probes_sec` is the fencepost list
    # (probe before round i = probes[i], after = probes[i+1]); a round
    # counts as calm iff both of its fenceposts are under the gate.
    calm_gate = 0.45
    max_rounds = max(repeats, int(os.environ.get(
        "SPARK_GRAFT_BENCH_MAX_ROUNDS", "10")))
    probes = [_bandwidth_probe_sec()]
    rep = 0

    def _any_calm_round() -> bool:
        return any(max(probes[i], probes[i + 1]) <= calm_gate
                   for i in range(rep))

    while rep < repeats or (rep < max_rounds and not _any_calm_round()):
        for name, fn in arms:
            t0 = time.time()
            results[name] = fn()
            per_round[name].append(time.time() - t0)
        probes.append(_bandwidth_probe_sec())
        rep += 1
    repeats = rep
    extras["round_probes_sec"] = probes
    extras["calm_round"] = _any_calm_round()
    extras["host_probe_after_sec"] = _bandwidth_probe_sec()
    for name, _ in arms:
        timings[name] = round(min(per_round[name]), 3)
        extras[f"{name}_rounds"] = [round(v, 3) for v in per_round[name]]

    extras["pipeline_clips_per_sec"] = round(n / timings["pipeline"], 1)
    extras["pipeline_n_clips"] = n
    extras["pipeline_kept"] = results["pipeline"]
    extras["pipeline_audio_clips_per_sec"] = round(
        na / timings["pipeline_audio"], 1)

    # NON-headline extras, kept OUT of the headline sum so `value` stays
    # arm-for-arm comparable with BENCH_r01/r02: audio prep (endpoint
    # trim → utterance split), frequency-domain features, log-mel, the
    # fused voice-health stage, the pure-Catalyst time mask, codec
    # transcode, the top-k bigram vocabulary over documents, MinHash
    # near-dup over a duplicate-heavy copy of them, spectral-
    # subtraction denoise, fixed-duration example packing, and the WAV
    # header audit over container-wrapped rows.  The aggregates keep the
    # outputs on the executors.  One row = (record key prefix, call,
    # rows it covers); see _best_of_2 for the protocol.
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
    from top_secret_spark.operators.text_analysis import top_terms
    from top_secret_spark.sources.clips import wav_clips_df

    pcm_clips = aclips.filter(
        (F.col("codec") == "pcm16") & (F.col("sr_hz") == 16000)
    )
    wavs = wav_clips_df(spark, na, partitions=cores * 2).cache()
    wavs.count()
    # the collapsing side of near_duplicates_minhash's "auto" choice: one
    # page copied 1,000 times (the headline dedup_minhash arm does not
    # collapse)
    page = docs.select("text").first()[0]
    dupheavy = docs.select("doc_id", "text").unionByName(spark.range(1000).select(
        (F.col("id") - 1000).alias("doc_id"), F.lit(page).alias("text"))).cache()
    n_dupheavy = dupheavy.count()
    secondary = [
        ("audio_prep",
         lambda: split_clips_on_silence(
             trimmed_clips(aclips), min_gap_ms=200).count(),
         na),
        ("spectral",
         lambda: with_spectral_features(aclips).agg(
             F.count(F.when(F.col("spectral_ok"), 1)),
             F.avg("spectral_flatness")).collect(),
         na),
        ("log_mel",
         lambda: with_log_mel(aclips).agg(
             F.sum("n_mel_frames"),
             F.count(F.when(F.col("mel_ok"), 1))).collect(),
         na),
        ("voice_health",
         lambda: with_voice_health(aclips).agg(
             F.count(F.when(F.col("pitch_ok"), 1)),
             F.avg("rt60_s"), F.avg("snr_est_db")).collect(),
         na),
        ("time_mask",
         lambda: time_masked_clips(aclips, mask_ms=200).agg(
             F.sum(F.length("bytes"))).collect(),
         na),
        ("transcode",
         lambda: transcode_clips(aclips, "ulaw").agg(
             F.sum(F.length("bytes"))).collect(),
         na),
        ("vocab_topk", lambda: top_terms(docs, k=100, n=2).count(),
         docs.count()),
        ("dedup_dupheavy",
         lambda: near_duplicates_minhash(
             dupheavy, threshold=0.8, collapse_exact="auto").count(),
         n_dupheavy),
        ("denoise",
         lambda: denoised_clips(aclips).agg(
             F.sum(F.length("bytes")), F.sum("n_frames_denoised")).collect(),
         na),
        ("pack_audio",
         lambda: pack_audio_examples(
             pcm_clips, 30_000, codec="pcm16", sr_hz=16000).agg(
             F.sum(F.length("bytes")), F.sum("n_clips")).collect(),
         pcm_clips.count()),
        ("wav_audit",
         lambda: with_wav_header(wavs).agg(
             F.count(F.when(F.col("wav_issue").isNull(), 1)),
             F.sum("data_len")).collect(),
         na),
    ]
    # the vocabulary and dup-heavy arms' rates count documents, every
    # other one clips
    rate_keys = {"vocab_topk": "vocab_docs_per_sec",
                 "dedup_dupheavy": "dedup_dupheavy_docs_per_sec"}
    for name, fn, n_rows in secondary:
        sec, out = _best_of_2(fn)
        extras[f"{name}_sec"] = round(sec, 3)
        # divide by the RAW minimum, not the rounded record value — a
        # sub-millisecond run would round to 0.000 and a few-ms run
        # would distort the rate by up to ~50%
        extras[rate_keys.get(name, f"{name}_clips_per_sec")] = round(
            n_rows / max(sec, 1e-9), 1)
        if name == "audio_prep":
            extras["audio_prep_segments"] = out
    wavs.unpersist()

    # untimed stats pass: candidate-pair volume is THE cost driver at web
    # scale — surfaced for dashboards, but never billed to the arm
    dd_stats: dict = {}
    near_duplicates_minhash(
        docs, threshold=0.8, collapse_exact="auto", stats=dd_stats
    ).count()
    extras["dedup_candidate_pairs"] = dd_stats.get("n_candidate_pairs")
    extras["dedup_exact_dup_ratio"] = dd_stats.get("exact_dup_ratio")
    extras["dedup_collapsed_exact"] = dd_stats.get("collapsed_exact")
    dd_stats = {}
    near_duplicates_minhash(
        dupheavy, threshold=0.8, collapse_exact="auto", stats=dd_stats
    ).count()
    extras["dedup_dupheavy_collapsed_exact"] = dd_stats.get("collapsed_exact")
    dupheavy.unpersist()

    # Iceberg runtime availability, recorded every run so the unexecuted
    # Iceberg branch (sources/checkpoint.py) stays visibly gated on the
    # environment: the moment the sandbox gains the runtime jars this
    # flips to "available" and the skipped test suite turns on for free.
    from top_secret_spark.sources.checkpoint import iceberg_available

    extras["iceberg"] = (
        "available" if iceberg_available(spark) else "unavailable"
    )

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF,
        "cores": cores,
        "repeats_best_of": repeats,
        "protocol": "interleaved_best_of_n",
        **extras,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
