"""Structured Streaming lift of the fused pipeline: a file-source stream
must produce exactly the batch pipeline's output."""

import os

import pytest
from pyspark.sql import functions as F

from top_secret_spark.pipeline import run_pipeline
from top_secret_spark.sources.clips import clips_df, write_clips_parquet
from top_secret_spark.streaming import keep_drop_counters, scrub_stream


def test_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    write_clips_parquet(src, 120, with_audio=False)

    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    stream = spark.readStream.schema(schema).parquet(src)
    out = scrub_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("scrubbed_stream")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["clip_id"]: (r["keep"], r["drop_reason"], r["scrubbed"])
        for r in spark.sql("select * from scrubbed_stream").collect()
    }
    exp = {
        r["clip_id"]: (r["keep"], r["drop_reason"], r["scrubbed"])
        for r in run_pipeline(clips_df(spark, 120, with_audio=False)).collect()
    }
    assert got == exp


def test_scrub_stream_rejects_batch_frame(spark):
    df = clips_df(spark, 5, with_audio=False)
    with pytest.raises(ValueError, match="streaming"):
        scrub_stream(df)


def test_keep_drop_counters_plan(spark, tmp_path):
    src = str(tmp_path / "in2")
    write_clips_parquet(src, 40, with_audio=False)
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    stream = spark.readStream.schema(schema).parquet(src)
    counters = keep_drop_counters(
        scrub_stream(stream).withColumn("ts", F.current_timestamp())
    )
    q = (
        counters.writeStream.format("memory")
        .queryName("kd_counters")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only closed windows; with current_timestamp the
    # window is still open, so we assert the stream RAN and the schema is
    # right rather than row contents
    df = spark.sql("select * from kd_counters")
    assert df.columns == ["window_start", "window_end", "drop_reason", "n"]


def test_dedup_stream_first_seen_wins(spark, tmp_path):
    from top_secret_spark.streaming import dedup_stream

    src = str(tmp_path / "in3")
    # 90 rows but only 30 distinct texts (3 copies each)
    clips = clips_df(spark, 30, with_audio=False)
    tripled = clips.unionByName(
        clips.withColumn("clip_id", F.concat(F.col("clip_id"), F.lit("-b")))
    ).unionByName(
        clips.withColumn("clip_id", F.concat(F.col("clip_id"), F.lit("-c")))
    )
    tripled.write.mode("overwrite").parquet(src)

    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    stream = spark.readStream.schema(schema).parquet(src)
    out = dedup_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    # the default (no state TTL) lets a bounded run terminate
    assert q.awaitTermination(180) is True

    rows = spark.sql("select * from dedup_stream_t").collect()
    n_distinct_texts = tripled.select("transcript").distinct().count()
    assert len(rows) == n_distinct_texts
    # every emitted transcript is unique and came from the input
    texts = [r["transcript"] for r in rows]
    assert len(set(texts)) == len(texts)
    input_ids = {r["clip_id"] for r in tripled.collect()}
    assert all(r["clip_id"] in input_ids for r in rows)


def test_dedup_stream_simhash_key_drops_near_identical(spark, tmp_path):
    """key='simhash' dedups SKETCH-identical near-dups in-stream: long
    repeated-base texts with a one-token suffix share the 64-bit SimHash
    (the q36 regime), so only the first survives — while exact
    fingerprint dedup would keep all of them."""
    from top_secret_spark.streaming import dedup_stream

    base = ("the quick brown fox jumps over the lazy dog and runs into "
            "the quiet green forest before the sun sets tonight ") * 20
    other = ("completely different content about database engines and "
             "query optimizers shuffling partitions at scale ") * 20
    rows = [
        ("a", base), ("b", base + " v2"), ("c", base + " v3"),
        ("d", other), ("e", "tiny"),
    ]
    src = str(tmp_path / "in_sh")
    spark.createDataFrame(rows, ["clip_id", "transcript"]).write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema(
        "clip_id string, transcript string"
    ).parquet(src)
    out = dedup_stream(stream, key="simhash")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_sh")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sh"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180) is True
    got = spark.sql("select * from dedup_stream_sh").collect()
    # one survivor from the {a,b,c} sketch-identical family + d + e
    assert len(got) == 3
    kept = {r["clip_id"] for r in got}
    assert len(kept & {"a", "b", "c"}) == 1 and {"d", "e"} <= kept

    with pytest.raises(ValueError, match="key"):
        dedup_stream(stream, key="md5")


def test_dedup_stream_rejects_batch_frame(spark):
    from top_secret_spark.streaming import dedup_stream

    with pytest.raises(ValueError, match="streaming"):
        dedup_stream(clips_df(spark, 5, with_audio=False))


def test_dedup_stream_state_ttl_validation(spark, tmp_path):
    import pytest

    from top_secret_spark.streaming import dedup_stream

    src = str(tmp_path / "ttl_src")
    spark.createDataFrame([("x",)], ["transcript"]).write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema("transcript string").parquet(src)
    for bad in ("1 fortnight", "90s", "soon", "0 seconds", -5):
        with pytest.raises(ValueError):
            dedup_stream(stream, state_ttl=bad)
    # int milliseconds and day units are accepted at plan time
    dedup_stream(stream, state_ttl=60_000)
    dedup_stream(stream, state_ttl="1 day")


def test_audio_gate_streams(spark, tmp_path):
    """The audio-quality gate is map-only (one mapInPandas + Catalyst
    CASE), so it lifts to Structured Streaming unchanged: streamed
    decisions must equal the batch run row-for-row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from top_secret_spark.operators.audio import with_audio_keep_drop
    from top_secret_spark.sources.clips import (
        gate_clips_df,
        gate_rows_for_range,
    )

    src = str(tmp_path / "gate_in")
    os.makedirs(src)
    pq.write_table(
        pa.Table.from_pandas(gate_rows_for_range(0, 60)),
        os.path.join(src, "part-0.parquet"),
    )
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    stream = spark.readStream.schema(schema).parquet(src)
    out = with_audio_keep_drop(stream).select("clip_id", "audio_drop_reason")
    q = (
        out.writeStream.format("memory")
        .queryName("gate_stream")
        .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = {r["clip_id"]: r["audio_drop_reason"]
           for r in spark.sql("select * from gate_stream").collect()}
    exp = {r["clip_id"]: r["audio_drop_reason"]
           for r in with_audio_keep_drop(gate_clips_df(spark, 60))
           .select("clip_id", "audio_drop_reason").collect()}
    assert len(got) == 60
    assert got == exp


def test_ingest_dedup_stream_drops_corpus_and_stream_dups(spark, tmp_path):
    """Stream-static anti-join vs the bucketed corpus index, then
    first-seen-wins: corpus-known transcripts never emit, within-stream
    dups emit once."""
    import pandas as pd

    from top_secret_spark.sources.bucketed import (
        read_table,
        write_fingerprint_index,
    )
    from top_secret_spark.streaming import ingest_dedup_stream

    corpus = spark.createDataFrame(
        [(i, f"already ingested text {i}") for i in range(10)],
        "doc_id long, text string",
    )
    write_fingerprint_index(
        corpus, "b_stream_idx", 4, path=str(tmp_path / "b_stream_idx")
    )
    src = str(tmp_path / "in_ingest")
    os.makedirs(src)
    rows = pd.DataFrame(
        {
            "clip_id": [f"s-{i}" for i in range(6)],
            "transcript": [
                "already ingested text 3",      # corpus dup (drop)
                "  Already ingested TEXT 7 ",   # normalized corpus dup (drop)
                "fresh stream text A",          # keep
                "fresh stream text A",          # within-stream dup (drop)
                "fresh stream text B",          # keep
                "already ingested text 3",      # corpus dup again (drop)
            ],
        }
    )
    rows.to_parquet(os.path.join(src, "part-0.parquet"))
    try:
        stream = spark.readStream.schema(
            "clip_id string, transcript string"
        ).parquet(src)
        out = ingest_dedup_stream(
            stream, read_table(spark, "b_stream_idx"), state_ttl=None
        )
        q = (
            out.writeStream.format("memory")
            .queryName("ingest_dedup")
            .option("checkpointLocation", str(tmp_path / "ckpt_ingest"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        got = sorted(
            r["transcript"]
            for r in spark.sql("select * from ingest_dedup").collect()
        )
        assert got == ["fresh stream text A", "fresh stream text B"]
    finally:
        spark.sql("DROP TABLE IF EXISTS b_stream_idx")


def test_ingest_dedup_stream_validates(spark, tmp_path):
    import pandas as pd

    from top_secret_spark.streaming import ingest_dedup_stream

    batch = spark.createDataFrame([(1, "x")], "clip_id long, transcript string")
    with pytest.raises(ValueError, match="streaming"):
        ingest_dedup_stream(batch, batch)
    src = str(tmp_path / "in_val")
    os.makedirs(src)
    pd.DataFrame({"clip_id": ["a"], "transcript": ["t"]}).to_parquet(
        os.path.join(src, "p.parquet")
    )
    stream = spark.readStream.schema(
        "clip_id string, transcript string"
    ).parquet(src)
    with pytest.raises(ValueError, match="fingerprint"):
        ingest_dedup_stream(stream, batch)

def test_audio_prep_transforms_stream(spark, tmp_path):
    """normalized_clips and chunked_clips are stateless map-only
    transforms, so they lift to Structured Streaming unchanged: the
    streamed normalize→chunk chain must equal the batch run
    chunk-for-chunk (ids, payload sizes, transcripts)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from top_secret_spark.operators.audio import chunked_clips, normalized_clips
    from top_secret_spark.sources.clips import (
        loudness_clips_df,
        loudness_rows_for_range,
    )

    src = str(tmp_path / "prep_in")
    os.makedirs(src)
    pq.write_table(
        pa.Table.from_pandas(loudness_rows_for_range(0, 30)),
        os.path.join(src, "part-0.parquet"),
    )
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    stream = spark.readStream.schema(schema).parquet(src)
    out = chunked_clips(normalized_clips(stream), max_dur_ms=40).select(
        "chunk_id", F.length("bytes").alias("nb"), "transcript"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("prep_stream")
        .option("checkpointLocation", str(tmp_path / "prep_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = {r["chunk_id"]: (r["nb"], r["transcript"])
           for r in spark.sql("select * from prep_stream").collect()}
    exp = {r["chunk_id"]: (r["nb"], r["transcript"])
           for r in chunked_clips(
               normalized_clips(loudness_clips_df(spark, 30)), max_dur_ms=40
           ).select("chunk_id", F.length("bytes").alias("nb"),
                    "transcript").collect()}
    # 800 samples at 40 ms/8 kHz -> 3 chunks per clip (320+320+160)
    assert len(got) == 90
    assert got == exp


def test_trim_split_transforms_stream(spark, tmp_path):
    """trimmed_clips and split_clips_on_silence are stateless map-only
    transforms, so they lift to Structured Streaming unchanged: the
    streamed trim→split chain must equal the batch run segment-for-
    segment (ids, payload sizes, transcripts)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from top_secret_spark.operators.audio import (
        split_clips_on_silence,
        trimmed_clips,
    )
    from top_secret_spark.sources.clips import (
        segment_clips_df,
        segment_rows_for_range,
    )

    src = str(tmp_path / "seg_in")
    os.makedirs(src)
    pq.write_table(
        pa.Table.from_pandas(segment_rows_for_range(0, 32)),
        os.path.join(src, "part-0.parquet"),
    )
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    stream = spark.readStream.schema(schema).parquet(src)
    out = split_clips_on_silence(trimmed_clips(stream), min_gap_ms=25).select(
        "seg_id", F.length("bytes").alias("nb"), "transcript"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("seg_stream")
        .option("checkpointLocation", str(tmp_path / "seg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = {r["seg_id"]: (r["nb"], r["transcript"])
           for r in spark.sql("select * from seg_stream").collect()}
    exp = {r["seg_id"]: (r["nb"], r["transcript"])
           for r in split_clips_on_silence(
               trimmed_clips(segment_clips_df(spark, 32)), min_gap_ms=25
           ).select("seg_id", F.length("bytes").alias("nb"),
                    "transcript").collect()}
    assert got == exp
    # 32 rows: 8 two_utterances clips (r%4==1) yield 2 segments each
    assert len(got) == 40


def test_dedup_stream_explicit_fp_col_drops_stale_column(spark, tmp_path):
    """fingerprint_col_name pointing at a DIFFERENT column must not
    collide with a stale column literally named 'fingerprint'."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from top_secret_spark.streaming import dedup_stream

    src = str(tmp_path / "stale_in")
    os.makedirs(src)
    pq.write_table(
        pa.Table.from_arrays(
            [pa.array([1, 2], pa.int64()),
             pa.array(["a text", "a text"]),
             pa.array([111, 222], pa.int64()),   # stale junk
             pa.array([7, 7], pa.int64())],      # real precomputed key
            names=["doc_id", "transcript", "fingerprint", "fp"],
        ),
        os.path.join(src, "part-0.parquet"),
    )
    schema = ("doc_id long, transcript string, fingerprint long, fp long")
    stream = spark.readStream.schema(schema).parquet(src)
    out = dedup_stream(stream, state_ttl=None, fingerprint_col_name="fp")
    q = (out.writeStream.format("memory").queryName("stale_fp")
         .option("checkpointLocation", str(tmp_path / "stale_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None
    rows = spark.sql("select * from stale_fp").collect()
    assert len(rows) == 1          # deduped on the real key
    assert rows[0]["fingerprint"] == 7


def test_augmentation_transforms_stream(spark, tmp_path):
    """noise_mixed_clips and time_masked_clips are stateless map-only
    transforms keyed on row properties, so the streamed noise→mask
    chain must equal the batch run BYTE-FOR-BYTE — augmentation in a
    streaming ingest pipeline is reproducible against a batch audit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from top_secret_spark.operators.audio import (
        noise_mixed_clips,
        time_masked_clips,
    )
    from top_secret_spark.sources.clips import (
        spectral_clips_df,
        spectral_rows_for_range,
    )

    src = str(tmp_path / "aug_in")
    os.makedirs(src)
    pq.write_table(
        pa.Table.from_pandas(spectral_rows_for_range(0, 24)),
        os.path.join(src, "part-0.parquet"),
    )
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    stream = spark.readStream.schema(schema).parquet(src)
    out = time_masked_clips(
        noise_mixed_clips(stream, snr_db=20.0), mask_ms=50
    ).select("clip_id", F.xxhash64("bytes").alias("h"))
    q = (
        out.writeStream.format("memory")
        .queryName("aug_stream")
        .option("checkpointLocation", str(tmp_path / "aug_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = {r["clip_id"]: r["h"]
           for r in spark.sql("select * from aug_stream").collect()}
    exp = {r["clip_id"]: r["h"]
           for r in time_masked_clips(
               noise_mixed_clips(spectral_clips_df(spark, 24), snr_db=20.0),
               mask_ms=50,
           ).select("clip_id", F.xxhash64("bytes").alias("h")).collect()}
    assert len(got) == 24
    assert got == exp


def test_transcode_transforms_stream(spark, tmp_path):
    """transcode_clips is a stateless map-only transform, so the
    streamed codec-normalization (mixed pcm16/ulaw/alaw → ulaw) must
    equal the batch run BYTE-FOR-BYTE — a streaming ingest can
    normalize codecs with the same audit story as a batch job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from top_secret_spark.operators.audio import transcode_clips
    from top_secret_spark.sources.clips import (
        transcode_clips_df,
        transcode_rows_for_range,
    )

    src = str(tmp_path / "tc_in")
    os.makedirs(src)
    pq.write_table(
        pa.Table.from_pandas(transcode_rows_for_range(0, 30)),
        os.path.join(src, "part-0.parquet"),
    )
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    stream = spark.readStream.schema(schema).parquet(src)
    out = transcode_clips(stream, "ulaw").select(
        "clip_id", "codec", F.xxhash64("bytes").alias("h")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("tc_stream")
        .option("checkpointLocation", str(tmp_path / "tc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    rows = spark.sql("select * from tc_stream").collect()
    assert len(rows) == 30 and all(r["codec"] == "ulaw" for r in rows)
    got = {r["clip_id"]: r["h"] for r in rows}
    exp = {r["clip_id"]: r["h"]
           for r in transcode_clips(transcode_clips_df(spark, 30), "ulaw")
           .select("clip_id", F.xxhash64("bytes").alias("h")).collect()}
    assert got == exp


def test_keep_drop_counters_watermark_drops_late_rows(spark, tmp_path):
    """EXECUTED watermark semantics, not just the plan: four files
    processed one per micro-batch (mtime-ordered).  File 1 fills window
    W1; file 2 jumps 5 min ahead (advancing the watermark past W1 + 2
    min); file 3 lets the advanced watermark take effect (W1 evicts and
    append mode emits it); file 4 carries a LATE row back inside W1 —
    beyond the watermark with the window state gone, it must be dropped
    (numRowsDroppedByWatermark = 1) and excluded from W1's finalized
    counts.  (A late row arriving in the SAME batch that evicts its
    window still merges — the one-batch watermark lag is documented
    Structured Streaming behavior — hence the dedicated batch.)"""
    import datetime as dt
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from top_secret_spark.streaming import keep_drop_counters

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    src = str(tmp_path / "wm_in")
    _os.makedirs(src)

    def write(name, rows, mtime):
        t = pa.Table.from_pydict({
            "ts": pa.array([r[0] for r in rows],
                           type=pa.timestamp("us")),
            "drop_reason": pa.array([r[1] for r in rows],
                                    type=pa.string()),
        })
        fp = _os.path.join(src, name)
        pq.write_table(t, fp)
        _os.utime(fp, (mtime, mtime))

    now = _time.time()
    w1 = [(base + dt.timedelta(seconds=s), None) for s in (0, 5, 10, 20, 30)]
    w1 += [(base + dt.timedelta(seconds=40), "too_short"),
           (base + dt.timedelta(seconds=50), "toxicity")]
    write("f1.parquet", w1, now - 40)
    write("f2.parquet",
          [(base + dt.timedelta(minutes=5), None)], now - 30)
    write("f3.parquet",
          [(base + dt.timedelta(minutes=5, seconds=10), None)], now - 20)
    # late row back inside W1, its own batch, AFTER W1's state evicted
    write("f4.parquet",
          [(base + dt.timedelta(seconds=15), None)], now - 10)

    stream = (
        spark.readStream.schema("ts timestamp, drop_reason string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        keep_drop_counters(stream)
        .writeStream.format("memory")
        .queryName("wm_counters")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress for so in p["stateOperators"]
    )
    assert dropped == 1  # exactly the late W1 row
    got = {
        (r["window_start"], r["drop_reason"]): r["n"]
        for r in spark.sql("select * from wm_counters").collect()
        if r["window_start"] == base
    }
    # finalized W1: 5 on-time keeps (late 6th EXCLUDED), 1 + 1 drops
    assert got[(base, "keep")] == 5
    assert got[(base, "too_short")] == 1
    assert got[(base, "toxicity")] == 1


def test_multimodal_stream_gates_as_clips_land(spark, tmp_path):
    """Streaming lift of the full multimodal pipeline: planted-defect
    clips streamed as two micro-batches must come out with exactly the
    batch pipeline's decisions."""
    from pyspark.sql import functions as F

    from top_secret_spark.sources.clips import (
        CLIPS_SCHEMA_DDL,
        gate_rows_for_range,
    )
    from top_secret_spark.streaming import multimodal_stream

    src = str(tmp_path / "src")
    for j in range(2):
        spark.createDataFrame(
            gate_rows_for_range(24 * j, 24 * (j + 1)), CLIPS_SCHEMA_DDL
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(CLIPS_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        multimodal_stream(stream)
        .writeStream.format("memory")
        .queryName("mm_gate_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["audio_drop_reason"]: r["n"]
        for r in spark.table("mm_gate_sink")
        .groupBy("audio_drop_reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"silent": 8, "clipped": 8, "too_short_audio": 8,
                   "decode_error": 8, None: 16}
    # batch-mode rejection of a non-streaming frame
    import pytest as _pytest

    with _pytest.raises(ValueError, match="streaming"):
        multimodal_stream(spark.range(1))
