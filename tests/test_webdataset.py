"""WebDataset tar sink/source: byte-reproducibility, layout, roundtrip,
NULL handling, and the size-bound contract."""

import os
import tarfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from top_secret_spark.sinks.webdataset import (
    read_webdataset,
    write_webdataset,
)
from top_secret_spark.sources.clips import clips_df, transcode_clips_df


def test_write_is_deterministic_and_read_roundtrips(spark, tmp_path):
    d = str(tmp_path / "wds")
    clips = clips_df(spark, 60, with_audio=True)
    man1 = {r["shard_id"]: r for r in
            write_webdataset(clips, d, shard_bytes=200_000).collect()}
    man2 = {r["shard_id"]: r for r in
            write_webdataset(clips, d, shard_bytes=200_000).collect()}
    assert man1.keys() == man2.keys()
    for sid in man1:
        assert man1[sid]["sha256"] == man2[sid]["sha256"]
        assert man1[sid]["tar_bytes"] == man2[sid]["tar_bytes"]
    assert sum(r["n_items"] for r in man1.values()) == 60

    a = {r["clip_id"]: r for r in clips.collect()}
    b = {r["clip_id"]: r for r in read_webdataset(spark, d).collect()}
    assert a.keys() == b.keys()
    for k in a:
        pa = bytes(a[k]["bytes"]) if a[k]["bytes"] is not None else None
        pb = bytes(b[k]["bytes"]) if b[k]["bytes"] is not None else None
        assert pa == pb
        for c in ("transcript", "sr_hz", "dur_ms", "codec"):
            assert a[k][c] == b[k][c], (k, c)


def test_tar_layout_sorted_members_pinned_headers(spark, tmp_path):
    d = str(tmp_path / "wds")
    write_webdataset(
        transcode_clips_df(spark, 12), d, shard_bytes=1 << 30
    ).collect()
    tars = [f for f in os.listdir(d) if f.endswith(".tar")]
    assert tars == ["shard-000000.tar"]
    with tarfile.open(os.path.join(d, tars[0])) as tar:
        members = tar.getmembers()
        keys = [m.name.rsplit(".", 1)[0] for m in members]
        assert keys == sorted(keys)  # sample order by key
        for m in members:
            assert m.mtime == 0 and m.uid == 0 and m.gid == 0
            assert m.uname == "" and m.gname == ""
        # each sample: payload ext by codec, then txt, then json
        exts = [m.name.rsplit(".", 1)[1] for m in members[:3]]
        assert exts == ["pcm16", "txt", "json"]


def test_null_payload_and_transcript_roundtrip(spark, tmp_path):
    d = str(tmp_path / "wds")
    rows = [
        Row(clip_id="a", bytes=bytearray(b"\x00\x01"), sr_hz=8000,
            dur_ms=1, codec="pcm16", transcript=None),
        Row(clip_id="b", bytes=None, sr_hz=None, dur_ms=None,
            codec=None, transcript="only text"),
        # no key, no member name: not written
        Row(clip_id=None, bytes=bytearray(b"\x02\x03"), sr_hz=8000,
            dur_ms=1, codec="pcm16", transcript="no key"),
    ]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    write_webdataset(
        spark.createDataFrame(rows, schema), d, shard_bytes=1 << 20
    ).collect()
    got = {r["clip_id"]: r for r in read_webdataset(spark, d).collect()}
    assert got.keys() == {"a", "b"}
    assert bytes(got["a"]["bytes"]) == b"\x00\x01"
    assert got["a"]["transcript"] is None
    assert got["b"]["bytes"] is None
    assert got["b"]["transcript"] == "only text"
    assert got["b"]["sr_hz"] is None and got["b"]["codec"] is None


def test_shard_size_bound_and_validation(spark, tmp_path):
    d = str(tmp_path / "wds")
    clips = transcode_clips_df(spark, 60)
    man = write_webdataset(clips, d, shard_bytes=20_000).collect()
    max_payload = clips.agg(F.max(F.length("bytes"))).collect()[0][0]
    for r in man:
        # offset-based assignment: overflow bounded by ONE payload
        assert r["data_bytes"] <= 20_000 + max_payload
        assert r["n_items"] > 0
    assert len(man) > 1
    with pytest.raises(ValueError, match="no .tar shards"):
        read_webdataset(spark, str(tmp_path / "empty_missing"))


def test_streaming_export_via_foreachbatch(spark, tmp_path):
    """Streaming ingest → WebDataset export: each micro-batch exports
    through foreachBatch(write_webdataset) into its own subdirectory
    (batch-id-keyed so retries overwrite idempotently), and the union
    of all shards roundtrips to exactly the streamed input."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "shards")
    os.makedirs(out)
    clips = transcode_clips_df(spark, 40)
    clips.write.mode("overwrite").parquet(src)

    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    stream = spark.readStream.schema(schema).parquet(src)

    def export(batch_df, batch_id):
        d = os.path.join(out, f"batch-{batch_id:05d}")
        os.makedirs(d, exist_ok=True)
        write_webdataset(batch_df, d, shard_bytes=100_000).collect()

    q = (
        stream.writeStream.foreachBatch(export)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None

    batches = sorted(os.listdir(out))
    assert batches
    got = {}
    for b in batches:
        for r in read_webdataset(spark, os.path.join(out, b)).collect():
            got[r["clip_id"]] = r
    exp = {r["clip_id"]: r for r in clips.collect()}
    assert got.keys() == exp.keys()
    for k in exp:
        assert bytes(got[k]["bytes"]) == bytes(exp[k]["bytes"])
        assert got[k]["transcript"] == exp[k]["transcript"]
