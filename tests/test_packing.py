"""Sequence packing / distributed prefix sum (operators/packing.py)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from top_secret_spark.operators.packing import (
    pack_sequences,
    with_global_offset,
)


def _reference_offsets(rows):
    """Sequential exclusive prefix sum over (id, value) pairs."""
    out, running = {}, 0
    for i, v in sorted(rows):
        out[i] = running
        running += v or 0
    return out


def test_global_offset_matches_sequential(spark):
    rows = [(i, (i * 7919) % 350 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {r["doc_id"]: r["offset"]
           for r in with_global_offset(df, "doc_id", "n").collect()}
    assert got == _reference_offsets(rows)


def test_global_offset_partition_independent(spark):
    """A global prefix sum is a pure function of (order, value): the
    physical layout the frame arrives in must not matter."""
    rows = [(i, i % 97 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    a = {r["doc_id"]: r["offset"]
         for r in with_global_offset(df.repartition(1), "doc_id", "n").collect()}
    b = {r["doc_id"]: r["offset"]
         for r in with_global_offset(df.repartition(17), "doc_id", "n").collect()}
    assert a == b == _reference_offsets(rows)


def test_global_offset_equals_single_partition_window(spark):
    """Two-phase result == the naive Window.orderBy(no partitionBy)
    reference — the exact operator the two-phase shape replaces."""
    rows = [(i, (i * 31) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    ref = {
        r["doc_id"]: r["o"]
        for r in df.withColumn(
            "o", F.coalesce(F.sum("n").over(w), F.lit(0))
        ).collect()
    }
    got = {r["doc_id"]: r["offset"]
           for r in with_global_offset(df, "doc_id", "n").collect()}
    assert got == ref


def test_global_offset_null_values_count_zero(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5)], "doc_id long, n long"
    )
    got = {r["doc_id"]: r["offset"]
           for r in with_global_offset(df, "doc_id", "n").collect()}
    assert got == {1: 0, 2: 10, 3: 10}


def test_pack_sequences_straddle_semantics(spark):
    """Concat-then-chop: a doc straddling a boundary starts in its
    offset's pack; packs are always full (no padding)."""
    df = spark.createDataFrame(
        [(1, 60), (2, 60), (3, 60)], "doc_id long, n_tokens long"
    )
    got = {r["doc_id"]: (r["pack_id"], r["pack_offset"])
           for r in pack_sequences(df, max_tokens=100).collect()}
    assert got == {1: (0, 0), 2: (0, 60), 3: (1, 20)}
    with pytest.raises(ValueError, match="max_tokens"):
        pack_sequences(df, max_tokens=0)


def test_shard_by_size_matches_sequential_definition(spark):
    """Audio-payload sharding: shard boundaries every shard_bytes of
    cumulative payload in id order, independent of partitioning; each
    shard (except possibly the last) spans at least shard_bytes once its
    straddling row is counted."""
    from top_secret_spark.operators.packing import shard_by_size
    from top_secret_spark.sources.clips import clips_df

    clips = clips_df(spark, 150, with_audio=True)
    sh = shard_by_size(clips, 65536, order_col="clip_id").collect()
    rows = sorted(sh, key=lambda r: r.clip_id)
    cum = 0
    for r in rows:
        assert r.shard_id == cum // 65536, r.clip_id
        assert r.shard_offset == cum % 65536, r.clip_id
        cum += len(r.bytes) if r.bytes is not None else 0
    # partitioning independence
    again = shard_by_size(
        clips.repartition(7), 65536, order_col="clip_id"
    ).collect()
    assert {(r.clip_id, r.shard_id, r.shard_offset) for r in again} == {
        (r.clip_id, r.shard_id, r.shard_offset) for r in rows
    }
    with pytest.raises(ValueError, match="shard_bytes"):
        shard_by_size(clips, 0)


def test_shard_by_size_null_payload_and_size_col(spark):
    from pyspark.sql import functions as F

    from top_secret_spark.operators.packing import shard_by_size

    df = spark.createDataFrame(
        [(0, b"abc"), (1, None), (2, b"defg")], "clip_id long, bytes binary"
    )
    got = {r.clip_id: (r.shard_id, r.shard_offset)
           for r in shard_by_size(df, 4, order_col="clip_id").collect()}
    # NULL payload counts 0 bytes and rides along in place
    assert got == {0: (0, 0), 1: (0, 3), 2: (0, 3)}
    # explicit size column overrides payload length
    df2 = spark.createDataFrame(
        [(0, 5), (1, 5), (2, 5)], "clip_id long, n_chars int"
    )
    got2 = {r.clip_id: r.shard_id for r in
            shard_by_size(df2, 6, order_col="clip_id",
                          size_col="n_chars").collect()}
    assert got2 == {0: 0, 1: 0, 2: 1}


def _executions(spark):
    """Every SQL execution of the session so far, from the status store
    (works with the UI disabled)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    return list(conv.asJava(store.executionsList()))


def _plan_blocks(executions):
    """(node name, 'Input/Output [..]' line, 'Arguments:' line) of every
    node in the formatted final plans of ``executions`` — the eager
    checkpoint job and the totals collect included, which the result's
    own plan does not show."""
    import re

    out = []
    for ex in executions:
        for block in ex.physicalPlanDescription().split("\n\n"):
            lines = block.strip().split("\n")
            m = re.match(r"\(\d+\) (.+)", lines[0])
            if not m:
                continue
            cols = next((ln for ln in lines
                         if ln.startswith(("Input [", "Output ["))), "")
            args = next((ln for ln in lines
                         if ln.startswith("Arguments:")), "")
            out.append((m.group(1).strip(), cols, args))
    return out


@pytest.mark.parametrize("op", ["pack_audio", "shard"])
def test_payload_stays_out_of_prefix_sum(spark, op):
    """The payload never rides the prefix sum's range exchange, its
    `_pid` exchanges or its checkpoint, and the checkpoint block left
    cached after the call is a small fraction of the payload."""
    import numpy as np

    from top_secret_spark.kernel.audio import encode
    from top_secret_spark.operators.audio import pack_audio_examples
    from top_secret_spark.operators.packing import shard_by_size

    rows = [(f"c{r:04d}",
             bytearray(encode(np.full(6400, 0.1 + 0.01 * r, np.float32),
                              "pcm16")),
             8000, 800, "pcm16", "t") for r in range(40)]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    payload = sum(len(r[1]) for r in rows)
    sc = spark.sparkContext
    rdds_before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    seen = {ex.executionId() for ex in _executions(spark)}
    if op == "pack_audio":
        out = pack_audio_examples(df, 2500, codec="pcm16", sr_hz=8000)
    else:
        out = shard_by_size(df, 65536, order_col="clip_id")
    assert out.collect()
    blocks = _plan_blocks([ex for ex in _executions(spark)
                           if ex.executionId() not in seen])
    prefix = [(name, cols) for name, cols, args in blocks
              if (name.startswith("Exchange")
                  and ("rangepartitioning" in args
                       or "hashpartitioning(_pid#" in args))
              or (name.startswith("Scan ExistingRDD")
                  and "localCheckpoint" in args)]
    kinds = {name.split()[0] for name, _ in prefix}
    assert kinds == {"Exchange", "Scan"}, blocks
    assert all("bytes#" not in cols for _, cols in prefix), prefix
    new = [i for i in sc._jsc.sc().getRDDStorageInfo()
           if i.id() not in rdds_before]
    assert sum(i.memSize() + i.diskSize() for i in new) < payload // 20


def _repeated_key_clips(spark):
    """Two segments of one clip under the same ``clip_id``, as
    split_clips_on_silence emits them."""
    import numpy as np

    from top_secret_spark.kernel.audio import encode

    rows = [(cid, bytearray(encode(np.full(8000, 0.1, np.float32), "pcm16")),
             8000, 1000, "pcm16", "t") for cid in ("c0", "c1", "c1", "c2")]
    return spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")


@pytest.mark.parametrize(
    "op", ["pack_sequences", "pack_audio", "shard", "select"])
def test_repeated_order_key_raises(spark, op):
    """A repeated order key would repeat rows at the offsets' join back
    (duplicated audio in every example), so the call refuses it — also
    when the twins start in different input partitions."""
    from top_secret_spark.operators.audio import pack_audio_examples
    from top_secret_spark.operators.packing import shard_by_size
    from top_secret_spark.operators.sampling import select_until_budget

    clips = _repeated_key_clips(spark).repartition(3)
    docs = spark.createDataFrame(
        [(i % 40, 10) for i in range(41)], "doc_id long, n_tokens long"
    ).repartition(5)
    call = {
        "pack_sequences": lambda: pack_sequences(docs, 100),
        "pack_audio": lambda: pack_audio_examples(
            clips, 2500, codec="pcm16", sr_hz=8000),
        "shard": lambda: shard_by_size(clips, 65536, order_col="clip_id"),
        "select": lambda: select_until_budget(
            docs, 100, "n_tokens", ["n_tokens"]),
    }[op]
    with pytest.raises(ValueError, match="repeats a key"):
        call()


def test_input_changed_between_evaluations_fails(spark, tmp_path):
    """A nondeterministic key whose join back finds no offset fails the
    job instead of silently losing the row."""
    flag = tmp_path / "flag"
    flag.write_text("a")
    path = str(flag)
    suffix = F.udf(
        lambda k: f"{k}{open(path).read()}", "string"
    ).asNondeterministic()
    df = spark.createDataFrame(
        [(f"d{i}", 5) for i in range(6)], "k string, n long"
    ).withColumn("k", suffix(F.col("k")))
    out = with_global_offset(df, "k", "n")
    flag.write_text("b")
    with pytest.raises(Exception, match="has no offset"):
        out.collect()
