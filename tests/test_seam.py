"""The batch-operator seam (operators/seam.py map_batches): plan-time
collision refusal, and ``drop`` applied to both schema and batch."""

import pytest


def _frame(spark):
    return spark.createDataFrame(
        [("a", b"ab", "pcm16"), ("b", b"cde", "ulaw")],
        "clip_id string, bytes binary, codec string",
    )


def test_emit_colliding_with_carried_column_raises_before_any_job(spark):
    from top_secret_spark.operators.seam import map_batches

    df = _frame(spark)
    sc = spark.sparkContext
    group = "seam-collision-check"
    sc.setJobGroup(group, "map_batches plan-time refusal")
    try:
        with pytest.raises(ValueError, match=r"\['codec'\]"):
            map_batches(df, lambda pdf: pdf, emits="n int, codec string")
        # dropped columns are not carried, so re-emitting one is allowed
        map_batches(df, lambda pdf: pdf, emits="bytes binary", drop=("bytes",))
        with pytest.raises(ValueError, match="drop names no input column"):
            map_batches(df, lambda pdf: pdf, drop=("payload",))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_drop_removes_column_from_schema_and_batch(spark):
    from top_secret_spark.operators.seam import map_batches

    def run(pdf):
        pdf["n_bytes"] = pdf["bytes"].map(len)
        return pdf

    out = map_batches(_frame(spark), run, emits="n_bytes long")
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in out.schema.fields] == [
        ("clip_id", "string", True),
        ("codec", "string", True),
        ("n_bytes", "bigint", True),
    ]
    # a batch that still carried ``bytes`` would not match the schema
    # and fail the task
    got = {r.clip_id: (r.codec, r.n_bytes) for r in out.collect()}
    assert got == {"a": ("pcm16", 2), "b": ("ulaw", 3)}

    kept = map_batches(_frame(spark), run, emits="n_bytes long", drop=())
    assert kept.columns == ["clip_id", "bytes", "codec", "n_bytes"]
    assert sorted(r.n_bytes for r in kept.collect()) == [2, 3]
