"""The batch-operator seams (operators/seam.py): map_batches' plan-time
collision refusal and ``drop`` applied to both schema and batch, and
with_struct_udf's temporary column never overwriting an input column."""

import pytest
from pyspark.sql import functions as F


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


# every temporary column name the struct-returning operators have used
_TEMP_NAMES = ("_f", "_scrub", "_restore", "_feat", "_g", "_struct")
_TEXTS = [
    "Mail jane.doe@example.com about the annual budget review today.",
    "The committee will meet on Tuesday to review the annual budget.",
]


def _text_op(name):
    from top_secret_spark.operators.features import with_text_features
    from top_secret_spark.operators.scrub import with_restore, with_scrub
    from top_secret_spark.pipeline import run_pipeline

    return {
        "run_pipeline": run_pipeline,
        "with_scrub": with_scrub,
        "with_restore": lambda d: with_restore(with_scrub(d)),
        "with_text_features": with_text_features,
    }[name]


@pytest.mark.parametrize(
    "op", ["run_pipeline", "with_scrub", "with_restore", "with_text_features"]
)
def test_struct_udf_operators_keep_temp_named_input_columns(spark, op):
    """An input column named like an operator's temporary struct column
    survives unchanged, and the operator's own output is unaffected."""
    fn = _text_op(op)
    plain = spark.createDataFrame(
        list(enumerate(_TEXTS)), "clip_id long, transcript string"
    )
    extra = {c: f"{c}-kept" for c in _TEMP_NAMES}
    df = plain.select("*", *(F.lit(v).alias(c) for c, v in extra.items()))
    got = fn(df).orderBy("clip_id").collect()
    want = fn(plain).orderBy("clip_id").collect()
    assert len(got) == len(want) == len(_TEXTS)
    for g, w in zip(got, want):
        g = g.asDict()
        assert {c: g.pop(c) for c in extra} == extra
        assert g == w.asDict()


@pytest.mark.parametrize("order_col", ["_g", "_struct"])
def test_batch_scrub_keeps_temp_named_order_column(spark, order_col):
    from top_secret_spark.operators.batch import batch_scrub

    rows = list(enumerate(_TEXTS))
    items, mapping = batch_scrub(
        spark.createDataFrame(rows, f"{order_col} long, input string"),
        order_col=order_col,
    )
    ref_items, ref_mapping = batch_scrub(
        spark.createDataFrame(rows, "msg_idx long, input string")
    )
    assert items.columns == [order_col, "input", "output", "mapping"]
    assert mapping == ref_mapping
    got = [tuple(r) for r in items.orderBy(order_col).collect()]
    want = [tuple(r) for r in ref_items.orderBy("msg_idx").collect()]
    assert got == want
    assert [r[0] for r in got] == [0, 1]
