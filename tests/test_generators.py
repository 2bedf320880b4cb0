"""The row-range generator contract (sources/clips.py module docstring):
every distributed generator equals its pandas row function, row for
row, column for column, whatever the partitioning."""

import pytest
from pyspark.sql.types import _parse_datatype_string

from top_secret_spark.operators import multimodal as M
from top_secret_spark.sources import clips as C

N_ROWS = 24


def _cases():
    cases = [
        ("clips_df", C.clips_df, C.rows_for_range, C.CLIPS_SCHEMA_DDL),
        ("media_df", M.media_df, M.media_rows_for_range, M.MEDIA_SCHEMA_DDL),
    ]
    for name in sorted(dir(C)):
        if name.endswith("_clips_df"):
            prefix = name[: -len("_clips_df")]
            ddl = (C.STEREO_SCHEMA_DDL if prefix in ("stereo", "turns")
                   else C.CLIPS_SCHEMA_DDL)
            cases.append((name, getattr(C, name),
                          getattr(C, f"{prefix}_rows_for_range"), ddl))
    return cases


CASES = _cases()


def test_every_generator_is_covered():
    assert len(CASES) == 31


@pytest.mark.parametrize(
    "df_fn,rows_fn,ddl", [c[1:] for c in CASES], ids=[c[0] for c in CASES]
)
def test_distributed_generator_equals_row_function(spark, df_fn, rows_fn, ddl):
    df = df_fn(spark, N_ROWS, partitions=3)
    want = rows_fn(0, N_ROWS)
    assert df.schema == _parse_datatype_string(ddl)
    assert df.columns == list(want.columns)
    got = sorted((tuple(r) for r in df.collect()), key=lambda t: t[0])
    assert got == list(want.itertuples(index=False, name=None))


def test_rows_frame_types_come_from_the_ddl():
    pdf = C.rows_frame([("a", b"x", 8000, 5, "pcm16", "t", 2)],
                       C.STEREO_SCHEMA_DDL)
    assert list(pdf.columns) == [n for n, _ in C.ddl_fields(C.STEREO_SCHEMA_DDL)]
    assert [str(pdf[c].dtype) for c in ("sr_hz", "dur_ms", "n_channels")] == [
        "int32", "int32", "int32"]
    empty = C.rows_frame([])
    assert len(empty) == 0 and list(empty.columns) == list(pdf.columns[:-1])

