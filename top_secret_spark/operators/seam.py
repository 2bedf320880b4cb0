"""The one Arrow crossing of a batch operator that carries its input.

Most batch operators share one shape: every input column rides through
unchanged (or rewritten in place), a few are dropped, and a few new
columns are appended, all computed by numpy kernels over one Arrow
batch at a time.  :func:`map_batches` writes that shape once: the
output schema, the collision check and the per-batch loop.  Operators
supply only the batch function.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_batches(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    emits: str | T.StructType = "",
    drop: Iterable[str] = ("bytes",),
) -> DataFrame:
    """``df.mapInPandas`` whose output schema is the input's columns
    minus ``drop``, in input order, followed by ``emits`` (a DDL string
    or a ``StructType``).  Every output field is nullable.

    ``fn(pdf)`` runs once per Arrow batch.  It returns the batch with
    the ``emits`` columns set: usually ``pdf`` itself, with columns
    assigned in place.  It may rewrite carried columns and may change
    the row count.  The seam then deletes the ``drop`` columns from the
    returned batch in place: the frame is never copied.

    Raises ``ValueError`` at plan time, before any Spark job, when an
    ``emits`` name collides with a carried input column or a ``drop``
    name is not an input column."""
    drop = tuple(drop)
    missing = [c for c in drop if c not in df.columns]
    if missing:
        raise ValueError(f"map_batches: drop names no input column: {missing}")
    if isinstance(emits, str):
        emits = T.DataType.fromDDL(emits) if emits.strip() else T.StructType()
    carried = [f for f in df.schema.fields if f.name not in drop]
    clash = sorted({f.name for f in carried} & set(emits.fieldNames()))
    if clash:
        raise ValueError(
            f"map_batches: emitted columns {clash} collide with input "
            "columns; rename or drop them first"
        )
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in carried + list(emits.fields)
    )

    def run(iterator):
        for pdf in iterator:
            out = fn(pdf)
            for name in drop:
                del out[name]
            yield out

    return df.mapInPandas(run, schema=schema)
