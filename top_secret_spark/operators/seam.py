"""The one Arrow crossing of a batch operator that carries its input.

Most batch operators share one shape: every input column rides through
unchanged (or rewritten in place), a few are dropped, and a few new
columns are appended, all computed by numpy kernels over one Arrow
batch at a time.  :func:`map_batches` writes that shape once: the
output schema, the collision check and the per-batch loop.  Operators
supply only the batch function.

Operators that read one or two columns and return a struct go through
:func:`with_struct_udf` instead: a scalar ``pandas_udf`` sends only its
argument columns across, not the whole row.
"""

from __future__ import annotations

from typing import Callable, Iterable, Mapping

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


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


def struct_udf(fn: Callable[..., pd.DataFrame], returns: T.StructType):
    """A fresh scalar ``pandas_udf`` over ``fn(*series) -> DataFrame``.

    Build one per plan, never at import: pyspark binds a UDF's JVM
    function to the SparkContext that first runs it, so a reused UDF
    object would report to a stopped context's accumulator server on a
    later one.  ``.func(*series)`` runs ``fn`` without Spark."""

    def run(*cols: pd.Series) -> pd.DataFrame:
        return fn(*cols)

    return pandas_udf(run, returns)


def with_struct_udf(
    df: DataFrame,
    fn: Callable[..., pd.DataFrame],
    returns: T.StructType,
    args: Iterable[str | Column],
    names: Mapping[str, str] | None = None,
) -> DataFrame:
    """The column-UDF twin of :func:`map_batches`: one scalar
    ``pandas_udf`` (one ArrowEvalPython node) over ``args``, whose
    ``returns`` struct fields become top-level columns.  Only ``args``
    cross the boundary, so scan column pruning still applies.

    ``names`` maps struct field → output column (default: every field
    under its own name).  An output name that is already an input
    column is replaced in place; new names are appended.  The struct
    itself lands in a temporary column named so that it cannot overwrite
    any input column, and is dropped again."""
    names = names or {f: f for f in returns.fieldNames()}
    taken = {c.lower() for c in [*df.columns, *names.values()]}
    tmp = "_struct"
    while tmp in taken:
        tmp = "_" + tmp
    return (
        df.withColumn(tmp, struct_udf(fn, returns)(*args))
        .withColumns(
            {out: F.col(f"{tmp}.{field}") for field, out in names.items()}
        )
        .drop(tmp)
    )
