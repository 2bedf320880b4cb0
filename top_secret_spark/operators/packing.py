"""Sequence packing for training-data preparation.

GPT-style packing concatenates documents in a fixed order and chops the
stream every ``max_tokens`` — every training sequence is exactly full,
nothing pads.  The primitive underneath is a GLOBAL prefix sum of token
counts in document order, which naive Spark writes as a window over ONE
partition (`Window.orderBy(id)` with no partitionBy — a single task
holding the whole corpus; the classic scale-killer).  This module does
it as the textbook two-phase distributed prefix sum instead:

  1. range-partition by the order column, exclusive prefix sum WITHIN
     each partition (a window over a task-sized group);
  2. per-partition totals — ONE ROW PER PARTITION, thousands at most —
     come back to the driver, their exclusive running sum is the
     partition base offset, and a broadcast join adds base + local.

The only driver-side data is the per-partition totals (bounded by the
partition count, not the data), and the result is partitioning-
independent: a global prefix sum is a pure function of (order, value).

The sum sees only (order, value): ``with_global_offset`` projects that
narrow frame itself and joins the offsets back on the order key, so a
payload never rides the range shuffle or lands in the checkpoint that
freezes it — (key, value, partition, local offset, duplicate flag) per
row in the checkpoint instead of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_global_offset(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "offset",
) -> DataFrame:
    """Append ``out_col`` = exclusive global prefix sum of ``value_col``
    in ``order_col`` order (the first row gets 0); see the module
    docstring for the shape.  ``value_col`` NULLs count as 0; a NULL
    ``order_col`` stays out of the sum and reads a NULL ``out_col``.
    ``order_col`` must be unique: the offsets join back on it, so a
    repeated key raises ValueError.  ``df`` is evaluated twice (the
    narrow sum at call time, then the join back): cache or checkpoint
    an expensive input when storing it beats recomputing it, and a
    nondeterministic one always — a key left without an offset fails
    the job rather than losing its row."""
    val = F.coalesce(F.col(value_col), F.lit(0)).cast("bigint")
    narrow = df.where(F.col(order_col).isNotNull()).select(
        F.col(order_col), val.alias("_v")
    )
    w = Window.partitionBy("_pid").orderBy(order_col)
    # localCheckpoint FREEZES the range partitioning: the per-partition
    # totals job below and the final join are separate actions over this
    # lineage, and RangePartitioner samples its boundaries — without the
    # checkpoint a recomputation could draw different boundaries and the
    # _pid each row saw in phase 1 would not be the _pid it joins its
    # base offset on in phase 2.  Equal keys share a range partition, so
    # `lag` over `w` sees every duplicate.
    d = (
        narrow.repartitionByRange(F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_local", F.coalesce(F.sum("_v").over(
            w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
        .withColumn("_dup", F.lag(order_col).over(w) == F.col(order_col))
        .localCheckpoint(eager=True)
    )
    # one row per partition — bounded by partition count, never by data
    totals = sorted(d.groupBy("_pid").agg(
        F.sum("_v").alias("_t"), F.max("_dup").alias("_dup")
    ).collect(), key=lambda r: r["_pid"])
    if any(r["_dup"] for r in totals):
        raise ValueError(f"with_global_offset: {order_col!r} repeats a key")
    base, running = [], 0
    for r in totals:
        base.append((r["_pid"], running))
        running += int(r["_t"] or 0)
    base_df = d.sparkSession.createDataFrame(base, "_pid int, _base long")
    offs = d.join(F.broadcast(base_df), "_pid").select(
        order_col, (F.col("_base") + F.col("_local")).alias("_goff")
    )
    lost = F.col(order_col).isNotNull() & F.col("_goff").isNull()
    goff = F.when(lost, F.raise_error(F.lit(
        f"with_global_offset: a {order_col!r} key has no offset — the "
        "input changed between its two evaluations"
    ))).otherwise(F.col("_goff"))
    joined = df.join(offs, order_col, "left")
    return joined.select(*df.columns, goff.alias("_goff")).withColumn(
        out_col, F.col("_goff")).drop("_goff")


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    token_col: str = "n_tokens",
    order_col: str = "doc_id",
) -> DataFrame:
    """Assign every document to its GPT-style training pack: documents
    concatenate in ``order_col`` order and the stream is chopped every
    ``max_tokens``.  Appends ``offset`` (global token offset of the
    doc's first token), ``pack_id`` (the pack that first token lands
    in) and ``pack_offset`` (position within that pack).  A document
    whose tokens straddle a boundary starts in ``pack_id`` and spills
    into the next — exactly the concat-then-chop semantics GPT-family
    training uses (no padding, sequences always full).

    The global offsets come from :func:`with_global_offset`; everything
    after is pure Catalyst arithmetic.  A document with a NULL
    ``order_col`` takes no place in the stream: its ``offset``,
    ``pack_id`` and ``pack_offset`` are NULL.  ``order_col`` must be
    unique; ``df`` is evaluated twice (see :func:`with_global_offset`)."""
    if max_tokens <= 0:
        raise ValueError("pack_sequences: max_tokens must be positive")
    out = with_global_offset(df, order_col, token_col)
    # `div`, not `/`: Spark's `/` is double division, which loses
    # integer exactness once offsets pass 2^52 (~4.5e15 tokens — inside
    # the 10^12-doc regime this module targets) and would disagree with
    # the exact bigint `%` below at pack boundaries
    return out.withColumn(
        "pack_id", F.expr(f"offset div {int(max_tokens)}")
    ).withColumn(
        "pack_offset", F.col("offset") % F.lit(int(max_tokens))
    )


def shard_by_size(
    df: DataFrame,
    shard_bytes: int,
    order_col: str = "clip_id",
    size_col: str | None = None,
    payload_col: str = "bytes",
) -> DataFrame:
    """WebDataset-style size-balanced shard assignment: rows
    concatenate in ``order_col`` order and a new shard starts every
    ``shard_bytes`` of cumulative payload.  Appends ``shard_id`` and
    ``shard_offset`` (byte position of the row's first byte within its
    shard).

    A 100-TB corpus ships to trainers as thousands of roughly
    equal-SIZE shards (tar/tfrecord files), not equal-COUNT ones — a
    count split puts 1000 ten-second clips and 1000 one-hour clips in
    "equal" shards and starves/chokes readers.  Assignment is
    offset-based (a row straddling a boundary belongs to the shard its
    first byte lands in), so each shard overflows by at most one row's
    payload — the same no-padding semantics as :func:`pack_sequences`,
    and deterministic: a pure function of (order, sizes), independent
    of partitioning or cluster size.

    ``size_col`` names a precomputed size column; by default the size
    is ``length(payload_col)`` (NULL payloads count 0 and ride along).
    The running total comes from :func:`with_global_offset`; everything
    after is exact bigint Catalyst arithmetic.  A row with a NULL
    ``order_col`` is in no shard: its ``shard_id`` and ``shard_offset``
    are NULL.
    """
    if shard_bytes <= 0:
        raise ValueError("shard_by_size: shard_bytes must be positive")
    size = (F.col(size_col) if size_col is not None
            else F.length(F.col(payload_col)))
    out = with_global_offset(
        df.withColumn("_shard_sz", size), order_col, "_shard_sz",
        out_col="_shard_cum",
    )
    # `div`, not `/`: double division loses bigint exactness past 2^52
    # cumulative bytes (~4.5 PB is out of range, but 2^52 B = 4.5 TB is
    # not) and would disagree with the exact `%` at shard boundaries
    return (
        out.withColumn("shard_id", F.expr(f"_shard_cum div {int(shard_bytes)}"))
        .withColumn("shard_offset", F.col("_shard_cum") % F.lit(int(shard_bytes)))
        .drop("_shard_sz", "_shard_cum")
    )
