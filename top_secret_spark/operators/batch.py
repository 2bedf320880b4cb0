"""Distributed batch scrub with globally consistent labels (ops 15-18).

Three stages (SURVEY.md §3.2):
  A. per-message scrub — the op-13 pandas UDF, map-only;
  B. global label assignment — the ONLY shuffle: posexplode mapping
     entries with (msg order, entry order) → groupBy(value, label_type)
     taking min(first_seen) → row_number over
     Window.partitionBy(label_type).orderBy(first_seen);
  C. broadcast the (small) global mapping back and re-substitute each
     ORIGINAL input with op-11 semantics; per-item mapping recovered from
     placeholders present in the output, in global-mapping order.

Scale note (north-rule): the global sequence is inherently a total order
per label type, so this is a bounded-batch API — the right tool for
conversation threads / document collections (the reference's use case,
text.rb:77-92).  At 10^12-clip scale the engine's default is PER-CLIP
numbering (pipeline.py), which needs no shuffle at all.  Stage B's
shuffle is on (value, label_type) — high cardinality, well distributed;
the window per label_type is the serial part, bounded by distinct values
per type.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.filters import DEFAULT_CONFIG, ScrubConfig
from ..kernel.scrub import substitute_text
from .scrub import MAPPING_TYPE, mapping_rows, with_scrub
from .seam import with_struct_udf

_PLACEHOLDER_RE = re.compile(r"\[([^\]]+)\]")


def global_mapping_df(scrubbed: DataFrame, order_col: str = "msg_idx") -> DataFrame:
    """Stage B: (label_type, seq, global_key, value, first_msg, first_entry).

    One shuffle (groupBy value+type), one per-type window.  Replicates
    global_mapping.rb:26-47 + label_sequence.rb:14-25: values numbered by
    first appearance in (message order, entry order); the type comes from
    the key at that first occurrence."""
    # posexplode_outer, NOT posexplode: the non-outer generator makes
    # Catalyst push a size(mapping)>0 pre-filter BELOW the Generate,
    # which references the scrub UDF separately from the projection and
    # splits the plan into TWO ArrowEvalPython stages — the whole scrub
    # would run twice.  Outer explode needs no pre-filter; empty
    # mappings yield one null entry dropped right after, on the already-
    # computed column.
    entries = scrubbed.select(
        F.col(order_col).alias("_msg"),
        F.posexplode_outer("mapping").alias("_entry", "e"),
    ).filter(F.col("e").isNotNull()).select(
        "_msg",
        "_entry",
        F.col("e.key").alias("key"),
        F.col("e.value").alias("value"),
        F.regexp_replace(F.col("e.key"), "_[0-9]+$", "").alias("label_type_of_key"),
    )
    first_seen = entries.groupBy("value").agg(
        F.min(F.struct("_msg", "_entry", "label_type_of_key")).alias("first")
    )
    w = Window.partitionBy("first.label_type_of_key").orderBy(
        "first._msg", "first._entry"
    )
    return first_seen.select(
        F.col("first.label_type_of_key").alias("label_type"),
        F.row_number().over(w).alias("seq"),
        F.col("value"),
        F.col("first._msg").alias("first_msg"),
        F.col("first._entry").alias("first_entry"),
    ).withColumn(
        "global_key", F.concat_ws("_", F.col("label_type"), F.col("seq"))
    )


GLOBAL_ITEM_TYPE = T.StructType(
    [
        T.StructField("output", T.StringType(), False),
        T.StructField("mapping", MAPPING_TYPE, False),
    ]
)


def _global_substitute(global_entries: list[tuple[str, str]]):
    """Stage C batch function: re-substitute originals with the broadcast
    global map (result.rb:47-59).  global_entries is the global mapping
    in insertion order (first-seen order)."""

    def substitute(texts: pd.Series) -> pd.DataFrame:
        outs, maps = [], []
        for text in texts.tolist():
            if text is None:
                outs.append("")
                maps.append([])
                continue
            output = substitute_text(text, global_entries)
            found = set(_PLACEHOLDER_RE.findall(output))
            outs.append(output)
            maps.append(
                mapping_rows((k, v) for k, v in global_entries if k in found)
            )
        return pd.DataFrame({"output": outs, "mapping": maps})

    return substitute


def batch_scrub(
    df: DataFrame,
    config: ScrubConfig = DEFAULT_CONFIG,
    text_col: str = "input",
    order_col: str = "msg_idx",
    entities_col: str | None = None,
    max_global_values: int = 1_000_000,
):
    """Ops 15-18 end-to-end (batch_result.rb:33-39).

    Returns (items_df, global_mapping) where items_df has
    (order_col, input, output, mapping) and global_mapping is the ordered
    [(global_key, value), ...] list.  The global mapping is collected to
    the driver — this is a bounded-batch API by design (see module doc),
    and ``max_global_values`` ENFORCES the bound: the collect is
    limit(max+1), so an oversized corpus costs one extra row and a clear
    error instead of a driver OOM.  Pipelines over unbounded corpora
    should use per-clip numbering (pipeline.py), which needs no global
    state at all.
    """
    scrubbed = with_scrub(df, config, text_col=text_col, entities_col=entities_col)
    gdf = global_mapping_df(scrubbed, order_col=order_col)
    rows = (
        gdf.orderBy("first_msg", "first_entry")
        .limit(max_global_values + 1)
        .collect()
    )
    if len(rows) > max_global_values:
        raise ValueError(
            f"batch_scrub found more than max_global_values="
            f"{max_global_values} distinct sensitive values; a global "
            f"label sequence of that size cannot be broadcast from the "
            f"driver.  Use per-clip numbering (run_pipeline / with_scrub) "
            f"for unbounded corpora, or raise max_global_values if the "
            f"driver has headroom."
        )
    global_entries = [(r["global_key"], r["value"]) for r in rows]

    items = with_struct_udf(
        df.select(order_col, F.col(text_col).alias("input")),
        _global_substitute(global_entries), GLOBAL_ITEM_TYPE, ["input"],
    )
    return items, global_entries
