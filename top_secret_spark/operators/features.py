"""Language-ID + perplexity as ONE Arrow stage.

Both models are numpy lookups over shared char-n-gram hashing, so they
are computed in a single pandas UDF — one JVM↔Python Arrow crossing per
batch instead of two.  Model tables are lazy executor-local singletons
(built once per Python worker; a real deployment would ship model files
via spark-submit --files and mmap them in the same place).

[north-rule] stages — BASELINE.json north_star (fastText langid,
KenLM-style perplexity).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .seam import with_struct_udf

FEATURES_TYPE = T.StructType(
    [
        T.StructField("lang", T.StringType(), False),
        T.StructField("lang_conf", T.DoubleType(), False),
        T.StructField("ppl", T.DoubleType(), False),
        T.StructField("top_bigram_frac", T.DoubleType(), False),
    ]
)


def text_features(texts: pd.Series) -> pd.DataFrame:
    """lang / lang_conf / ppl / top_bigram_frac for one Arrow batch."""
    # imports inside the UDF so executors resolve them after --py-files
    from ..kernel.langid import detect_batch
    from ..kernel.perplexity import perplexity_batch
    from ..kernel.quality import batch_char_signals, batch_top_bigram_frac

    t = texts.tolist()
    langs, conf = detect_batch(t)
    ppl = perplexity_batch(t)
    rep = batch_top_bigram_frac(t, batch_char_signals(t)[1])
    return pd.DataFrame(
        {"lang": langs, "lang_conf": conf, "ppl": ppl, "top_bigram_frac": rep}
    )


def with_text_features(df: DataFrame, text_col: str = "transcript") -> DataFrame:
    """Add lang / lang_conf / ppl / top_bigram_frac in one Arrow pass.

    top_bigram_frac rides along here (rather than Catalyst) because
    computing an array mode with higher-order functions is O(n²) per row;
    a batch count inside the already-paid Python stage is O(n log n)."""
    return with_struct_udf(df, text_features, FEATURES_TYPE, [text_col])
