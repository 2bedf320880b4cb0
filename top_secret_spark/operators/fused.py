"""Fused single-pass pipeline stage: ONE Arrow crossing per batch.

The modular operators (quality.py + features.py + scrub.py), composed,
cross the JVM↔Python boundary twice and compute signals JVM-side.  That
layout is the right default when the heavy work is Catalyst-expressible
— but this pipeline's gating stages (langid, perplexity, scrub) are
irreducibly Python/numpy, so every extra stage just adds an Arrow
round-trip of the full transcript column.  The fused stage computes
everything in one crossing, using the SAME kernel functions the oracles
test, and scrubs only rows that pass keep/drop:

    transcript → (signals, lang, lang_conf, ppl, keep, drop_reason,
                  scrubbed, mapping)

Semantics are identical to the composed modular operators by
construction (both call the kernel; the kernel is pinned by the golden
corpus + DuckDB oracles).  ``run_pipeline`` runs only this stage;
tests/test_pipeline.py assembles the modular composition as its
reference.  At cluster scale the fused stage halves Python-boundary
traffic and leaves the plan scan → one ArrowEvalPython → project, still
fully pushdown/pruning-friendly on the input side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernel.filters import DEFAULT_CONFIG, ScrubConfig
from ..kernel.quality import DEFAULT_THRESHOLDS, QualityThresholds
from .scrub import MAPPING_TYPE

FUSED_TYPE = T.StructType(
    [
        T.StructField("n_chars", T.IntegerType(), False),
        T.StructField("n_words", T.IntegerType(), False),
        T.StructField("symbol_ratio", T.DoubleType(), False),
        T.StructField("digit_ratio", T.DoubleType(), False),
        T.StructField("dup_line_frac", T.DoubleType(), False),
        T.StructField("top_bigram_frac", T.DoubleType(), False),
        T.StructField("toxicity", T.DoubleType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("lang_conf", T.DoubleType(), False),
        T.StructField("ppl", T.DoubleType(), False),
        T.StructField("keep", T.BooleanType(), False),
        T.StructField("drop_reason", T.StringType(), True),
        T.StructField("scrubbed", T.StringType(), True),
        T.StructField("mapping", MAPPING_TYPE, True),
    ]
)

FUSED_FIELDS = [f.name for f in FUSED_TYPE.fields]


def make_fused_udf(
    scrub_config: ScrubConfig = DEFAULT_CONFIG,
    thresholds: QualityThresholds = DEFAULT_THRESHOLDS,
    scrub_dropped: bool = False,
    counters=None,
    with_entities: bool = False,
):
    scrub_config.all_filters()  # plan-time label validation (op 9)

    def _run(texts: pd.Series, ents: list | None) -> pd.DataFrame:
        return fused_text_frame(
            texts, ents, scrub_config, thresholds, scrub_dropped, counters
        )

    if with_entities:

        @pandas_udf(FUSED_TYPE)
        def fused_with_entities(
            texts: pd.Series, entities: pd.Series
        ) -> pd.DataFrame:
            ents = [
                None
                if e is None
                else [
                    {"text": x["text"], "tag": x["tag"], "score": x["score"]}
                    for x in e
                ]
                for e in entities.tolist()
            ]
            return _run(texts, ents)

        return fused_with_entities

    @pandas_udf(FUSED_TYPE)
    def fused(texts: pd.Series) -> pd.DataFrame:
        return _run(texts, None)

    return fused


def fused_text_frame(
    texts: pd.Series,
    ents: list | None,
    scrub_config: ScrubConfig = DEFAULT_CONFIG,
    thresholds: QualityThresholds = DEFAULT_THRESHOLDS,
    scrub_dropped: bool = False,
    counters=None,
) -> pd.DataFrame:
    """One Arrow batch of the fused text pipeline (signals → langid →
    perplexity → keep/drop → scrub-kept-only), shared by the
    ``pandas_udf`` wrapper and the single-crossing multimodal stage.
    Returns a DataFrame with exactly ``FUSED_FIELDS`` columns."""
    import re

    import numpy as np

    from ..kernel.langid import detect_batch
    from ..kernel.perplexity import perplexity_batch
    from ..kernel.quality import (
        batch_char_signals,
        dup_line_frac,
        keep_drop_vector,
        top_bigram_frac,
    )
    from ..kernel.scrub import scrub_batch
    from ..kernel.toxicity import TOXICITY_PATTERN

    t = texts.tolist()
    langs, confs = detect_batch(t)
    ppls = perplexity_batch(t)

    n = len(t)
    # cheap per-char signals: byte-LUT reduceat pass when the batch
    # is pure ASCII, pandas .str regex otherwise (same `re` engine
    # as the kernel scalar twins — semantics identical either way,
    # equivalence pytest-gated)
    s = texts.fillna("")
    n_chars_v, n_words_v, n_alsp_v, n_dig_v, has_nl_v = (
        batch_char_signals(s)
    )
    denom = n_chars_v.clip(min=1)
    symbol_v = (n_chars_v - n_alsp_v) / denom
    digit_v = n_dig_v / denom
    tox_v = (
        s.str.lower().str.count(TOXICITY_PATTERN, flags=re.ASCII).to_numpy()
        / n_words_v.clip(min=1)
    )
    # the two set/dict signals stay per-row but only run where they
    # can be nonzero: dup_line_frac needs a newline, top_bigram_frac
    # needs >= 8 words — most transcripts skip both loops entirely
    dup_v = np.zeros(n, dtype=np.float64)
    for i in np.flatnonzero(has_nl_v):
        dup_v[i] = dup_line_frac(t[i] or "")
    big_v = np.zeros(n, dtype=np.float64)
    for i in np.flatnonzero(n_words_v >= 8):
        big_v[i] = top_bigram_frac(t[i] or "")

    keep_v, reason_v = keep_drop_vector(
        n_chars_v, n_words_v, symbol_v, digit_v, dup_v, big_v, tox_v,
        langs, confs, ppls, thresholds,
    )

    rows = {
        "n_chars": n_chars_v.astype("int32"),
        "n_words": n_words_v.astype("int32"),
        "symbol_ratio": symbol_v,
        "digit_ratio": digit_v,
        "dup_line_frac": dup_v,
        "top_bigram_frac": big_v,
        "toxicity": tox_v,
        "lang": list(langs),
        "lang_conf": np.asarray(confs, dtype=np.float64),
        "ppl": np.asarray(ppls, dtype=np.float64),
        "keep": keep_v,
        "drop_reason": reason_v,
        "scrubbed": [None] * n,
        "mapping": [None] * n,
    }
    to_scrub = (
        list(range(n)) if scrub_dropped else np.flatnonzero(keep_v).tolist()
    )
    outputs, mappings = scrub_batch(
        [t[i] for i in to_scrub],
        None if ents is None else [ents[i] for i in to_scrub],
        scrub_config,
    )
    for j, i in enumerate(to_scrub):
        rows["scrubbed"][i] = outputs[j]
        rows["mapping"][i] = [
            {"key": k, "value": v} for k, v in mappings[j]
        ]
    if counters is not None:
        counters.rows_in.add(n)
        counters.rows_kept.add(int(keep_v.sum()))
        counters.rows_scrubbed.add(len(to_scrub))
    return pd.DataFrame(rows)[FUSED_FIELDS]


def run_pipeline_fused(
    clips: DataFrame,
    scrub_config: ScrubConfig = DEFAULT_CONFIG,
    thresholds: QualityThresholds = DEFAULT_THRESHOLDS,
    scrub_dropped: bool = False,
    text_col: str = "transcript",
    counters=None,
    entities_col: str | None = None,
) -> DataFrame:
    udf = make_fused_udf(
        scrub_config, thresholds, scrub_dropped, counters,
        with_entities=entities_col is not None,
    )
    args = (F.col(text_col),) if entities_col is None else (
        F.col(text_col), F.col(entities_col))
    df = clips.withColumn("_f", udf(*args))
    return df.withColumns(
        {name: F.col(f"_f.{name}") for name in FUSED_FIELDS}
    ).drop("_f")


def run_pipeline_fused_multimodal(
    clips: DataFrame,
    scrub_config: ScrubConfig = DEFAULT_CONFIG,
    thresholds: QualityThresholds = DEFAULT_THRESHOLDS,
    scrub_dropped: bool = False,
    text_col: str = "transcript",
    counters=None,
) -> DataFrame:
    """The audio+text pipeline in ONE Arrow crossing: decode → segmented
    audio features → fused text kernel, all inside a single mapInPandas,
    so the transcript column crosses the JVM↔Python boundary once
    instead of riding a decode crossing AND a text crossing (the
    two-stage layout pays a second worker round-trip plus an Arrow
    ser/deser of every non-audio column per batch).  Calls EXACTLY the
    same batch cores as the two-crossing path
    (``set_audio_feature_columns``, ``fused_text_frame``), so
    semantics are identical by construction — equivalence pytest-gated.

    The plan stays scan → one MapInPandas → project: pushdown/pruning
    still reach the scan, and nothing downstream changes (the audio
    gate and keep/drop fold are Catalyst expressions over the emitted
    columns).  ``bytes`` is consumed and not emitted, as in
    ``with_audio_features``."""
    scrub_config.all_filters()  # plan-time label validation (op 9)
    from .audio import _FEATURES_SCHEMA_SUFFIX, set_audio_feature_columns
    from .seam import map_batches

    def run(pdf):
        out = set_audio_feature_columns(pdf)
        text = fused_text_frame(
            out[text_col], None, scrub_config, thresholds,
            scrub_dropped, counters,
        )
        for name in FUSED_FIELDS:
            # .values sidesteps index alignment: both frames are
            # positionally parallel over the same Arrow batch
            out[name] = text[name].values
        return out

    emits = T.StructType(
        T.DataType.fromDDL(_FEATURES_SCHEMA_SUFFIX).fields + FUSED_TYPE.fields
    )
    return map_batches(clips, run, emits=emits)
