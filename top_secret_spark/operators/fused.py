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
corpus + DuckDB oracles); tests/test_pipeline.py assembles the modular
composition as its reference.

The stage has two forms, one batch function.  ``run_pipeline_fused``
is one scalar ``pandas_udf``: the plan is scan → one ArrowEvalPython →
project and only the transcript (plus the entities column, when
injected) crosses, so the scan still prunes.
``run_pipeline_fused_multimodal`` runs audio decode and the same text
batch function inside one ``mapInPandas``.  ``run_pipeline`` picks the
text form for text configs and the multimodal form for every audio
config, with or without injected entities: one Python crossing per
config.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..kernel.filters import DEFAULT_CONFIG, ScrubConfig
from ..kernel.quality import DEFAULT_THRESHOLDS, QualityThresholds
from .scrub import MAPPING_TYPE, entity_lists, mapping_rows
from .seam import map_batches, with_struct_udf

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


def _fused_frame(
    scrub_config: ScrubConfig,
    thresholds: QualityThresholds,
    scrub_dropped: bool,
    counters,
):
    """The stage's batch function ``(texts[, entities]) → FUSED_FIELDS``,
    shared by the text stage and the multimodal stage."""
    scrub_config.all_filters()  # plan-time label validation (op 9)

    def run(texts: pd.Series, entities: pd.Series | None = None) -> pd.DataFrame:
        return fused_text_frame(
            texts, entity_lists(entities), scrub_config, thresholds,
            scrub_dropped, counters,
        )

    return run


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
    import numpy as np

    from ..kernel.langid import detect_batch
    from ..kernel.perplexity import perplexity_batch
    from ..kernel.quality import (
        batch_char_signals,
        batch_top_bigram_frac,
        dup_line_frac,
        keep_drop_vector,
    )
    from ..kernel.scrub import scrub_batch
    from ..kernel.toxicity import toxic_match_counts

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
    tox_v = toxic_match_counts(t) / n_words_v.clip(min=1)
    # dup_line_frac stays per-row but only runs where it can be
    # nonzero (a newline-bearing text); top_bigram_frac is one batch
    # pass over the texts with >= 8 words
    dup_v = np.zeros(n, dtype=np.float64)
    for i in np.flatnonzero(has_nl_v):
        dup_v[i] = dup_line_frac(t[i] or "")
    big_v = batch_top_bigram_frac(t, n_words_v)

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
        rows["mapping"][i] = mapping_rows(mappings[j])
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
    """The text pipeline as one scalar ``pandas_udf`` (one
    ArrowEvalPython node): only ``text_col`` — and ``entities_col``
    when set — crosses the boundary, so the scan still prunes every
    other column.  Appends ``FUSED_FIELDS``."""
    args = [text_col] if entities_col is None else [text_col, entities_col]
    return with_struct_udf(
        clips,
        _fused_frame(scrub_config, thresholds, scrub_dropped, counters),
        FUSED_TYPE,
        args,
    )


def run_pipeline_fused_multimodal(
    clips: DataFrame,
    scrub_config: ScrubConfig = DEFAULT_CONFIG,
    thresholds: QualityThresholds = DEFAULT_THRESHOLDS,
    scrub_dropped: bool = False,
    text_col: str = "transcript",
    counters=None,
    entities_col: str | None = None,
) -> DataFrame:
    """The audio+text pipeline in ONE Arrow crossing: decode → segmented
    audio features → fused text kernel, all inside a single mapInPandas,
    so the transcript (and every carried column) crosses the JVM↔Python
    boundary once.  The batch function reads ``entities_col``, when set,
    from the same batch.  It calls the same batch cores as
    ``with_audio_features`` followed by ``run_pipeline_fused``
    (``set_audio_feature_columns``, ``fused_text_frame``), so the output
    equals that composition by column name — equivalence pytest-gated.

    The plan stays scan → one MapInPandas → project: pushdown/pruning
    still reach the scan, and nothing downstream changes (the audio
    gate and keep/drop fold are Catalyst expressions over the emitted
    columns).  ``bytes`` is consumed and not emitted, as in
    ``with_audio_features``."""
    from .audio import _FEATURES_SCHEMA_SUFFIX, set_audio_feature_columns

    text = _fused_frame(scrub_config, thresholds, scrub_dropped, counters)
    cols = [text_col] if entities_col is None else [text_col, entities_col]

    def run(pdf):
        out = set_audio_feature_columns(pdf)
        frame = text(*(out[c] for c in cols))
        for name in FUSED_FIELDS:
            # .values sidesteps index alignment: both frames are
            # positionally parallel over the same Arrow batch
            out[name] = frame[name].values
        return out

    emits = T.StructType(
        T.DataType.fromDDL(_FEATURES_SCHEMA_SUFFIX).fields + FUSED_TYPE.fields
    )
    return map_batches(clips, run, emits=emits)
