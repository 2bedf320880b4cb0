"""Distributed n-gram language-model fitting + corpus-fit perplexity.

The built-in perplexity scorer (``kernel.perplexity``) reads hashed
char-n-gram count tables built from an embedded seed corpus.  That is
the right default for a *language fluency* gate, but quality-filter
pipelines also want the DSIR-style move: fit the model ON a trusted
in-domain corpus and score candidates against it, so "low perplexity"
means "looks like OUR data", not "looks like English".

Fit shape at 10^12 rows: each Arrow batch counts its texts into three
fixed-size hashed vectors (``kernel.perplexity.count_ngrams`` — the
same counting core the built-in model uses, in-document n-grams only,
so partials over ANY partitioning sum to exactly the single-machine
count), emits at most 3 x buckets (n, bucket, cnt) rows, and ONE
groupBy sums them with map-side partial aggregation.  The result is
dimension-bounded (<= 3 x buckets rows regardless of corpus size), so
collecting it to the driver and broadcasting the numpy tables to the
scoring stage is safe by construction — the same bounded-fit posture
as ``operators.importance`` (DSIR).

Reference parity note: thoughtbot/top_secret has no LM surface; this
module is part of the driver-mandated quality-filter tier (north rule:
"batched n-gram hash + KenLM-style perplexity scorer").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.perplexity import BUCKETS

MAX_FIT_BUCKETS = 1 << 20


def fit_ngram_counts(
    df: DataFrame, text_col: str = "text", buckets: int = BUCKETS
) -> DataFrame:
    """Hashed n-gram counts of the corpus → (n, bucket, cnt) rows.

    Map-side: one ``count_ngrams`` pass per Arrow batch, emitting only
    NON-ZERO buckets (<= 3 x buckets rows per batch).  Reduce-side: one
    groupBy(n, bucket) sum — partial aggregation makes the shuffle
    carry per-mapper partials, never per-document rows.  Output is
    dimension-bounded: <= 3 x buckets rows total at any corpus size.
    """
    if not 1 <= buckets <= MAX_FIT_BUCKETS:
        raise ValueError(
            f"buckets must be in [1, {MAX_FIT_BUCKETS}], got {buckets} "
            "(the fit is collected and broadcast; keep it bounded)"
        )

    def partials(iterator):
        from ..kernel.perplexity import count_ngrams, normalize_batch

        for pdf in iterator:
            texts = normalize_batch(pdf[text_col].tolist())
            vecs = count_ngrams(texts, buckets=buckets)
            frames = []
            for n, c in enumerate(vecs, start=1):
                nz = np.flatnonzero(c)
                if len(nz):
                    frames.append(pd.DataFrame({
                        "n": np.full(len(nz), n, dtype=np.int32),
                        "bucket": nz.astype(np.int64),
                        "cnt": c[nz].astype(np.int64),
                    }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    rows = df.mapInPandas(partials, schema="n int, bucket bigint, cnt bigint")
    return (
        rows.groupBy("n", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        # the fit's hash space rides WITH the counts so the collect
        # step cannot silently assemble tables of a different width
        .withColumn("buckets", F.lit(int(buckets)))
    )


def collect_ngram_tables(
    counts: DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """Materialize a ``fit_ngram_counts`` result into the (c1, c2, c3,
    total1) tuple ``kernel.perplexity.perplexity_batch`` consumes.
    The table width comes from the fit itself (the ``buckets`` column
    ``fit_ngram_counts`` stamps) — scoring derives its hash space from
    the table size, so a mismatched width would silently mis-hash
    every probe; carrying it with the counts makes that unexpressible.
    Driver memory is bounded by the fit width (<= 3 x buckets rows),
    not by the corpus."""
    rows = counts.collect()
    if not rows:
        raise ValueError("empty fit: no n-gram counts to collect")
    widths = {int(r["buckets"]) for r in rows}
    if len(widths) != 1:
        raise ValueError(f"mixed fit widths in counts: {sorted(widths)}")
    buckets = widths.pop()
    c = [np.zeros(buckets, dtype=np.float32) for _ in range(3)]
    for r in rows:
        n, b, k = int(r["n"]), int(r["bucket"]), float(r["cnt"])
        if not 1 <= n <= 3 or not 0 <= b < buckets:
            raise ValueError(f"counts row outside fit dimensions: {r}")
        c[n - 1][b] = k
    return c[0], c[1], c[2], float(c[0].sum())


def with_perplexity_from(
    df: DataFrame,
    model: tuple,
    text_col: str = "text",
    out_col: str = "ppl_fit",
) -> DataFrame:
    """Score ``text_col`` against a FITTED model (the
    ``collect_ngram_tables`` tuple): same hash space, normalization,
    and interpolation as the built-in scorer, different tables.  The
    tables ride the task closure (3 x buckets float32 — ~0.75 MB at
    the default 2^16, broadcast once per executor)."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    c1, c2, c3, total1 = model
    c1 = np.ascontiguousarray(c1, dtype=np.float32)
    c2 = np.ascontiguousarray(c2, dtype=np.float32)
    c3 = np.ascontiguousarray(c3, dtype=np.float32)
    total1 = float(total1)

    @pandas_udf(T.DoubleType())
    def score(texts: pd.Series) -> pd.Series:
        from ..kernel.perplexity import perplexity_batch

        return pd.Series(
            perplexity_batch(texts.tolist(), model=(c1, c2, c3, total1))
        )

    return df.withColumn(out_col, score(F.col(text_col)))
