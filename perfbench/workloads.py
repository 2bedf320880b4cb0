"""The workloads: the Spark action each timed pass runs, the checks
against planted truth, and the no-Spark replay of the same batches that
the traced run times kernel by kernel."""

from __future__ import annotations

import hashlib
from typing import NamedTuple

import numpy as np
import pandas as pd


def f1(tp: int, fp: int, fn: int) -> float:
    return 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)


def set_f1(found: list, planted: list) -> float:
    tp = fp = fn = 0
    for f, p in zip(found, planted):
        f, p = set(f), set(p)
        tp += len(f & p)
        fp += len(f - p)
        fn += len(p - f)
    return f1(tp, fp, fn)


def digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()


class Check(NamedTuple):
    """One pass's verdict: F1 against planted truth, any failed
    invariant, and a content hash that must repeat across passes."""

    f1: float
    problems: list[str]
    content: str


class FilterText:
    """run_pipeline, text only → keep/drop scored against planted labels."""

    name = "filter_text"
    id_col = "clip_id"
    include_audio = False

    def config(self):
        from top_secret_spark.pipeline import PipelineConfig

        return PipelineConfig(include_audio=self.include_audio)

    def extra_cols(self):
        return []

    def action(self, spark, df) -> pd.DataFrame:
        from pyspark.sql import functions as F

        from top_secret_spark.pipeline import run_pipeline

        out = run_pipeline(df, self.config())
        h = F.xxhash64("keep", "drop_reason", "lang", "ppl", "scrubbed", "mapping")
        return out.select(self.id_col, "keep", *self.extra_cols(),
                          h.alias("h")).toPandas()

    def check(self, out: pd.DataFrame, truth: dict) -> Check:
        out = out.sort_values(self.id_col)
        keep = out["keep"].to_numpy(dtype=bool)
        planted = truth["keep"]
        if len(keep) != len(planted):
            return Check(0.0, [f"{len(keep)} rows out, {len(planted)} in"], "")
        score = f1(int((keep & planted).sum()), int((keep & ~planted).sum()),
                   int((~keep & planted).sum()))
        return Check(score, self.extra_problems(out, truth),
                     digest(out[self.id_col].to_numpy(), keep, out["h"].to_numpy()))

    def extra_problems(self, out, truth) -> list[str]:
        return []

    def warm(self, spark, df) -> None:
        self.action(spark, df)

    def stats(self, spark, df) -> dict:
        return {}

    def replay(self, batch: pd.DataFrame, tracer) -> None:
        from top_secret_spark.operators.fused import fused_text_frame

        cfg = self.config()
        with tracer.span("operators.fused"):
            fused_text_frame(batch["transcript"], None, cfg.scrub, cfg.thresholds)


class FilterAudio(FilterText):
    """run_pipeline(include_audio=True): decode + features + text."""

    name = "filter_audio"
    include_audio = True

    def extra_cols(self):
        return ["decode_ok", "dur_ms_measured", "rms"]

    def extra_problems(self, out, truth) -> list[str]:
        problems = []
        if not out["decode_ok"].all():
            problems.append("decode_ok false on a valid clip")
        if (out["dur_ms_measured"].to_numpy() != truth["dur_ms"]).any():
            problems.append("measured duration differs from planted")
        rel = np.abs(out["rms"].to_numpy() - truth["rms"]) / truth["rms"]
        if rel.max() > 0.01:
            problems.append(f"rms off planted by {rel.max():.3%}")
        return problems

    def replay(self, batch: pd.DataFrame, tracer) -> None:
        from top_secret_spark.operators.audio import append_audio_feature_columns
        from top_secret_spark.operators.fused import fused_text_frame

        cfg = self.config()
        with tracer.span("operators.audio"):
            out = append_audio_feature_columns(batch.copy())
        with tracer.span("operators.fused"):
            fused_text_frame(out["transcript"], None, cfg.scrub, cfg.thresholds)


class ScrubDedup:
    """One document corpus, two actions per pass: with_scrub →
    with_restore, then near_duplicates_minhash."""

    name = "scrub_dedup"
    threshold = 0.8

    def _scrub(self, df) -> pd.DataFrame:
        from pyspark.sql import functions as F

        from top_secret_spark.kernel.filters import NORTH_STAR_CONFIG
        from top_secret_spark.operators.scrub import with_restore, with_scrub

        out = with_restore(with_scrub(df, NORTH_STAR_CONFIG, text_col="text"),
                           text_col="scrubbed")
        return out.select(
            "doc_id",
            (F.col("restored_text") == F.col("text")).alias("ok"),
            F.col("mapping.value").alias("values"),
            F.xxhash64("scrubbed", "mapping").alias("h"),
        ).toPandas()

    def action(self, spark, df):
        from top_secret_spark.operators.dedup import near_duplicates_minhash

        pairs = near_duplicates_minhash(
            df, threshold=self.threshold, collapse_exact="auto").toPandas()
        return self._scrub(df), pairs

    def warm(self, spark, df) -> None:
        """Every Python UDF of the pass, in one job each — the LSH joins
        and checkpoint of near_duplicates_minhash add JVM jobs, not
        Python worker set-up."""
        from top_secret_spark.operators.dedup import with_minhash

        self._scrub(df)
        with_minhash(df).select("minhash").toPandas()

    def check(self, out, truth: dict) -> Check:
        scrubbed, pairs = out
        scrubbed = scrubbed.sort_values("doc_id")
        if len(scrubbed) != len(truth["pii"]):
            return Check(0.0, [f"{len(scrubbed)} rows out, {len(truth['pii'])} in"], "")
        problems = []
        if not scrubbed["ok"].all():
            problems.append(f"{int((~scrubbed['ok']).sum())} rows did not restore")
        pairs = pairs.sort_values(["a", "b"])
        found = list(zip(pairs["a"].tolist(), pairs["b"].tolist()))
        score = min(set_f1([list(v) for v in scrubbed["values"]], truth["pii"]),
                    set_f1([found], [truth["pairs"]]))
        return Check(score, problems, digest(
            scrubbed["doc_id"].to_numpy(), scrubbed["h"].to_numpy(),
            pairs["a"].to_numpy(), pairs["b"].to_numpy(),
            pairs["est_jaccard"].to_numpy()))

    def stats(self, spark, df) -> dict:
        from top_secret_spark.operators.dedup import near_duplicates_minhash

        stats: dict = {}
        n = near_duplicates_minhash(df, threshold=self.threshold,
                                    collapse_exact="auto", stats=stats).count()
        cand = stats.get("n_candidate_pairs", 0)
        return {"operators.dedup.candidate_pairs": float(cand),
                "operators.dedup.verified_ratio": n / cand if cand else 0.0,
                "collapsed_exact": stats.get("collapsed_exact")}

    def replay(self, batch: pd.DataFrame, tracer) -> None:
        from top_secret_spark.kernel.filters import NORTH_STAR_CONFIG
        from top_secret_spark.operators.dedup import make_minhash_udf
        from top_secret_spark.operators.scrub import make_scrub_udf, restore_udf

        with tracer.span("operators.scrub.scrub"):
            res = make_scrub_udf(NORTH_STAR_CONFIG).func(batch["text"])
        with tracer.span("operators.scrub.restore"):
            restore_udf.func(res["scrubbed"], res["mapping"])
        with tracer.span("operators.dedup.minhash"):
            make_minhash_udf().func(batch["text"])


WORKLOADS = {w.name: w for w in (FilterText(), FilterAudio(), ScrubDedup())}


# --- kernel spans for the no-Spark replay ------------------------------
#
# (module, attribute, span name).  The fused frame imports its kernels
# at call time and the scrub operator binds them at import, so both
# bindings are wrapped.
KERNEL_CALLS = [
    ("top_secret_spark.kernel.langid", "detect_batch", "kernel.langid.detect_s"),
    ("top_secret_spark.kernel.perplexity", "perplexity_batch", "kernel.perplexity.score_s"),
    ("top_secret_spark.kernel.quality", "batch_char_signals", "kernel.quality.char_signals_s"),
    ("top_secret_spark.kernel.quality", "dup_line_frac", "kernel.quality.row_loops_s"),
    ("top_secret_spark.kernel.quality", "top_bigram_frac", "kernel.quality.row_loops_s"),
    ("top_secret_spark.kernel.quality", "keep_drop_vector", "kernel.quality.keep_drop_s"),
    ("top_secret_spark.kernel.scrub", "scrub_batch", "kernel.scrub.scrub_s"),
    ("top_secret_spark.operators.scrub", "scrub_batch", "kernel.scrub.scrub_s"),
    ("top_secret_spark.operators.scrub", "restore_text", "kernel.scrub.restore_s"),
]


class KernelSpans:
    """Context manager: wraps KERNEL_CALLS in tracer spans and counts the
    rows each kernel saw; restores the originals on exit."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.counts = {"non_ascii": 0, "char_docs": 0, "scrub_rows": 0,
                       "scrub_hits": 0}
        self._saved = []

    def _wrap(self, attr, span, fn):
        traced = self.tracer.wrap(span, fn)
        c = self.counts
        if attr == "batch_char_signals":
            def counted(texts):
                vals = texts.tolist() if hasattr(texts, "tolist") else list(texts)
                c["char_docs"] += len(vals)
                c["non_ascii"] += sum(not (t or "").isascii() for t in vals)
                return traced(texts)
            return counted
        if attr == "scrub_batch":
            def counted(texts, *args, **kwargs):
                outputs, mappings = traced(texts, *args, **kwargs)
                c["scrub_rows"] += len(mappings)
                c["scrub_hits"] += sum(1 for m in mappings if m)
                return outputs, mappings
            return counted
        return traced

    def __enter__(self):
        import importlib

        for mod_name, attr, span in KERNEL_CALLS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(attr, span, fn))
        return self

    def __exit__(self, *exc):
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved = []
