"""End-to-end pipeline tests: the F1 >= 0.99 gate (BASELINE.json metric)
comparing the Spark pipeline's keep/drop + scrubbed output clip-by-clip
against reference labels computed by the kernel oracle, plus
partitioning-invariance checks."""

import numpy as np
import pytest

from top_secret_spark.kernel.langid import detect_batch
from top_secret_spark.kernel.perplexity import perplexity_batch
from top_secret_spark.kernel.quality import keep_drop
from top_secret_spark.kernel.scrub import filter_text
from top_secret_spark.pipeline import PipelineConfig, run_pipeline, with_bucket
from top_secret_spark.sources.clips import clips_df, rows_for_range

N = 400


def reference_labels(transcripts):
    """Kernel oracle: the reference keep/drop + scrub labels, computed
    driver-side row-by-row (the ground truth the F1 gate compares to)."""
    langs, confs = detect_batch(transcripts)
    ppls = perplexity_batch(transcripts)
    out = []
    for text, lang, conf, ppl in zip(transcripts, langs, confs, ppls):
        keep, reason = keep_drop(text, lang, float(conf), float(ppl))
        scrubbed, mapping = filter_text(text) if keep else (None, None)
        out.append({"keep": keep, "drop_reason": reason,
                    "scrubbed": scrubbed, "mapping": mapping})
    return out


@pytest.fixture(scope="module")
def pipeline_rows(spark):
    clips = clips_df(spark, N, with_audio=False, partitions=8)
    result = run_pipeline(clips).orderBy("clip_id").collect()
    assert len(result) == N
    return result


@pytest.fixture(scope="module")
def expected():
    pdf = rows_for_range(0, N, with_audio=False)
    return reference_labels(pdf["transcript"].tolist())


def f1(tp, fp, fn):
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def test_keep_drop_f1_gate(pipeline_rows, expected):
    tp = fp = fn = 0
    mismatches = []
    for row, exp in zip(pipeline_rows, expected):
        if row["keep"] and exp["keep"]:
            tp += 1
        elif row["keep"] and not exp["keep"]:
            fp += 1
            mismatches.append((row["clip_id"], row["drop_reason"], exp["drop_reason"]))
        elif not row["keep"] and exp["keep"]:
            fn += 1
            mismatches.append((row["clip_id"], row["drop_reason"], exp["drop_reason"]))
    score = f1(tp, fp, fn)
    assert score >= 0.99, f"F1={score:.4f}, mismatches={mismatches[:10]}"


def test_drop_reasons_match_exactly(pipeline_rows, expected):
    for row, exp in zip(pipeline_rows, expected):
        assert row["drop_reason"] == exp["drop_reason"], row["clip_id"]


def test_scrubbed_text_matches_clip_by_clip(pipeline_rows, expected):
    for row, exp in zip(pipeline_rows, expected):
        assert row["scrubbed"] == exp["scrubbed"], row["clip_id"]
        got_mapping = (
            None if row["mapping"] is None
            else [(e["key"], e["value"]) for e in row["mapping"]]
        )
        assert got_mapping == exp["mapping"], row["clip_id"]


def test_row_mix_exercises_all_reasons(expected):
    reasons = {e["drop_reason"] for e in expected}
    assert None in reasons  # some rows kept
    for expected_reason in ("lang", "symbol_ratio", "too_short",
                            "repetition", "dup_lines", "digit_ratio"):
        assert expected_reason in reasons, expected_reason
    kept = [e for e in expected if e["keep"]]
    with_pii = [e for e in kept if e["mapping"]]
    assert len(with_pii) > 10  # planted PII survives keep and is scrubbed


def test_partitioning_invariance(spark, pipeline_rows):
    """Same input at a different partitioning → identical output
    (determinism across cluster sizes is a north-rule requirement)."""
    clips = clips_df(spark, N, with_audio=False, partitions=2)
    other = run_pipeline(clips).orderBy("clip_id").collect()
    for a, b in zip(pipeline_rows, other):
        assert a["keep"] == b["keep"]
        assert a["drop_reason"] == b["drop_reason"]
        assert a["scrubbed"] == b["scrubbed"]
        assert abs((a["ppl"] or 0) - (b["ppl"] or 0)) < 1e-9
        assert abs((a["lang_conf"] or 0) - (b["lang_conf"] or 0)) < 1e-9


def test_pipeline_plan_is_map_only(spark):
    clips = clips_df(spark, 10, with_audio=False)
    plan = run_pipeline(clips)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "pipeline must not shuffle"


def test_bucket_column_stable(spark):
    clips = clips_df(spark, 50, with_audio=False)
    b1 = {r["clip_id"]: r["bucket"] for r in with_bucket(clips, 64).collect()}
    b2 = {r["clip_id"]: r["bucket"] for r in
          with_bucket(clips.repartition(13), 64).collect()}
    assert b1 == b2
    assert all(0 <= v < 64 for v in b1.values())


def test_scrub_dropped_config(spark):
    clips = clips_df(spark, 60, with_audio=False)
    rows = run_pipeline(clips, PipelineConfig(scrub_dropped=True)).collect()
    for r in rows:
        assert r["scrubbed"] is not None


def test_fused_equals_modular(spark):
    """The fused single-crossing stage and the modular operators must
    produce identical results — both wrap the same kernel.  The modular
    reference is assembled here: Catalyst quality signals → text
    features → keep/drop → scrub of kept rows only (dropped rows enter
    the scrub UDF as NULL and pass straight through)."""
    from pyspark.sql import functions as F

    from top_secret_spark.operators.features import with_text_features
    from top_secret_spark.operators.quality import (
        with_keep_drop,
        with_quality_signals,
    )
    from top_secret_spark.operators.scrub import make_scrub_udf

    clips = clips_df(spark, 150, with_audio=False)
    cfg = PipelineConfig()
    a = run_pipeline(clips, cfg).orderBy("clip_id").collect()
    modular = with_keep_drop(
        with_text_features(with_quality_signals(clips, "transcript"),
                           "transcript"),
        cfg.thresholds,
    )
    scrub = make_scrub_udf(cfg.scrub)(
        F.when(F.col("keep"), F.col("transcript"))
    )
    b = (
        modular.withColumn("_scrub", scrub)
        .withColumns({
            "scrubbed": F.when(F.col("keep"), F.col("_scrub.scrubbed")),
            "mapping": F.when(F.col("keep"), F.col("_scrub.mapping")),
        })
        .orderBy("clip_id")
        .collect()
    )
    assert len(a) == len(b) == 150
    for ra, rb in zip(a, b):
        assert ra["clip_id"] == rb["clip_id"]
        assert ra["keep"] == rb["keep"] and ra["drop_reason"] == rb["drop_reason"]
        assert ra["scrubbed"] == rb["scrubbed"] and ra["mapping"] == rb["mapping"]
        assert abs(ra["ppl"] - rb["ppl"]) < 1e-9
        assert ra["n_chars"] == rb["n_chars"] and ra["n_words"] == rb["n_words"]


def test_partition_audit_and_counters(spark):
    from top_secret_spark.operators.fused import run_pipeline_fused
    from top_secret_spark.pipeline import PipelineCounters, partition_audit

    clips = clips_df(spark, 200, with_audio=False, partitions=4)
    counters = PipelineCounters(spark)
    out = run_pipeline_fused(clips, counters=counters)
    audit = partition_audit(out).collect()
    assert sum(r["n"] for r in audit) == 200
    assert {r["partition_id"] for r in audit} == {0, 1, 2, 3}
    c = counters.as_dict()
    assert c["rows_in"] == 200
    assert 0 < c["rows_kept"] < 200
    assert c["rows_scrubbed"] == c["rows_kept"]


def test_salting_spreads_hot_key(spark):
    """codec is deliberately skewed (~80% pcm16); repartitioning by codec
    alone serializes the hot key into one partition, while the salted
    composite key spreads it (the north-rule skew mitigation)."""
    from pyspark.sql import functions as F

    from top_secret_spark.pipeline import salted

    clips = clips_df(spark, 400, with_audio=False).select("clip_id", "codec")

    def max_partition_frac(df):
        sizes = (
            df.groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        )
        total = sum(r["count"] for r in sizes)
        return max(r["count"] for r in sizes) / total

    plain = clips.repartition(8, F.col("codec"))
    spread = salted(clips, id_col="clip_id", salt_mod=16).repartition(
        8, F.col("codec"), F.col("salt")
    )
    assert max_partition_frac(plain) > 0.6  # hot key serialized
    assert max_partition_frac(spread) < 0.4  # salt spreads it


def test_per_codec_top_k_salted_equals_plain_window(spark):
    """The two-phase salted per-codec top-k must equal the plain
    single-window result exactly, AND phase 1 must actually spread the
    hot codec: the largest (codec, salt) group is a small fraction of
    the hot codec's rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from top_secret_spark.pipeline import per_codec_top_k, salted

    clips = clips_df(spark, 600, with_audio=False).select(
        "clip_id", "codec", "dur_ms"
    )
    got = {(r["codec"], r["rank"]): r["clip_id"]
           for r in per_codec_top_k(clips, k=7).collect()}
    w = Window.partitionBy("codec").orderBy(F.desc("dur_ms"), "clip_id")
    exp = {(r["codec"], r["rank"]): r["clip_id"]
           for r in clips.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 7).collect()}
    assert got == exp
    # phase-1 skew spread: largest (codec, salt) window group ≤ 2/16 of
    # the hot codec (perfect split = 1/16); unsalted = 1 whole-key group
    sizes = (
        salted(clips, id_col="clip_id", salt_mod=16)
        .groupBy("codec", "salt").count().collect()
    )
    hot = clips.groupBy("codec").count().orderBy(F.desc("count")).first()
    assert hot["count"] > 0.6 * 600  # the planted skew is real
    assert max(r["count"] for r in sizes) <= hot["count"] * 2 / 16


def test_pipeline_with_injected_entities(spark):
    """NER-entities slot at the pipeline level: injected entities column
    drives the NER filters."""
    from pyspark.sql import functions as F

    rows = [
        ("a", None, 0, 0, "pcm16",
         "Ralph met the committee in Boston to review the annual budget today.",
         [("Ralph", "PERSON", 0.9), ("Boston", "LOCATION", 0.8)]),
        ("b", None, 0, 0, "pcm16",
         "The committee will meet on Tuesday to review the annual budget.",
         []),
    ]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string, "
              "entities array<struct<text:string,tag:string,score:double>>")
    df = spark.createDataFrame(rows, schema)
    out = {r["clip_id"]: r for r in run_pipeline(
        df, PipelineConfig(entities_col="entities")
    ).collect()}
    assert out["a"]["keep"]
    assert out["a"]["scrubbed"] == (
        "[PERSON_1] met the committee in [LOCATION_1] to review the "
        "annual budget today.")
    assert out["b"]["scrubbed"] == rows[1][5]


def test_keep_drop_vector_matches_scalar_grid():
    """keep_drop_vector (np.select priority chain) must agree with the
    scalar keep_drop_from_signals on a full grid straddling EVERY
    threshold (3072 combos)."""
    import itertools

    import numpy as np

    from top_secret_spark.kernel.quality import (
        DEFAULT_THRESHOLDS,
        keep_drop_from_signals,
        keep_drop_vector,
    )

    vals = [
        [5, 20, 150, 100_001],          # n_chars
        [2, 4, 30],                      # n_words
        [0.0, 0.31],                     # symbol_ratio
        [0.0, 0.31],                     # digit_ratio
        [0.0, 0.5],                      # dup_line_frac
        [0.0, 0.31],                     # top_bigram_frac
        [0.0, 0.09],                     # toxicity
        ["en", "xx"],                    # lang
        [0.2, 0.9],                      # lang_conf
        [100.0, 5000.0],                 # ppl
    ]
    combos = list(itertools.product(*vals))
    cols = list(zip(*combos))
    keep_v, reason_v = keep_drop_vector(
        np.array(cols[0]), np.array(cols[1]), np.array(cols[2]),
        np.array(cols[3]), np.array(cols[4]), np.array(cols[5]),
        np.array(cols[6]), list(cols[7]), np.array(cols[8]),
        np.array(cols[9]),
    )
    for idx, combo in enumerate(combos):
        k, r = keep_drop_from_signals(*combo, DEFAULT_THRESHOLDS)
        assert bool(keep_v[idx]) == k, combo
        assert (reason_v[idx] if reason_v[idx] is not None else None) == r, combo


def test_pipeline_with_audio_gate(spark):
    """Multimodal keep/drop: with ``audio_gate`` set, keep requires both
    gates and the audio reason wins the drop_reason slot — checked
    against a text-only twin run."""
    from top_secret_spark.operators.audio import AudioGateThresholds
    from top_secret_spark.pipeline import PipelineConfig, run_pipeline
    from top_secret_spark.sources.clips import gate_clips_df

    clips = gate_clips_df(spark, 24, partitions=2)
    planted = {0: "silent", 1: "clipped", 2: "too_short_audio",
               3: "decode_error"}
    cfg = PipelineConfig(include_audio=True, audio_gate=AudioGateThresholds())
    text_cfg = PipelineConfig(include_audio=True)
    out = {r["clip_id"]: r for r in run_pipeline(clips, cfg).collect()}
    text = {r["clip_id"]: r for r in run_pipeline(clips, text_cfg).collect()}
    assert len(out) == 24
    for cid, row in out.items():
        t = text[cid]
        r_idx = int(cid.split("-")[1])
        audio_reason = planted.get(r_idx % 6)
        assert row["keep"] == (t["keep"] and audio_reason is None), cid
        exp_reason = audio_reason if audio_reason is not None else t["drop_reason"]
        assert row["drop_reason"] == exp_reason, cid
        # text columns are untouched by the fold
        assert row["scrubbed"] == t["scrubbed"], cid


def test_quality_rule_audit_cofiring_and_column_gating(spark):
    """Every rule fires INDEPENDENTLY (no first-failing short-circuit):
    a row violating several rules lists all of them, in priority order;
    clean rows group under ''; model-gated rules appear only when their
    feature columns exist."""
    from pyspark.sql import functions as F

    from top_secret_spark.operators.quality import (
        quality_rule_audit,
        rule_conditions,
    )

    rows = [
        # short AND few-words AND digit-heavy: all three must be listed
        (0, "12 34"),
        (1, "a perfectly ordinary sentence about gardens and weather today."),
        (2, "$$$ %% ## !! ^^ && ** (( )) @@"),  # symbols + short-ish
    ]
    df = spark.createDataFrame(rows, "clip_id long, transcript string")
    got = {r["rules_fired"]: (r["n_rules"], r["n"])
           for r in quality_rule_audit(df).collect()}
    assert got["too_short,too_few_words,digit_ratio"] == (3, 1)
    assert got[""] == (0, 1)
    assert any("symbol_ratio" in k for k in got)
    # model-gated rules excluded without their columns, included with
    names = [nm for nm, _ in rule_conditions(available={"n_chars"})]
    assert "lang" not in names and "perplexity" not in names
    names_full = [nm for nm, _ in rule_conditions(
        available={"n_chars", "top_bigram_frac", "lang", "lang_conf", "ppl"})]
    assert names_full.index("repetition") < names_full.index("toxicity")
    # the audit's total mass equals the row count (partition of the frame)
    assert sum(n for _, n in got.values()) == 3


def test_multimodal_fused_single_crossing_equivalence(spark):
    """include_audio must take the one-Arrow-crossing stage and
    produce row-for-row identical output (by column NAME — the stage
    emits fused fields after the audio features) to the legacy
    two-crossing layout (decode mapInPandas + text pandas_udf),
    including the folded audio gate."""
    from top_secret_spark.operators.audio import AudioGateThresholds
    from top_secret_spark.operators.fused import run_pipeline_fused
    from top_secret_spark.operators.audio import with_audio_features

    clips = clips_df(spark, 150, with_audio=True)
    gate = AudioGateThresholds()
    cfg = PipelineConfig(include_audio=True, audio_gate=gate)
    one = run_pipeline(clips, cfg).orderBy("clip_id").collect()

    # legacy two-crossing path, assembled explicitly
    from top_secret_spark.pipeline import _fold_audio_gate
    from top_secret_spark.operators.audio import audio_drop_reason_col
    df = with_audio_features(clips)
    reason = audio_drop_reason_col(gate)
    df = df.withColumn("audio_drop_reason", reason).withColumn(
        "audio_keep", reason.isNull()
    )
    two = _fold_audio_gate(run_pipeline_fused(df)).orderBy("clip_id").collect()

    assert len(one) == len(two) > 0
    cols = sorted(one[0].asDict())
    assert cols == sorted(two[0].asDict())
    for a, b in zip(one, two):
        da, db = a.asDict(), b.asDict()
        for c in cols:
            assert da[c] == db[c], (da["clip_id"], c, da[c], db[c])


def test_multimodal_fused_plan_single_python_stage(spark):
    """The multimodal pipeline's plan must contain exactly ONE Python
    boundary (the fused MapInPandas) and no Exchange."""
    # localCheckpoint cuts the generator's own MapInPandas out of the
    # measured plan — only the pipeline's boundary should remain
    clips = clips_df(spark, 10, with_audio=True).localCheckpoint(eager=True)
    plan = (
        run_pipeline(clips, PipelineConfig(include_audio=True))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    n_python = plan.count("MapInPandas") + plan.count("ArrowEvalPython")
    assert n_python == 1, plan


def test_lang_consistency_col(spark):
    """Declared-language audit: confident mismatch flags, missing
    metadata flags, low-confidence detection gives benefit of doubt."""
    from pyspark.sql import functions as F

    from top_secret_spark.operators.quality import lang_consistency_col

    df = spark.createDataFrame(
        [
            ("a", "en", "en", 0.95),
            ("b", "de", "en", 0.95),   # confident mismatch
            ("c", None, "en", 0.95),   # missing metadata
            ("d", "de", "en", 0.2),    # low confidence: keep the label
        ],
        "id string, lang_declared string, lang string, lang_conf double",
    )
    out = {r.id: r.status for r in df.select(
        "id", lang_consistency_col().alias("status")).collect()}
    assert out == {
        "a": None,
        "b": "lang_mismatch",
        "c": "lang_metadata_missing",
        "d": None,
    }
