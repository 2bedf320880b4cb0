"""Driver-facing queries + DuckDB oracles (the correctness gate).

Each entry exercises one operator family from SURVEY.md §2 (or a
training-data op).  The Spark side runs the REAL engine path (kernel
UDFs, Catalyst operators); the oracle re-derives the same answer in
independent ANSI SQL that DuckDB executes over the same parquet tables.
Where a clips-shaped input is needed, a deterministic transcript is
derived from `documents` with a CASE expression written once and
evaluated by BOTH engines — so the comparison is meaningful end-to-end.

Column names are aligned on both sides (the driver hashes values after
sorting columns by name).  Float-valued outputs are converted to
integer ppm via floor(x*1e6 + 0.5) on both sides to dodge
rounding-dialect noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernel.patterns import (
    CREDIT_CARD_PATTERN,
    EMAIL_PATTERN,
    PHONE_PATTERN,
    SSN_PATTERN,
)
from .kernel.quality import QualityThresholds
from .kernel.toxicity import TOXICITY_PATTERN

# ---------------------------------------------------------------------------
# shared derivation: a clips-shaped transcript from documents, one SQL
# expression evaluated by both Spark (F.expr) and DuckDB (inlined)
# ---------------------------------------------------------------------------

DERIVED_TRANSCRIPT_SQL = """
CASE cast(doc_id % 10 as int)
  WHEN 0 THEN '@#$% ^&* !! ?? ~~ || ++ == @@ ##'
  WHEN 1 THEN 'ok'
  WHEN 2 THEN '12345 67890 11111 22222 33333 44444 55555 66666'
  WHEN 3 THEN 'Die Kinder spielen im Garten und das Wetter ist heute wirklich sehr gut gewesen.'
  WHEN 4 THEN concat(text, ' Contact user', cast(doc_id % 97 as string), '@example.com today.')
  WHEN 5 THEN concat(text, ' Call 555-', cast(100 + doc_id % 900 as string), '-', cast(1000 + doc_id % 9000 as string), ' now.')
  WHEN 6 THEN concat(text, ' My social is ', cast(100 + doc_id % 900 as string), '-', cast(10 + doc_id % 90 as string), '-', cast(1000 + doc_id % 9000 as string), '.')
  WHEN 7 THEN concat(text, ' Card 4242424242424242 works.')
  WHEN 8 THEN concat(repeat('the same line repeated here\n', 5), 'tail line')
  ELSE text
END
""".strip()

# messages for the global-label batch query
BATCH_MSG_SQL = (
    "concat('Mail user', cast(doc_id % 7 as string), '@example.com and "
    "user', cast(doc_id % 3 as string), '@test.org')"
)


def _sq(pattern: str) -> str:
    """Escape a regex pattern for embedding in a single-quoted SQL literal."""
    return pattern.replace("'", "''")


EMAIL_SQL = _sq(EMAIL_PATTERN)
PHONE_SQL = _sq(PHONE_PATTERN)
SSN_SQL = _sq(SSN_PATTERN)
CC_SQL = _sq(CREDIT_CARD_PATTERN)
TOX_SQL = _sq(TOXICITY_PATTERN)

# thresholds with the model-based rules disabled → keep/drop is fully
# SQL-expressible for the oracle (the model rules are gated in pytest
# against the kernel oracle instead)
SQL_ONLY_THRESHOLDS = QualityThresholds(
    allowed_langs=("en", "es", "fr", "de", "it", "pt", "nl", "und"),
    min_lang_conf=0.0,
    max_ppl=1e12,
    max_top_bigram_frac=1.1,
)


def _prep(spark: SparkSession) -> None:
    from .util import ship_package

    ship_package(spark)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", F.expr(DERIVED_TRANSCRIPT_SQL).alias("transcript")
    )


def _ppm(col) -> F.Column:
    return F.floor(col * 1_000_000 + F.lit(0.5)).cast("long")


DERIVED_CTE = (
    f"WITH t AS (SELECT doc_id, {DERIVED_TRANSCRIPT_SQL} AS transcript "
    f"FROM documents)"
)

# Planted 5-member identical-text families (q11/q12/q30) whose
# CROSS-family shingle overlap is deliberately low (distinct numeric
# tokens dominate each text): a shared natural-language template would
# give cross-family Jaccard ~0.8+, and at sf0.1 scale some pair would
# then agree on all 64 minhash positions / all simhash bits by chance,
# breaking the text-equality oracle.  With J ≈ 0.4 the collision odds
# are ~0.4^64.
FAMILY_TRANSCRIPT_SQL = (
    "concat('fam', cast(doc_id - doc_id % 5 as string), "
    "' alpha', cast((doc_id - doc_id % 5) * 7 % 9973 as string), "
    "' beta', cast((doc_id - doc_id % 5) * 11 % 9941 as string), "
    "' gamma', cast((doc_id - doc_id % 5) * 13 % 9907 as string), "
    "' delta', cast((doc_id - doc_id % 5) * 17 % 9871 as string), "
    "' epsilon', cast((doc_id - doc_id % 5) * 19 % 9851 as string), "
    "' zeta', cast((doc_id - doc_id % 5) * 23 % 9833 as string))"
)

# SimHash near-MISS families (q36): the family base text repeated 16×
# (~1 kB) so an appended one-token variant perturbs only ~0.7% of the
# occurrence-weighted shingle mass — exactly the ≤3-bit Hamming regime
# SimHash exists for.  Members 0,1 share the base EXACTLY (deterministic
# Hamming-0 pairs, the hard part of the oracle); members 2,3,4 append
# ' v2'/' v3'/' v4'.  Cross-family texts share only the template words
# (Jaccard ≈ 0.4 → expected Hamming ≈ 20), so contamination at ≤3 bits
# is a few-in-a-million tail event, gated by a 5% ceiling not an exact
# count.
SIMHASH_VARIANT_SQL = (
    f"concat(repeat({FAMILY_TRANSCRIPT_SQL}, 16), "
    "case when doc_id % 5 < 2 then '' "
    "else concat(' v', cast(doc_id % 5 as string)) end)"
)


# ---------------------------------------------------------------------------
# queries — each returns (spark_fn, oracle_sql | None)
# ---------------------------------------------------------------------------


def q_email_extract(spark, sf_dir):
    """Op 1/3: regex extract-all via the scan kernel UDF."""
    _prep(spark)
    from .operators.scrub import category_values, make_scan_udf

    df = _derived(spark, sf_dir).withColumn(
        "mapping", make_scan_udf()(F.col("transcript"))
    )
    vals = df.select(
        F.explode(category_values("mapping", "email")).alias("email")
    )
    return vals.agg(
        F.count("email").alias("n_emails"),
        F.countDistinct("email").alias("n_distinct_emails"),
    )


Q_EMAIL_EXTRACT_SQL = f"""
{DERIVED_CTE},
ex AS (
  SELECT doc_id, unnest(list_distinct(regexp_extract_all(transcript, '{EMAIL_SQL}'))) AS email
  FROM t
)
SELECT count(*) AS n_emails, count(DISTINCT email) AS n_distinct_emails FROM ex
"""


def q_category_extract_counts(spark, sf_dir):
    """Ops 2-5 + 14: per-category distinct-value counts from the mapping."""
    _prep(spark)
    from .operators.scrub import make_scan_udf

    df = _derived(spark, sf_dir).withColumn(
        "mapping", make_scan_udf()(F.col("transcript"))
    )
    return (
        # explode_outer: plain explode pushes a size>0 pre-filter under
        # the Generate and re-evaluates the scan UDF (see operators/batch.py)
        df.select(F.explode_outer("mapping").alias("e"))
        .filter(F.col("e").isNotNull())
        .select(
            F.lower(F.regexp_replace(F.col("e.key"), "_[0-9]+$", "")).alias(
                "category"
            )
        )
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_values"))
    )


Q_CATEGORY_EXTRACT_SQL = f"""
{DERIVED_CTE}
SELECT category, cast(sum(n) AS bigint) AS n_values FROM (
  SELECT 'email' AS category, len(list_distinct(regexp_extract_all(transcript, '{EMAIL_SQL}'))) AS n FROM t
  UNION ALL
  SELECT 'phone_number', len(list_distinct(regexp_extract_all(transcript, '{PHONE_SQL}'))) FROM t
  UNION ALL
  SELECT 'ssn', len(list_distinct(regexp_extract_all(transcript, '{SSN_SQL}'))) FROM t
  UNION ALL
  SELECT 'credit_card', len(list_distinct(regexp_extract_all(transcript, '{CC_SQL}'))) FROM t
) GROUP BY category HAVING sum(n) > 0
"""


def q_scrub_substitution(spark, sf_dir):
    """Ops 8+11+13: full scrub (dedupe+enumerate+single-pass substitute)
    on the email/phone planted rows; oracle = independent regexp_replace
    (equivalent here because plants don't overlap)."""
    _prep(spark)
    from .operators.scrub import with_scrub

    df = _derived(spark, sf_dir).filter(F.col("doc_id") % 10 == 4)
    df2 = _derived(spark, sf_dir).filter(F.col("doc_id") % 10 == 5)
    return (
        with_scrub(df.unionByName(df2), text_col="transcript")
        .select("doc_id", "scrubbed")
    )


Q_SCRUB_SUBSTITUTION_SQL = f"""
{DERIVED_CTE}
SELECT doc_id,
       regexp_replace(regexp_replace(transcript, '{EMAIL_SQL}', '[EMAIL_1]', 'g'),
                      '{PHONE_SQL}', '[PHONE_NUMBER_1]', 'g') AS scrubbed
FROM t WHERE doc_id % 10 IN (4, 5)
"""


def q_restore_roundtrip(spark, sf_dir):
    """Op 19: scrub → restore must reproduce the original text exactly,
    with zero unrestored placeholders."""
    _prep(spark)
    from .operators.scrub import with_restore, with_scrub

    df = _derived(spark, sf_dir).filter((F.col("doc_id") % 10).isin(4, 5, 6, 7))
    r = with_restore(with_scrub(df, text_col="transcript"), text_col="scrubbed")
    return r.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            (F.col("restored_text") == F.col("transcript")).cast("long")
        ).alias("n_roundtrip"),
        F.sum(F.size("unrestored")).alias("n_unrestored"),
    )


Q_RESTORE_ROUNDTRIP_SQL = """
SELECT count(*) AS n_total, count(*) AS n_roundtrip, 0 AS n_unrestored
FROM documents WHERE doc_id % 10 IN (4, 5, 6, 7)
"""


def q_categories_present(spark, sf_dir):
    """Op 14: categories() projection — docs per category present."""
    _prep(spark)
    from .operators.scrub import categories_col, make_scan_udf

    df = _derived(spark, sf_dir).withColumn(
        "mapping", make_scan_udf()(F.col("transcript"))
    )
    return (
        df.select(F.explode(categories_col("mapping")).alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


Q_CATEGORIES_PRESENT_SQL = f"""
{DERIVED_CTE}
SELECT category, count(*) AS n_docs FROM (
  SELECT doc_id, 'email' AS category FROM t WHERE len(regexp_extract_all(transcript, '{EMAIL_SQL}')) > 0
  UNION ALL
  SELECT doc_id, 'phone_number' FROM t WHERE len(regexp_extract_all(transcript, '{PHONE_SQL}')) > 0
  UNION ALL
  SELECT doc_id, 'ssn' FROM t WHERE len(regexp_extract_all(transcript, '{SSN_SQL}')) > 0
  UNION ALL
  SELECT doc_id, 'credit_card' FROM t WHERE len(regexp_extract_all(transcript, '{CC_SQL}')) > 0
) GROUP BY category
"""


def q_global_labels(spark, sf_dir):
    """Ops 15-18: distributed batch scrub with global label numbering."""
    _prep(spark)
    from .operators.batch import batch_scrub

    msgs = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 40)
        .select(F.col("doc_id").alias("msg_idx"), F.expr(BATCH_MSG_SQL).alias("input"))
    )
    _, gmap = batch_scrub(msgs)
    return spark.createDataFrame(gmap, "global_key string, value string")


Q_GLOBAL_LABELS_SQL = f"""
WITH msgs AS (
  SELECT doc_id AS msg_idx, {BATCH_MSG_SQL} AS input FROM documents WHERE doc_id < 40
),
raw AS (
  SELECT msg_idx,
         unnest(regexp_extract_all(input, '{EMAIL_SQL}')) AS value,
         generate_subscripts(regexp_extract_all(input, '{EMAIL_SQL}'), 1) AS idx
  FROM msgs
),
firsts AS (SELECT value, min(msg_idx * 1000 + idx) AS fs FROM raw GROUP BY value)
SELECT concat('EMAIL_', cast(row_number() OVER (ORDER BY fs) as string)) AS global_key,
       value
FROM firsts
"""


def q_keep_drop(spark, sf_dir):
    """[north-rule] heuristic keep/drop over derived clips (SQL-expressible
    thresholds; the model-gated rules are pytest-verified instead)."""
    _prep(spark)
    from .pipeline import PipelineConfig, run_pipeline

    clips = _derived(spark, sf_dir).withColumn("clip_id", F.col("doc_id").cast("string"))
    out = run_pipeline(clips, PipelineConfig(thresholds=SQL_ONLY_THRESHOLDS))
    return (
        out.groupBy(F.coalesce("drop_reason", F.lit("keep")).alias("drop_reason"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


Q_KEEP_DROP_SQL = f"""
{DERIVED_CTE},
sig AS (
  SELECT doc_id, transcript AS tr,
    length(transcript) AS n_chars,
    CASE WHEN trim(transcript) = '' THEN 0
         ELSE len(string_split_regex(trim(transcript), '\\s+')) END AS n_words,
    CASE WHEN length(transcript) = 0 THEN 0.0
         ELSE (length(transcript) - len(regexp_extract_all(transcript, '[A-Za-z0-9\\s]'))) * 1.0 / length(transcript) END AS symbol_ratio,
    CASE WHEN length(transcript) = 0 THEN 0.0
         ELSE len(regexp_extract_all(transcript, '[0-9]')) * 1.0 / length(transcript) END AS digit_ratio,
    list_filter(string_split(transcript, chr(10)), x -> trim(x) <> '') AS lines
  FROM t
),
reasons AS (
  SELECT CASE
    WHEN n_chars < 20 THEN 'too_short'
    WHEN n_chars > 100000 THEN 'too_long'
    WHEN n_words < 4 THEN 'too_few_words'
    WHEN symbol_ratio > 0.30 THEN 'symbol_ratio'
    WHEN digit_ratio > 0.30 THEN 'digit_ratio'
    WHEN len(lines) >= 2 AND 1.0 - len(list_distinct(lines)) * 1.0 / len(lines) > 0.40 THEN 'dup_lines'
    WHEN len(regexp_extract_all(lower(tr), '{TOX_SQL}')) * 1.0 / greatest(n_words, 1) > 0.08 THEN 'toxicity'
    ELSE 'keep' END AS drop_reason
  FROM sig
)
SELECT drop_reason, count(*) AS n FROM reasons GROUP BY drop_reason
"""


def q_rule_audit(spark, sf_dir):
    """[training-data] quality-rule firing AUDIT: every heuristic rule
    evaluated INDEPENDENTLY (no first-failing short-circuit) and rows
    grouped by the full fired set — the observability a threshold-tuning
    pass needs (a rule that only co-fires with earlier rules is dead
    weight; one firing alone at volume deserves review before it deletes
    corpus mass).  Pure codegen'd Catalyst signals; the only shuffle is
    a groupBy on the short combination string.  The oracle recomputes
    every independent rule and the combination grouping."""
    _prep(spark)
    from .operators.quality import quality_rule_audit

    docs = _derived(spark, sf_dir)
    return quality_rule_audit(docs, SQL_ONLY_THRESHOLDS)


Q_RULE_AUDIT_SQL = f"""
{DERIVED_CTE},
sig AS (
  SELECT doc_id, transcript AS tr,
    length(transcript) AS n_chars,
    CASE WHEN trim(transcript) = '' THEN 0
         ELSE len(string_split_regex(trim(transcript), '\\s+')) END AS n_words,
    CASE WHEN length(transcript) = 0 THEN 0.0
         ELSE (length(transcript) - len(regexp_extract_all(transcript, '[A-Za-z0-9\\s]'))) * 1.0 / length(transcript) END AS symbol_ratio,
    CASE WHEN length(transcript) = 0 THEN 0.0
         ELSE len(regexp_extract_all(transcript, '[0-9]')) * 1.0 / length(transcript) END AS digit_ratio,
    list_filter(string_split(transcript, chr(10)), x -> trim(x) <> '') AS lines
  FROM t
),
fired AS (
  SELECT concat_ws(',',
    CASE WHEN n_chars < 20 THEN 'too_short' END,
    CASE WHEN n_chars > 100000 THEN 'too_long' END,
    CASE WHEN n_words < 4 THEN 'too_few_words' END,
    CASE WHEN symbol_ratio > 0.30 THEN 'symbol_ratio' END,
    CASE WHEN digit_ratio > 0.30 THEN 'digit_ratio' END,
    CASE WHEN len(lines) >= 2 AND 1.0 - len(list_distinct(lines)) * 1.0 / len(lines) > 0.40 THEN 'dup_lines' END,
    CASE WHEN len(regexp_extract_all(lower(tr), '{TOX_SQL}')) * 1.0 / greatest(n_words, 1) > 0.08 THEN 'toxicity' END
  ) AS rules_fired
  FROM sig
)
SELECT rules_fired,
       CAST(CASE WHEN rules_fired = '' THEN 0
            ELSE len(string_split(rules_fired, ',')) END AS INTEGER) AS n_rules,
       count(*) AS n
FROM fired GROUP BY rules_fired
"""


def q_quality_signals(spark, sf_dir):
    """[north-rule] per-doc Catalyst quality signals (ppm-int encoded)."""
    _prep(spark)
    from .operators.quality import with_quality_signals

    df = with_quality_signals(_derived(spark, sf_dir), "transcript")
    return df.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_words").cast("long").alias("n_words"),
        _ppm(F.col("symbol_ratio")).alias("symbol_ppm"),
        _ppm(F.col("digit_ratio")).alias("digit_ppm"),
    )


Q_QUALITY_SIGNALS_SQL = f"""
{DERIVED_CTE}
SELECT doc_id,
  length(transcript) AS n_chars,
  CASE WHEN trim(transcript) = '' THEN 0
       ELSE len(string_split_regex(trim(transcript), '\\s+')) END AS n_words,
  cast(CASE WHEN length(transcript) = 0 THEN 0
       ELSE floor((length(transcript) - len(regexp_extract_all(transcript, '[A-Za-z0-9\\s]'))) * 1000000.0 / length(transcript) + 0.5) END as bigint) AS symbol_ppm,
  cast(CASE WHEN length(transcript) = 0 THEN 0
       ELSE floor(len(regexp_extract_all(transcript, '[0-9]')) * 1000000.0 / length(transcript) + 0.5) END as bigint) AS digit_ppm
FROM t
"""


def q_token_counts(spark, sf_dir):
    """Training-data op: whitespace + BPE-ish token counting (Catalyst)."""
    _prep(spark)
    from .operators.text_analysis import bpe_ish_token_count, whitespace_token_count

    return _docs(spark, sf_dir).select(
        "doc_id",
        whitespace_token_count("text").cast("long").alias("ws_tokens"),
        bpe_ish_token_count("text").cast("long").alias("bpe_tokens"),
    )


Q_TOKEN_COUNTS_SQL = """
SELECT doc_id,
  CASE WHEN trim(text) = '' THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
  len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+')) AS bpe_tokens
FROM documents
"""


def q_dedup_exact(spark, sf_dir):
    """Training-data op: exact dedup over deliberately duplicated texts."""
    _prep(spark)
    from .operators.dedup import dedup_exact, exact_duplicate_groups

    docs = _docs(spark, sf_dir)
    base = docs.select(
        F.col("doc_id"), (F.col("doc_id") - F.col("doc_id") % 5).alias("base_id")
    )
    dup = base.join(
        docs.select(F.col("doc_id").alias("base_id"), F.col("text")), "base_id"
    ).select("doc_id", "text")
    survivors = dedup_exact(dup)
    groups = exact_duplicate_groups(dup)
    return spark.range(1).select(
        F.lit(survivors.count()).alias("n_after_dedup"),
        F.lit(groups.count()).alias("n_dup_groups"),
    )


Q_DEDUP_EXACT_SQL = """
WITH dup AS (
  SELECT d1.doc_id, d2.text
  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id - d1.doc_id % 5
)
SELECT count(DISTINCT text) AS n_after_dedup,
       (SELECT count(*) FROM (SELECT text FROM dup GROUP BY text HAVING count(*) > 1)) AS n_dup_groups
FROM dup
"""


def q_minhash_neardup(spark, sf_dir):
    """Training-data op: MinHash+LSH near-dup on exact-duplicate pairs —
    identical texts must land est_jaccard = 1.0.  Families are PLANTED
    with low cross-family shingle overlap (see FAMILY_TRANSCRIPT_SQL):
    the raw word-salad document bodies contain distinct texts with
    identical shingle SETS at larger sf, which the engine correctly
    reports as Jaccard-1.0 pairs but a text-equality oracle cannot."""
    _prep(spark)
    from .operators.dedup import near_duplicates_minhash

    dup = _docs(spark, sf_dir).select(
        "doc_id", F.expr(FAMILY_TRANSCRIPT_SQL).alias("text")
    )
    # collapse_exact exercises the scale path: identical signatures are
    # pre-collapsed to representatives before LSH, then pairs expand back
    # through group membership (output-equivalent — pytest-gated)
    pairs = near_duplicates_minhash(dup, threshold=0.999, collapse_exact=True)
    return spark.range(1).select(F.lit(pairs.count()).alias("n_pairs"))


Q_MINHASH_SQL = f"""
WITH dup AS (SELECT doc_id, {FAMILY_TRANSCRIPT_SQL} AS text FROM documents)
SELECT count(*) AS n_pairs
FROM dup a JOIN dup b ON a.text = b.text AND a.doc_id < b.doc_id
"""


def q_simhash_neardup(spark, sf_dir):
    """Training-data op: SimHash — identical texts share a 64-bit sketch.
    Same planted-family input as q11 (and the same reason)."""
    _prep(spark)
    from .operators.dedup import (
        hamming_distance_col,
        simhash_candidate_pairs,
        with_simhash,
    )

    dup = _docs(spark, sf_dir).select(
        "doc_id", F.expr(FAMILY_TRANSCRIPT_SQL).alias("text")
    )
    sh = with_simhash(dup).select("doc_id", "simhash")
    pairs = simhash_candidate_pairs(sh, "doc_id")
    sa = sh.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    sb = sh.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    exact = (
        pairs.join(sa, "a").join(sb, "b")
        .filter(hamming_distance_col(F.col("ha"), F.col("hb")) == 0)
    )
    return spark.range(1).select(F.lit(exact.count()).alias("n_pairs"))


def q_cosine_topk(spark, sf_dir):
    """Training-data op: brute-force cosine top-k over embeddings."""
    _prep(spark)
    from .operators.similarity import brute_force_top_k

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 5).collect()
    ]
    return brute_force_top_k(emb, queries, k=10).select(
        "query_id", "vec_id", "rank"
    )


Q_COSINE_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding, q.qe) AS s
  FROM embeddings e, q
)
SELECT query_id, vec_id, rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


def q_langid_planted(spark, sf_dir):
    """[north-rule] langid classifies planted single-language constants."""
    _prep(spark)
    from .operators.features import with_text_features

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            """CASE cast(doc_id % 5 as int)
               WHEN 0 THEN 'The committee will meet on Tuesday to review the annual budget and discuss the new hiring plan for the engineering team.'
               WHEN 1 THEN 'Die Regierung hat heute eine neue Verordnung über den Schutz der Umwelt und die Förderung erneuerbarer Energien beschlossen.'
               WHEN 2 THEN 'Le gouvernement a annoncé ce matin une nouvelle politique pour améliorer les transports publics dans toutes les grandes villes.'
               WHEN 3 THEN 'El gobierno anunció hoy una nueva política para mejorar el transporte público en todas las grandes ciudades del país.'
               ELSE 'Il governo ha annunciato oggi una nuova politica per migliorare i trasporti pubblici in tutte le grandi città del paese.'
               END"""
        ).alias("transcript"),
    )
    return (
        with_text_features(planted, "transcript")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


Q_LANGID_SQL = """
SELECT CASE cast(doc_id % 5 as int)
         WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr'
         WHEN 3 THEN 'es' ELSE 'it' END AS lang,
       count(*) AS n
FROM documents GROUP BY 1
"""


def q_perplexity_planted(spark, sf_dir):
    """[north-rule] perplexity separates fluent text from gibberish."""
    _prep(spark)
    from .operators.features import with_text_features

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            """CASE cast(doc_id % 2 as int)
               WHEN 0 THEN 'She walked along the river in the morning light and watched the boats drift slowly under the old stone bridge.'
               ELSE 'zxq jkw vbn mqp xyz qqq wvx kjh zzz pqm bbj qzj wxq kqv jzx'
               END"""
        ).alias("transcript"),
    )
    feat = with_text_features(planted, "transcript")
    return (
        feat.select(
            F.when(F.col("doc_id") % 2 == 0, "fluent").otherwise("gibberish").alias("kind"),
            (F.col("ppl") < 100).cast("long").alias("low_ppl"),
        )
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("low_ppl").alias("n_low_ppl"))
    )


Q_PERPLEXITY_SQL = """
SELECT CASE cast(doc_id % 2 as int) WHEN 0 THEN 'fluent' ELSE 'gibberish' END AS kind,
       count(*) AS n,
       CASE cast(doc_id % 2 as int) WHEN 0 THEN count(*) ELSE 0 END AS n_low_ppl
FROM documents GROUP BY cast(doc_id % 2 as int)
"""


def q_audio_decode(spark, sf_dir):
    """[north-rule] audio decode invariant: every generated clip decodes,
    SNR vs the regenerated reference >= 30 dB, transcripts equal."""
    _prep(spark)

    def check(iterator):
        import pandas as pd

        from .kernel.audio import decode, snr_db, synth_pcm
        from .sources.clips import SEED, rows_for_range

        for pdf in iterator:
            n_ok = 0
            n_snr = 0
            n_txt = 0
            for clip_id, data, codec, sr_hz, transcript in zip(
                pdf["clip_id"], pdf["bytes"], pdf["codec"],
                pdf["sr_hz"], pdf["transcript"],
            ):
                r = int(clip_id.split("-")[1])
                pcm = decode(bytes(data), codec)
                n_ok += 1
                ref = synth_pcm(SEED * 7_000_003 + r, len(pcm), int(sr_hz))
                if snr_db(ref, pcm) >= 30.0:
                    n_snr += 1
                exp = rows_for_range(r, r + 1, with_audio=False)
                if exp["transcript"].iloc[0] == transcript:
                    n_txt += 1
            yield pd.DataFrame(
                {"n_ok": [n_ok], "n_snr_ok": [n_snr], "n_transcript_ok": [n_txt]}
            )

    from .sources.clips import clips_df

    clips = clips_df(spark, 120, with_audio=True, partitions=4)
    out = clips.mapInPandas(
        check, "n_ok long, n_snr_ok long, n_transcript_ok long"
    )
    return out.agg(
        F.sum("n_ok").alias("n_ok"),
        F.sum("n_snr_ok").alias("n_snr_ok"),
        F.sum("n_transcript_ok").alias("n_transcript_ok"),
    )


Q_AUDIO_DECODE_SQL = """
SELECT cast(120 as bigint) AS n_ok, cast(120 as bigint) AS n_snr_ok,
       cast(120 as bigint) AS n_transcript_ok
"""


def q_tpch_pricing_summary(spark, sf_dir):
    """Relational baseline: TPC-H Q1-style aggregation over lineitem."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.floor(F.sum("l_quantity") * 100 + F.lit(0.5)).cast("long").alias("sum_qty_c"),
            F.floor(F.sum("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("sum_price_c"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q_TPCH_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       cast(floor(sum(l_quantity) * 100 + 0.5) as bigint) AS sum_qty_c,
       cast(floor(sum(l_extendedprice) * 100 + 0.5) as bigint) AS sum_price_c,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_join_orders_per_nation(spark, sf_dir):
    """Relational baseline: broadcast dim join (customer→nation) + agg."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("revenue_c"),
        )
    )


Q_JOIN_ORDERS_SQL = """
SELECT n_name, count(*) AS n_orders,
       cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) AS revenue_c
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_window_latest_event(spark, sf_dir):
    """Relational baseline: window function — latest event per user."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("latest_event_id"), "event_type")
    )


Q_WINDOW_LATEST_SQL = """
SELECT user_id, event_id AS latest_event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_dictionary_scrub(spark, sf_dir):
    """Custom dictionary filter (north-star: 'custom dictionary filters')."""
    _prep(spark)
    from .kernel.filters import ScrubConfig, dictionary_filter
    from .operators.scrub import with_scrub

    cfg = ScrubConfig(
        custom_filters=(dictionary_filter("CODE_NAME", ["merge", "shuffle"]),)
    )
    df = _docs(spark, sf_dir).select("doc_id", F.col("text").alias("transcript"))
    return with_scrub(df, cfg, text_col="transcript").select(
        "doc_id", "scrubbed"
    )


# numbering follows first-occurrence order of the matched values per doc
# (kernel op 8), so the oracle branches on which term appears first
Q_DICTIONARY_SCRUB_SQL = """
SELECT doc_id,
  CASE
    WHEN position('merge' in text) > 0
         AND (position('shuffle' in text) = 0
              OR position('merge' in text) < position('shuffle' in text))
      THEN replace(replace(text, 'merge', '[CODE_NAME_1]'), 'shuffle', '[CODE_NAME_2]')
    WHEN position('shuffle' in text) > 0
      THEN replace(replace(text, 'shuffle', '[CODE_NAME_1]'), 'merge', '[CODE_NAME_2]')
    ELSE text
  END AS scrubbed
FROM documents
"""


def q_ann_topk(spark, sf_dir):
    """Training-data op: LSH-bucketed ANN with a CHECKABLE oracle —
    recall@5 vs the exact top-k (the q13 machinery) on the same data,
    plus the self-hit invariant.  The approximate result set itself is
    not SQL-expressible, but the derived gates are constants: each
    query must find itself at rank 1 (its own bucket is always probed;
    cosine(v, v) = 1 beats every other score), and reach recall ≥ 0.4
    (n_bits=5, multiprobe=2 measures recall ≥ 0.6 at sf0.001/0.01/0.1 —
    deterministic per dataset, so the 0.2 margin is real headroom)."""
    _prep(spark)
    from .operators.similarity import ann_top_k, brute_force_top_k

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    exact = brute_force_top_k(emb, queries, k=5).select("query_id", "vec_id")
    approx = ann_top_k(emb, queries, dim=64, k=5, n_bits=5, multiprobe=2)
    self_rank = approx.filter(F.col("vec_id") == F.col("query_id")).select(
        "query_id", F.col("rank").alias("self_rank")
    )
    hits = (
        approx.join(exact, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return self_rank.join(hits, "query_id").select(
        "query_id", "self_rank",
        (F.col("n_hits") >= F.lit(2)).alias("recall_ok"),  # 2/5 = 0.4
    )


Q_ANN_TOPK_SQL = """
SELECT vec_id AS query_id, 1 AS self_rank, true AS recall_ok
FROM embeddings WHERE vec_id < 3
"""


def q_pipeline_e2e(spark, sf_dir):
    """[north-rule] full pipeline over derived clips: keep counts +
    scrub coverage in one pass (SQL-only thresholds)."""
    _prep(spark)
    from .operators.scrub import sensitive_col
    from .pipeline import PipelineConfig, run_pipeline

    clips = _derived(spark, sf_dir).withColumn(
        "clip_id", F.col("doc_id").cast("string")
    )
    out = run_pipeline(clips, PipelineConfig(thresholds=SQL_ONLY_THRESHOLDS))
    return out.agg(
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum((~F.col("keep")).cast("long")).alias("n_drop"),
        F.sum((F.col("keep") & sensitive_col("mapping")).cast("long")).alias(
            "n_scrubbed_sensitive"
        ),
    )


Q_PIPELINE_E2E_SQL = f"""
{DERIVED_CTE},
sig AS (
  SELECT doc_id, transcript,
    length(transcript) AS n_chars,
    CASE WHEN trim(transcript) = '' THEN 0
         ELSE len(string_split_regex(trim(transcript), '\\s+')) END AS n_words,
    CASE WHEN length(transcript) = 0 THEN 0.0
         ELSE (length(transcript) - len(regexp_extract_all(transcript, '[A-Za-z0-9\\s]'))) * 1.0 / length(transcript) END AS symbol_ratio,
    CASE WHEN length(transcript) = 0 THEN 0.0
         ELSE len(regexp_extract_all(transcript, '[0-9]')) * 1.0 / length(transcript) END AS digit_ratio,
    list_filter(string_split(transcript, chr(10)), x -> trim(x) <> '') AS lines
  FROM t
),
flags AS (
  SELECT doc_id, transcript,
    (n_chars >= 20 AND n_chars <= 100000 AND n_words >= 4
     AND symbol_ratio <= 0.30 AND digit_ratio <= 0.30
     AND NOT (len(lines) >= 2 AND 1.0 - len(list_distinct(lines)) * 1.0 / len(lines) > 0.40)
     AND len(regexp_extract_all(lower(transcript), '{TOX_SQL}')) * 1.0 / greatest(n_words, 1) <= 0.08) AS keep
  FROM sig
)
SELECT cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS bigint) AS n_keep,
       cast(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS bigint) AS n_drop,
       cast(sum(CASE WHEN keep AND (
             len(regexp_extract_all(transcript, '{EMAIL_SQL}')) > 0
          OR len(regexp_extract_all(transcript, '{PHONE_SQL}')) > 0
          OR len(regexp_extract_all(transcript, '{SSN_SQL}')) > 0
          OR len(regexp_extract_all(transcript, '{CC_SQL}')) > 0)
           THEN 1 ELSE 0 END) AS bigint) AS n_scrubbed_sensitive
FROM flags
"""


def q_ner_scrub(spark, sf_dir):
    """Ops 6+7: NER entity filter + scrub with an injected entities column
    (the reference's own CI injects entities the same way —
    spec/spec_helper.rb:26-31)."""
    _prep(spark)
    from .operators.scrub import with_scrub

    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("My name is Ralph from Boston. "), F.col("text")
        ).alias("transcript"),
        F.expr(
            """array(named_struct('text', 'Ralph', 'tag', 'PERSON', 'score', cast(0.9 as double)),
                     named_struct('text', 'Boston', 'tag', 'LOCATION', 'score', cast(0.8 as double)),
                     named_struct('text', 'Ghost', 'tag', 'PERSON', 'score', cast(0.3 as double)))"""
        ).alias("entities"),
    )
    return with_scrub(df, text_col="transcript", entities_col="entities").select(
        "doc_id", "scrubbed"
    )


# 'Ghost' scores 0.3 < 0.5 threshold → must NOT be scrubbed; documents
# text contains no 'Ralph'/'Boston'/PII (verified: no digits/@ in corpus)
Q_NER_SCRUB_SQL = """
SELECT doc_id,
       concat('My name is [PERSON_1] from [LOCATION_1]. ', text) AS scrubbed
FROM documents
"""


def q_embedding_neardup(spark, sf_dir):
    """Training-data op: embedding-cosine near-dup.  Planted duplicates:
    scaled copies of the first 50 vectors (cosine is scale-invariant →
    cos=1.0 with their source).  Exact pair join here (oracle-checkable);
    the LSH-bucketed variant is covered by tests + the ANN query."""
    _prep(spark)
    from .operators.dedup import embedding_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    copies = (
        emb.filter(F.col("vec_id") < 50)
        .select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
            "label",
        )
    )
    both = emb.unionByName(copies)
    pairs = embedding_near_duplicates(both, dim=64, threshold=0.95, exact=True)
    return spark.range(1).select(F.lit(pairs.count()).alias("n_pairs"))


Q_EMBEDDING_NEARDUP_SQL = """
WITH uni AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding, x -> x * 2.0)
  FROM embeddings WHERE vec_id < 50
)
SELECT count(*) AS n_pairs
FROM uni a JOIN uni b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
"""


_JACCARD_TAIL = " extra tail marker alpha beta gamma"


def q_ngram_jaccard(spark, sf_dir):
    """Training-data op: exact n-gram (char 5-shingle) Jaccard on
    candidate pairs — the LSH verification stage as its own query.
    Each ASCII doc is paired with itself + a fixed tail; the engine
    computes byte-shingle-hash Jaccard (operators/dedup.py
    verify_pairs_jaccard), the oracle re-derives true substring-set
    Jaccard in DuckDB.  ASCII filter keeps byte shingles == char
    shingles so the two are comparable."""
    _prep(spark)
    from .operators.dedup import verify_pairs_jaccard

    base = (
        _docs(spark, sf_dir)
        .filter(
            (F.octet_length("text") == F.length("text"))
            & (F.length("text") >= 20)
        )
        .orderBy("doc_id")
        .limit(200)
    )
    variants = base.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_JACCARD_TAIL)).alias("text"),
    )
    union = base.select("doc_id", "text").unionByName(variants)
    pairs = base.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 10_000_000).alias("b")
    )
    verified = verify_pairs_jaccard(pairs, union, threshold=0.0)
    return verified.select(
        F.col("a").alias("doc_id"), _ppm(F.col("jaccard")).alias("jac_ppm")
    )


Q_NGRAM_JACCARD_SQL = """
WITH base AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS na,
         trim(regexp_replace(lower(text || ' extra tail marker alpha beta gamma'), '\\s+', ' ', 'g')) AS nb
  FROM documents
  WHERE strlen(text) = length(text) AND length(text) >= 20
  ORDER BY doc_id LIMIT 200
),
sha AS (SELECT DISTINCT doc_id, substr(na, i::int, 5) AS sh
        FROM (SELECT doc_id, na, unnest(range(1, length(na) - 3)) AS i FROM base)),
shb AS (SELECT DISTINCT doc_id, substr(nb, i::int, 5) AS sh
        FROM (SELECT doc_id, nb, unnest(range(1, length(nb) - 3)) AS i FROM base)),
ca AS (SELECT doc_id, count(*) AS n FROM sha GROUP BY doc_id),
cb AS (SELECT doc_id, count(*) AS n FROM shb GROUP BY doc_id),
inter AS (SELECT a.doc_id, count(*) AS n FROM sha a
          JOIN shb b ON a.doc_id = b.doc_id AND a.sh = b.sh GROUP BY a.doc_id)
SELECT ca.doc_id AS doc_id,
       floor(inter.n * 1e6 / (ca.n + cb.n - inter.n) + 0.5)::bigint AS jac_ppm
FROM ca JOIN cb ON ca.doc_id = cb.doc_id JOIN inter ON inter.doc_id = ca.doc_id
"""


def q_fingerprint_groups(spark, sf_dir):
    """Training-data op: 64-bit rolling-hash document fingerprinting —
    group-size histogram over deliberately duplicated texts must equal
    the text-equality histogram (identical text ⇒ identical fingerprint;
    64-bit hash ⇒ no cross-text collisions at this scale)."""
    _prep(spark)
    from .operators.dedup import with_fingerprint

    docs = _docs(spark, sf_dir)
    base = docs.select(
        F.col("doc_id"), (F.col("doc_id") - F.col("doc_id") % 5).alias("base_id")
    )
    dup = base.join(
        docs.select(F.col("doc_id").alias("base_id"), F.col("text")), "base_id"
    ).select("doc_id", "text")
    return (
        with_fingerprint(dup)
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


Q_FINGERPRINT_SQL = """
WITH dup AS (
  SELECT d1.doc_id, d2.text
  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id - d1.doc_id % 5
),
groups AS (SELECT text, count(*) AS group_size FROM dup GROUP BY text)
SELECT group_size, count(*) AS n_groups FROM groups GROUP BY group_size
"""


def q_media_decode(spark, sf_dir):
    """Multimodal op: generate the synthetic media table (raw_rgb8
    images + frame-stack videos), run the real decode + feature
    extraction (operators/multimodal.py), and emit decoded shapes.  The
    oracle re-derives the expected shapes from the generator's metadata
    formulas — decoded-pixel-buffer shape must equal planted metadata,
    validating the decode plumbing end-to-end."""
    _prep(spark)
    from .operators.multimodal import media_df, with_media_features

    media = media_df(spark, 256, partitions=8)
    return with_media_features(media).select(
        "media_id", "kind", "dec_width", "dec_height", "dec_frames"
    )


Q_MEDIA_DECODE_SQL = """
SELECT printf('media-%010d', i) AS media_id,
       CASE WHEN i % 4 = 0 THEN 'video' ELSE 'image' END AS kind,
       (8 + i % 16)::int AS dec_width,
       (6 + i % 12)::int AS dec_height,
       (CASE WHEN i % 4 = 0 THEN 2 + i % 7 ELSE 1 END)::int AS dec_frames
FROM (SELECT unnest(range(0, 256)) AS i)
"""


TOXIC_PLANT_SQL = """
CASE cast(doc_id % 3 as int)
  WHEN 0 THEN 'you worthless idiot shut up you pathetic moron and loser'
  WHEN 1 THEN 'The committee thought the plan came from an idiot but approved the annual budget anyway after review.'
  ELSE 'The committee will meet on Tuesday to review the annual budget and the hiring plan.'
END
""".strip()


def q_toxicity(spark, sf_dir):
    """[north-rule] toxicity stage: dictionary scorer + keep/drop rule.
    Planted rows: heavy abuse (score 0.6 → dropped as 'toxicity'), one
    mild term diluted below threshold (kept), clean (kept).  The oracle
    recomputes the score with the same wordlist alternation in RE2."""
    _prep(spark)
    from .pipeline import PipelineConfig, run_pipeline

    clips = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("clip_id"),
        F.expr(TOXIC_PLANT_SQL).alias("transcript"),
    )
    out = run_pipeline(clips, PipelineConfig(thresholds=SQL_ONLY_THRESHOLDS))
    return (
        out.groupBy(F.coalesce("drop_reason", F.lit("keep")).alias("drop_reason"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_ppm(F.col("toxicity"))).alias("tox_ppm_sum"),
        )
    )


Q_TOXICITY_SQL = f"""
WITH t AS (SELECT doc_id, {TOXIC_PLANT_SQL} AS transcript FROM documents),
sig AS (
  SELECT doc_id, transcript,
    CASE WHEN trim(transcript) = '' THEN 0
         ELSE len(string_split_regex(trim(transcript), '\\s+')) END AS n_words,
    len(regexp_extract_all(lower(transcript), '{TOX_SQL}')) AS tox_hits
  FROM t
),
scored AS (
  SELECT doc_id,
    tox_hits * 1.0 / greatest(n_words, 1) AS toxicity,
    CASE WHEN tox_hits * 1.0 / greatest(n_words, 1) > 0.08
         THEN 'toxicity' ELSE 'keep' END AS drop_reason
  FROM sig
)
SELECT drop_reason, count(*) AS n,
       cast(sum(floor(toxicity * 1e6 + 0.5)::bigint) AS bigint) AS tox_ppm_sum
FROM scored GROUP BY drop_reason
"""


def q_ivf_ann(spark, sf_dir):
    """Training-data op: IVF ANN (deterministic k-means coarse
    quantizer, nprobe-nearest-cell probe, exact cosine within probed
    cells) with a CHECKABLE oracle: recall@5 vs the exact top-k plus
    the self-hit invariant, same scheme as q21 (nprobe=6/16 measures
    recall ≥ 0.6 at sf0.001/0.01/0.1; gate at ≥ 0.4)."""
    _prep(spark)
    from .operators.similarity import (
        brute_force_top_k,
        ivf_top_k,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    cents = train_ivf_centroids(emb, dim=64, n_cells=16)
    exact = brute_force_top_k(emb, queries, k=5).select("query_id", "vec_id")
    approx = ivf_top_k(emb, queries, cents, k=5, nprobe=6)
    self_rank = approx.filter(F.col("vec_id") == F.col("query_id")).select(
        "query_id", F.col("rank").alias("self_rank")
    )
    hits = (
        approx.join(exact, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return self_rank.join(hits, "query_id").select(
        "query_id", "self_rank",
        (F.col("n_hits") >= F.lit(2)).alias("recall_ok"),
    )


Q_IVF_ANN_SQL = """
SELECT vec_id AS query_id, 1 AS self_rank, true AS recall_ok
FROM embeddings WHERE vec_id < 3
"""


def q_dedup_near(spark, sf_dir):
    """Training-data op: fuzzy dedup END-TO-END — MinHash near-dup
    pairs → connected components (iterative min-label propagation) →
    ONE survivor per cluster (operators/dedup.py dedup_near).  Planted
    5× identical-text families must collapse to one survivor per
    distinct text; the oracle is the text-equality count.  Families are
    PLANTED from doc_id (not the word-salad document bodies, whose
    distinct texts can legitimately share identical shingle SETS and
    thus merge at Jaccard 1.0 — correct behavior, wrong oracle)."""
    _prep(spark)
    from .operators.dedup import dedup_near

    # cache the planted frame: it feeds dedup_near's signature pass AND
    # the survivor anti-join AND the n_total count — without the cache
    # the derivation runs three times (flagged in the r2 review; don't
    # copy the uncached pattern into bench arms)
    dup = _docs(spark, sf_dir).select(
        "doc_id", F.expr(FAMILY_TRANSCRIPT_SQL).alias("text")
    ).cache()
    n_total = dup.count()
    n_surv = dedup_near(dup, threshold=0.999).count()
    dup.unpersist()
    return spark.range(1).select(
        F.lit(n_surv).alias("n_survivors"),
        F.lit(n_total - n_surv).alias("n_dropped"),
    )


Q_DEDUP_NEAR_SQL = f"""
WITH dup AS (SELECT doc_id, {FAMILY_TRANSCRIPT_SQL} AS text FROM documents)
SELECT count(DISTINCT text) AS n_survivors,
       cast(count(*) - count(DISTINCT text) AS bigint) AS n_dropped
FROM dup
"""


COMPOSED_TRANSCRIPT_SQL = (
    "concat('Mail user', cast(doc_id % 53 as string), "
    "'@example.com or call 555-', cast(100 + doc_id % 900 as string), "
    "'-', cast(1000 + doc_id % 9000 as string), "
    "'. SSN 123-45-6789 stays. Then shuffle data.')"
)


def q_filter_composition(spark, sf_dir):
    """Ops 9+10 under the oracle gate: one ScrubConfig that disables a
    default slot (ssn_filter → None), overrides another (phone slot
    relabeled CELL), and appends a custom dictionary filter — the
    reference's override/disable/custom composition semantics
    (ref: lib/top_secret/text.rb:229-247, spec text_spec.rb:202-397).
    The planted row carries all four match types, so the oracle checks
    that the disabled SSN survives verbatim while the overridden label
    and the custom label both substitute."""
    _prep(spark)
    from .kernel.filters import RegexFilter, ScrubConfig, dictionary_filter
    from .kernel.patterns import PHONE_PATTERN as _PHONE
    from .operators.scrub import with_scrub

    planted = _docs(spark, sf_dir).select(
        "doc_id", F.expr(COMPOSED_TRANSCRIPT_SQL).alias("transcript")
    )
    cfg = ScrubConfig(
        overrides={
            "ssn_filter": None,
            "phone_number_filter": RegexFilter("CELL", _PHONE),
        },
        custom_filters=(dictionary_filter("CODE_NAME", ["shuffle"]),),
    )
    return with_scrub(planted, cfg, text_col="transcript").select(
        "doc_id", "scrubbed"
    )


Q_FILTER_COMPOSITION_SQL = """
SELECT doc_id,
       'Mail [EMAIL_1] or call [CELL_1]. SSN 123-45-6789 stays. Then [CODE_NAME_1] data.'
         AS scrubbed
FROM documents
"""


URL_TRANSCRIPT_SQL = (
    "concat('Visit https://example', cast(doc_id % 7 as string), "
    "'.com/path', cast(doc_id % 13 as string), "
    "' now. Details at example.com or mail user', "
    "cast(doc_id % 5 as string), '@test.org today.')"
)


def q_url_scrub(spark, sf_dir):
    """North-star URL filter: schemed URLs scrub to [URL_1] while bare
    domains pass untouched (kernel/filters.py url_filter; the pipeline's
    NORTH_STAR_CONFIG default).  Email in the same row checks category
    independence of the numbering."""
    _prep(spark)
    from .kernel.filters import NORTH_STAR_CONFIG
    from .operators.scrub import with_scrub

    planted = _docs(spark, sf_dir).select(
        "doc_id", F.expr(URL_TRANSCRIPT_SQL).alias("transcript")
    )
    return with_scrub(planted, NORTH_STAR_CONFIG, text_col="transcript").select(
        "doc_id", "scrubbed"
    )


Q_URL_SCRUB_SQL = """
SELECT doc_id,
       'Visit [URL_1] now. Details at example.com or mail [EMAIL_1] today.'
         AS scrubbed
FROM documents
"""


def q_ner_model_scrub(spark, sf_dir):
    """Op 7 COMPLETE: real model-inference NER — a deterministic
    gazetteer model artifact is shipped to executors via SparkFiles,
    loaded once per Python worker (kernel/ner.py singleton, the
    reference's lazy model-handle pattern, text.rb:21-33), evaluated in
    an Arrow-batched UDF, and its entities feed the standard scrub —
    end-to-end WITHOUT an injected entities column.  'Ghost' scores
    0.3 < 0.5 and must survive unscrubbed."""
    import os
    import tempfile

    _prep(spark)
    from .kernel.ner import write_gazetteer_model
    from .operators.ner import ship_ner_model, with_ner_entities
    from .operators.scrub import with_scrub

    model_path = os.path.join(tempfile.gettempdir(), "tss_gazetteer_q33.json")
    write_gazetteer_model(
        model_path,
        [
            ("Ralph Mason", "PERSON", 0.9),
            ("Boston", "LOCATION", 0.8),
            ("Ghost", "PERSON", 0.3),
        ],
    )
    fname = ship_ner_model(spark, model_path)
    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("Agent Ralph Mason flew to Boston with Ghost. "),
            F.col("text"),
        ).alias("transcript"),
    )
    ents = with_ner_entities(df, fname, text_col="transcript")
    return with_scrub(ents, text_col="transcript", entities_col="entities").select(
        "doc_id", "scrubbed"
    )


# documents text contains none of the gazetteer names (lower-case word
# salads) and no PII, so the oracle is the constant-prefix substitution
Q_NER_MODEL_SCRUB_SQL = """
SELECT doc_id,
       concat('Agent [PERSON_1] flew to [LOCATION_1] with Ghost. ', text)
         AS scrubbed
FROM documents
"""


def q_ivf_indexed(spark, sf_dir):
    """Training-data op: IVF ANN over a MATERIALIZED index — the corpus
    written parquet-partitioned by ivf_cell (write_ivf_index), so the
    probe filter becomes physical partition pruning at the scan
    (pruning itself is pytest-asserted via input_file_name +
    PartitionFilters).  Results must be identical to the unindexed IVF
    path, so the oracle is the same recall@5 + self-hit constant table
    as q29."""
    import shutil
    import tempfile

    _prep(spark)
    from .operators.similarity import (
        brute_force_top_k,
        ivf_top_k_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    cents = train_ivf_centroids(emb, dim=64, n_cells=16)
    path = tempfile.mkdtemp(prefix="tss_q35_") + "/index"
    try:
        write_ivf_index(emb, cents, path)
        exact = brute_force_top_k(emb, queries, k=5).select(
            "query_id", "vec_id"
        )
        approx = ivf_top_k_indexed(spark, path, queries, cents, k=5, nprobe=6)
        self_rank = approx.filter(F.col("vec_id") == F.col("query_id")).select(
            "query_id", F.col("rank").alias("self_rank")
        )
        hits = (
            approx.join(exact, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        rows = (
            self_rank.join(hits, "query_id")
            .select(
                "query_id", "self_rank",
                (F.col("n_hits") >= F.lit(2)).alias("recall_ok"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows, "query_id long, self_rank int, recall_ok boolean"
    )


Q_IVF_INDEXED_SQL = """
SELECT vec_id AS query_id, 1 AS self_rank, true AS recall_ok
FROM embeddings WHERE vec_id < 3
"""


def q_checkpointed_stage(spark, sf_dir):
    """[north-rule] checkpoint protocol under the oracle gate: run a
    bucketed stage, then run it AGAIN (the resume must skip every
    completed bucket and return identical data), and read the lineage —
    every bucket must be complete and per-bucket row counters must sum
    to the input.  sources/checkpoint.py run_stage; kill-mid-run resume
    equality is additionally pytest- and tool-gated
    (tools/checkpointed_pipeline_job.py)."""
    import shutil
    import tempfile

    _prep(spark)
    from .sources.checkpoint import run_stage, stage_lineage

    root = tempfile.mkdtemp(prefix="tss_q34_")
    try:
        clips = _derived(spark, sf_dir).withColumn(
            "clip_id", F.col("doc_id").cast("string")
        )
        stage = lambda d: d  # noqa: E731 — identity transform
        n1 = run_stage(spark, root, "s", clips, stage, n_buckets=16).count()
        n2 = run_stage(spark, root, "s", clips, stage, n_buckets=16).count()
        lin = stage_lineage(spark, root, "s")
        n_buckets = lin.filter(F.col("status") == "complete").select(
            "bucket"
        ).distinct().count()
        lineage_total = int(lin.agg(F.sum("n_rows")).collect()[0][0])
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.range(1).select(
        F.lit(n1).alias("n_rows_first"),
        F.lit(n2).alias("n_rows_resumed"),
        F.lit(n_buckets).alias("n_buckets_complete"),
        F.lit(lineage_total).alias("lineage_row_total"),
    )


Q_CHECKPOINTED_STAGE_SQL = """
SELECT count(*) AS n_rows_first,
       count(*) AS n_rows_resumed,
       16 AS n_buckets_complete,
       count(*) AS lineage_row_total
FROM documents
"""


def q_simhash_hamming_neardup(spark, sf_dir):
    """SimHash near-dup END-TO-END at Hamming ≤ 3 — the near-MISS
    regime, not just identical texts (q12 gates Hamming == 0).  Input
    plants repeated-base families with one-token variants (see
    SIMHASH_VARIANT_SQL).  Oracle scheme mirrors q21/q29: the
    deterministic quantity (exact-duplicate pairs found — identical
    text ⇒ identical sketch ⇒ identical bands ⇒ always generated and
    Hamming 0) is gated EXACTLY against the text-equality pair count;
    the probabilistic quantities are gated as generous-floor booleans
    (variant-pair recall ≥ 0.5 where the expected Hamming is ~1;
    cross-family contamination ≤ 5% where the expected Hamming is ~20)."""
    _prep(spark)
    from .operators.dedup import near_duplicates_simhash

    # cached: feeds the sketch pass, both text-label joins, and the two
    # expected-count aggregates
    dup = _docs(spark, sf_dir).select(
        "doc_id", F.expr(SIMHASH_VARIANT_SQL).alias("text")
    ).cache()
    pairs = near_duplicates_simhash(dup, max_distance=3)
    t = dup.select("doc_id", "text")
    labeled = (
        pairs.join(
            t.select(F.col("doc_id").alias("a"), F.col("text").alias("_ta")), "a"
        )
        .join(
            t.select(F.col("doc_id").alias("b"), F.col("text").alias("_tb")), "b"
        )
        .select(
            (F.col("_ta") == F.col("_tb")).alias("is_exact"),
            (
                (F.col("a") - F.col("a") % 5) == (F.col("b") - F.col("b") % 5)
            ).alias("same_fam"),
        )
    )
    got = labeled.agg(
        F.sum(F.when(F.col("is_exact"), 1).otherwise(0)).alias("n_exact"),
        F.sum(
            F.when(F.col("same_fam") & ~F.col("is_exact"), 1).otherwise(0)
        ).alias("n_variant"),
        F.sum(F.when(~F.col("same_fam"), 1).otherwise(0)).alias("n_cross"),
    ).collect()[0]
    # expected counts, computed from the data (not assumed): exact pairs
    # from text-group sizes; within-family non-exact pairs from family
    # sizes minus the exact pairs
    exp_exact = int(
        dup.groupBy("text")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2))
        .collect()[0][0]
    )
    exp_within = int(
        dup.groupBy(F.col("doc_id") - F.col("doc_id") % 5)
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(F.sum(F.col("m") * (F.col("m") - 1) / 2))
        .collect()[0][0]
    )
    exp_variant = exp_within - exp_exact
    dup.unpersist()
    total_found = int(got["n_exact"] + got["n_variant"] + got["n_cross"])
    return spark.range(1).select(
        F.lit(int(got["n_exact"])).alias("n_exact_pairs"),
        F.lit(
            exp_variant == 0 or got["n_variant"] >= 0.5 * exp_variant
        ).alias("variant_recall_ok"),
        F.lit(got["n_cross"] * 20 <= total_found).alias("contamination_ok"),
    )


Q_SIMHASH_HAMMING_SQL = f"""
WITH dup AS (SELECT doc_id, {SIMHASH_VARIANT_SQL} AS text FROM documents),
g AS (SELECT text, count(*) AS c FROM dup GROUP BY text)
SELECT cast(sum(c * (c - 1) / 2) AS bigint) AS n_exact_pairs,
       true AS variant_recall_ok,
       true AS contamination_ok
FROM g
"""


def q_text_embedding_neardup(spark, sf_dir):
    """Corpus-native semantic dedup END-TO-END: raw text →
    with_text_embedding (hashed char-n-gram vectors, one map-only
    Arrow stage) → embedding_near_duplicates (LSH-bucketed cosine).
    Planted identical-text families: identical text ⇒ identical vector
    ⇒ identical LSH bucket ⇒ cos exactly 1.0, so the pair set — and
    the count of cos-1.0 pairs — must equal the text-equality pair
    count; cross-family texts share only template words (hashed cos
    ≈ 0.5 ≪ the 0.99 threshold)."""
    _prep(spark)
    from .operators.dedup import embedding_near_duplicates
    from .operators.similarity import with_text_embedding

    dup = _docs(spark, sf_dir).select(
        "doc_id", F.expr(FAMILY_TRANSCRIPT_SQL).alias("text")
    )
    # cache the EMBEDDED frame: both sides of the bucket self-join read
    # it, and the embedding UDF is the expensive stage
    emb = with_text_embedding(dup).cache()
    pairs = embedding_near_duplicates(
        emb, dim=64, threshold=0.99, id_col="doc_id"
    )
    got = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("cos") >= 0.999999, 1)), F.lit(0)
        ).cast("bigint").alias("n_cos_one"),
    ).collect()[0]
    emb.unpersist()
    return spark.range(1).select(
        F.lit(got["n_pairs"]).cast("bigint").alias("n_pairs"),
        F.lit(got["n_cos_one"]).cast("bigint").alias("n_cos_one"),
    )


Q_TEXT_EMBEDDING_SQL = f"""
WITH dup AS (SELECT doc_id, {FAMILY_TRANSCRIPT_SQL} AS text FROM documents)
SELECT cast(count(*) AS bigint) AS n_pairs,
       cast(count(*) AS bigint) AS n_cos_one
FROM dup a JOIN dup b ON a.text = b.text AND a.doc_id < b.doc_id
"""


def q_salted_per_key_topk(spark, sf_dir):
    """Skew-mitigated per-key top-k (north-rule salting, demonstrated
    INSIDE a skewed shuffle): a derived 80/10/10 codec key funnels 80%
    of rows into one window partition; per_codec_top_k ranks within
    (codec, salt) first — splitting the hot key across 16 window tasks
    — then ranks the ≤ 16·k survivors.  Exactly equal to the plain
    window (oracle), which is the point: same answer, no serialized
    hot-key task."""
    _prep(spark)
    from .pipeline import per_codec_top_k

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("clip_id"),
        F.expr(
            "case when doc_id % 10 < 8 then 'pcm16' "
            "when doc_id % 10 < 9 then 'ulaw' else 'alaw' end"
        ).alias("codec"),
        (F.col("doc_id") * 37 % 9973).cast("bigint").alias("dur_ms"),
    )
    return per_codec_top_k(d, k=10).select("clip_id", "codec", "dur_ms", "rank")


Q_SALTED_TOPK_SQL = """
WITH c AS (
  SELECT cast(doc_id AS varchar) AS clip_id,
         CASE WHEN doc_id % 10 < 8 THEN 'pcm16'
              WHEN doc_id % 10 < 9 THEN 'ulaw' ELSE 'alaw' END AS codec,
         cast(doc_id * 37 % 9973 AS bigint) AS dur_ms
  FROM documents
)
SELECT clip_id, codec, dur_ms, rank FROM (
  SELECT clip_id, codec, dur_ms,
         row_number() OVER (PARTITION BY codec
                            ORDER BY dur_ms DESC, clip_id) AS rank
  FROM c
) WHERE rank <= 10
"""


def q_text_ann_topk(spark, sf_dir):
    """Corpus-native ANN end-to-end: raw text → with_text_embedding →
    two-phase brute-force cosine top-5.  Queries are the embeddings of
    family-base docs 0 and 5; each family's five members share identical
    text ⇒ identical vectors ⇒ cos exactly 1.0, and ties break
    (score desc, id asc) in BOTH top-k phases, so the result is the
    member ids in order — fully deterministic, text-derivable oracle
    (cross-family hashed cosine ≈ 0.5 never competes)."""
    _prep(spark)
    from .operators.similarity import brute_force_top_k, with_text_embedding

    dup = _docs(spark, sf_dir).select(
        "doc_id", F.expr(FAMILY_TRANSCRIPT_SQL).alias("text")
    )
    emb = with_text_embedding(dup).select("doc_id", "embedding").cache()
    queries = [
        (int(r["doc_id"]), list(r["embedding"]))
        for r in emb.filter(F.col("doc_id").isin(0, 5)).collect()
    ]
    got = brute_force_top_k(
        emb, queries, k=5, id_col="doc_id"
    ).select("query_id", F.col("doc_id").alias("member_id"), "rank").collect()
    emb.unpersist()
    return spark.createDataFrame(
        [(r["query_id"], r["member_id"], r["rank"]) for r in got],
        "query_id bigint, member_id bigint, rank int",
    )


Q_TEXT_ANN_SQL = """
SELECT cast(doc_id - doc_id % 5 AS bigint) AS query_id,
       doc_id AS member_id,
       cast(doc_id % 5 + 1 AS int) AS rank
FROM documents
WHERE doc_id < 10
"""


def q_audio_quality_gate(spark, sf_dir):
    """[tier: quality_filter x audio] end-to-end audio keep/drop gate
    over PLANTED defects: decode -> vectorized features (rms/zcr/dur/
    silence/clipping, one Arrow boundary) -> pure-Catalyst first-match
    rules.  Rows are synthesized with a defect keyed by row index
    (sources/clips.py::gate_rows_for_range), so the oracle RECOMPUTES
    both the expected decision and the measured-duration sum from the
    index rule alone — decisions AND a feature value are gated, not just
    row counts.  Reference parity: top_secret's keep/drop is text-only;
    this is the audio twin the north rule adds."""
    _prep(spark)
    from .operators.audio import with_audio_keep_drop
    from .sources.clips import gate_clips_df

    gated = with_audio_keep_drop(gate_clips_df(spark, 240, partitions=4))
    return gated.groupBy(
        F.coalesce(F.col("audio_drop_reason"), F.lit("keep")).alias(
            "audio_drop_reason"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dur_ms_measured").alias("sum_dur_measured_ms"),
    )


Q_AUDIO_GATE_SQL = """
SELECT audio_drop_reason,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(dur) AS BIGINT) AS sum_dur_measured_ms
FROM (
  SELECT CASE i % 6 WHEN 0 THEN 'silent'
                    WHEN 1 THEN 'clipped'
                    WHEN 2 THEN 'too_short_audio'
                    WHEN 3 THEN 'decode_error'
                    ELSE 'keep' END AS audio_drop_reason,
         CASE i % 6 WHEN 2 THEN 120 WHEN 3 THEN 0 ELSE 1000 END AS dur
  FROM (SELECT unnest(range(0, 240)) AS i))
GROUP BY audio_drop_reason
"""


def q_stratified_sample(spark, sf_dir):
    """[training-data] deterministic stratified sampling: rebalance the
    corpus by language (downsample 'en' hard, others lightly) with a
    key-hash decision that is a property of the row — the oracle
    RECOMPUTES the identical xor-fold + Knuth-multiply arithmetic in
    DuckDB, so membership (sum of sampled ids / chars), not just counts,
    is gated bit-for-bit.  Spark's df.sample() could never pass this
    gate: its decisions change with partitioning and are not
    reproducible outside Spark."""
    from .operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    samp = stratified_sample(
        docs,
        {"en": 0.1, "de": 0.5, "fr": 0.5},
        strata_col="lang",
        key_col="doc_id",
        default_fraction=0.25,
    )
    return samp.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_temperature_rebalance(spark, sf_dir):
    """[training-data] temperature rebalancing (multilingual-LM
    alpha-sampling, XLM-R/mT5 style): per-language keep rates computed
    FROM the observed distribution so post-sample mass ∝ p_i^alpha —
    here alpha=0.5 flattens the English-heavy head.  The oracle
    recomputes the whole chain — counts → (n_i/n_min)^(alpha-1) rates
    floor-quantized to 1e-6 → the identical xor-fold + Knuth-multiply
    key hash — so per-language MEMBERSHIP (sum of sampled ids/chars) is
    gated bit-for-bit, not just counts."""
    from .operators.sampling import temperature_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    samp = temperature_sample(docs, "lang", alpha=0.5, key_col="doc_id")
    return samp.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    )


Q_TEMPERATURE_REBALANCE_SQL = """
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
ref AS (SELECT min(n) AS n_ref FROM c),
r AS (SELECT c.lang AS lang,
             FLOOR(POWER(CAST(c.n AS DOUBLE) / ref.n_ref, 0.5 - 1.0)
                   * 1000000) / 1000000 AS rate
      FROM c CROSS JOIN ref)
SELECT d.lang,
       cast(count(*) AS BIGINT) AS n_sampled,
       cast(sum(d.doc_id) AS BIGINT) AS sum_ids,
       cast(sum(d.n_chars) AS BIGINT) AS sum_chars
FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
WHERE (((xor(COALESCE(d.doc_id, 0) >> 31, COALESCE(d.doc_id, 0))
         & 2147483647) * 2654435761)
       % 4294967296) / 4294967296.0 < r.rate
GROUP BY d.lang
"""


Q_STRATIFIED_SAMPLE_SQL = """
SELECT lang,
       cast(count(*) AS BIGINT) AS n_sampled,
       cast(sum(doc_id) AS BIGINT) AS sum_ids,
       cast(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT lang, doc_id, n_chars,
         -- COALESCE mirrors sample_u_col: NULL keys hash as key 0 so a
         -- null-keyed row shares key 0's decision instead of vanishing
         (((xor(COALESCE(doc_id, 0) >> 31, COALESCE(doc_id, 0))
            & 2147483647) * 2654435761)
          % 4294967296) / 4294967296.0 AS u
  FROM documents)
WHERE u < CASE lang WHEN 'en' THEN 0.1
                    WHEN 'de' THEN 0.5
                    WHEN 'fr' THEN 0.5
                    ELSE 0.25 END
GROUP BY lang
"""


def q_mixture_sample(spark, sf_dir):
    """[training-data] explicit-proportion corpus mixing
    (operators/sampling.py mixture_sample): downsample the documents
    corpus to a stated 50/30/20 en/de/fr recipe — the dataset-mixture
    step of a training run — at the largest size pure downsampling
    allows (binding stratum keeps rate 1.0).  Strata outside the recipe
    (es, zh) drop entirely.  The oracle recomputes the whole chain in
    SQL: per-lang counts → B* = min(n_i/p_i) → floor-quantized rates →
    the SAME xor-fold/Knuth hash membership — per-row decisions gated
    bit-for-bit (counts, id sums, char sums per kept lang)."""
    from .operators.sampling import mixture_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = mixture_sample(
        docs, "lang", {"en": 0.5, "de": 0.3, "fr": 0.2}
    )
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("n_chars").alias("sum_chars"),
    )


Q_MIXTURE_SAMPLE_SQL = """
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
p AS (SELECT * FROM (VALUES
        ('en', CAST(0.5 AS DOUBLE)),
        ('de', CAST(0.3 AS DOUBLE)),
        ('fr', CAST(0.2 AS DOUBLE))) AS t(lang, w)),
b AS (SELECT min(CAST(c.n AS DOUBLE) / p.w) AS b
      FROM c JOIN p ON c.lang = p.lang),
r AS (SELECT c.lang AS lang,
             FLOOR(p.w * b.b / CAST(c.n AS DOUBLE) * 1000000) / 1000000
               AS rate
      FROM c JOIN p ON c.lang = p.lang CROSS JOIN b)
SELECT d.lang,
       cast(count(*) AS BIGINT) AS n_sampled,
       cast(sum(d.doc_id) AS BIGINT) AS sum_ids,
       cast(sum(d.n_chars) AS BIGINT) AS sum_chars
FROM documents d JOIN r ON d.lang = r.lang
WHERE (((xor(COALESCE(d.doc_id, 0) >> 31, COALESCE(d.doc_id, 0))
         & 2147483647) * 2654435761)
       % 4294967296) / 4294967296.0 < r.rate
GROUP BY d.lang
"""


def q_corpus_profile(spark, sf_dir):
    """[training-data] corpus profiling/audit: per-(lang, source) counts,
    char totals, extremes, and p50/p95 length quantiles via
    ``approx_percentile`` — the MERGEABLE-sketch aggregate that scales:
    map-side partial GK sketches merge at the reducer, so the shuffle
    carries one bounded sketch per group per mapper, never rows.  With
    accuracy (100k) far above any group size at test scale the sketch is
    rank-exact, so DuckDB's discrete quantile gates it exactly; at 10^12
    rows the same plan degrades gracefully to epsilon-rank answers
    instead of OOMing the way an exact sort-based percentile would."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.expr(
                "approx_percentile(n_chars, array(0.5, 0.95), 100000)"
            ).alias("_q"),
        )
        .select(
            "lang", "source", "n_docs", "sum_chars", "min_chars",
            "max_chars",
            F.col("_q").getItem(0).alias("p50_chars"),
            F.col("_q").getItem(1).alias("p95_chars"),
        )
    )


Q_CORPUS_PROFILE_SQL = """
SELECT lang, source,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(sum(n_chars) AS BIGINT) AS sum_chars,
       cast(min(n_chars) AS BIGINT) AS min_chars,
       cast(max(n_chars) AS BIGINT) AS max_chars,
       cast(quantile_disc(n_chars, 0.5) AS BIGINT) AS p50_chars,
       cast(quantile_disc(n_chars, 0.95) AS BIGINT) AS p95_chars
FROM documents
GROUP BY lang, source
"""


# shared construction for q43: a synthetic incoming batch over the
# corpus — one third whitespace-variant corpus duplicates, one third
# genuinely new texts, and each new text planted TWICE (a within-batch
# duplicate pair whose min-batch_id member must survive)
INCR_BATCH_TEXT_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN concat(' ', text, '  ') "
    "ELSE concat('batchnew ', doc_id, ' ', text) END"
)
INCR_BATCH_DUP_TEXT_SQL = "concat('batchnew ', doc_id, ' ', text)"


def q_incremental_dedup(spark, sf_dir):
    """[training-data] incremental corpus dedup: a new batch against a
    MATERIALIZED fingerprint index (sources/bucketed.py — (fingerprint,
    id) pairs bucketed by fingerprint, so at 10^12 corpus rows the
    left-anti membership join reads corpus buckets in place and only
    the small batch shuffles; test_bucketed.py asserts the elided
    exchange).  Protocol under the gate: build the index from the
    corpus, dedup the planted batch (corpus dups drop, within-batch
    dup pairs keep their min-batch_id member), APPEND the survivors,
    and re-run — the second pass must drop everything (idempotence,
    emitted as the constant n_second_run column)."""
    import shutil
    import tempfile

    from .operators.dedup import dedup_against_corpus
    from .sources.bucketed import read_table, write_fingerprint_index

    docs = _docs(spark, sf_dir)
    b1 = docs.filter("doc_id % 3 <> 2").select(
        (F.col("doc_id") + 1000000).alias("batch_id"),
        F.expr(INCR_BATCH_TEXT_SQL).alias("text"),
    )
    b2 = docs.filter("doc_id % 3 = 1").select(
        (F.col("doc_id") + 2000000).alias("batch_id"),
        F.expr(INCR_BATCH_DUP_TEXT_SQL).alias("text"),
    )
    batch = b1.unionAll(b2)
    root = tempfile.mkdtemp(prefix="tss_q43_")
    try:
        write_fingerprint_index(
            docs, "tss_q43_idx", 8, path=f"{root}/idx", text_col="text"
        )
        idx = read_table(spark, "tss_q43_idx")
        # materialize survivors BEFORE the append: the table the
        # anti-join reads is about to gain the batch's fingerprints,
        # and a lazy plan would see its own output
        kept = spark.createDataFrame(
            dedup_against_corpus(batch, idx, id_col="batch_id")
            .select("batch_id")
            .collect(),
            "batch_id long",
        )
        write_fingerprint_index(
            kept.join(batch, "batch_id"),
            "tss_q43_idx",
            8,
            path=f"{root}/idx",
            id_col="batch_id",
            mode="append",
        )
        n_second = dedup_against_corpus(
            batch, read_table(spark, "tss_q43_idx"), id_col="batch_id"
        ).count()
        rows = kept.withColumn(
            "n_second_run", F.lit(int(n_second)).cast("long")
        ).collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS tss_q43_idx")
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, "batch_id long, n_second_run long")


Q_INCREMENTAL_DEDUP_SQL = f"""
WITH batch AS (
  SELECT doc_id + 1000000 AS batch_id, {INCR_BATCH_TEXT_SQL} AS text
  FROM documents WHERE doc_id % 3 <> 2
  UNION ALL
  SELECT doc_id + 2000000 AS batch_id, {INCR_BATCH_DUP_TEXT_SQL} AS text
  FROM documents WHERE doc_id % 3 = 1
),
norm AS (
  SELECT batch_id,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS ntext
  FROM batch
),
corpus_norm AS (
  SELECT DISTINCT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS ntext
  FROM documents
),
reps AS (SELECT ntext, min(batch_id) AS batch_id FROM norm GROUP BY ntext)
SELECT r.batch_id, cast(0 AS BIGINT) AS n_second_run
FROM reps r ANTI JOIN corpus_norm c USING (ntext)
"""


def q_audio_neardup(spark, sf_dir):
    """[tier: quality_filter × audio] cross-codec audio near-dup: 40
    planted families of THREE lossy-different encodings (pcm16 / ulaw /
    alaw) of the same synth recording — every payload differs in every
    byte, so byte dedup finds nothing, but the decoded signals agree at
    >= ~30 dB pairwise.  The operator (energy-band candidates with
    deterministic double-band recall → vectorized pairwise-SNR verify)
    must find EXACTLY the 3 within-family pairs per family and reject
    every cross-family candidate (families collide on the
    (sr, duration) key by construction — ~0 dB kills them in verify).
    Deterministic: codec SNR margins (~14 dB above the 20 dB gate) dwarf
    every noise source, so the oracle recomputes the exact expected
    structure from range() arithmetic."""
    _prep(spark)
    from .operators.audio import audio_near_duplicates
    from .sources.clips import neardup_clips_df

    clips = neardup_clips_df(spark, 120, partitions=8)  # 40 families
    pairs = audio_near_duplicates(clips)
    labeled = pairs.select(
        F.expr("cast(substr(a, 4) AS bigint) div 3").alias("fam_a"),
        F.expr("cast(substr(b, 4) AS bigint) div 3").alias("fam_b"),
    ).cache()
    n_cross = labeled.filter(F.col("fam_a") != F.col("fam_b")).count()
    out = (
        labeled.filter(F.col("fam_a") == F.col("fam_b"))
        .groupBy(F.col("fam_a").alias("family"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("n_cross", F.lit(int(n_cross)).cast("long"))
        .collect()
    )
    labeled.unpersist()
    return spark.createDataFrame(
        out, "family long, n_pairs long, n_cross long"
    )


Q_AUDIO_NEARDUP_SQL = """
SELECT cast(f AS BIGINT) AS family,
       cast(3 AS BIGINT) AS n_pairs,
       cast(0 AS BIGINT) AS n_cross
FROM (SELECT unnest(range(0, 40)) AS f)
"""


def q_rate_consistency(spark, sf_dir):
    """[tier: quality_filter × audio] transcript↔audio CROSS-modal
    consistency: chars-per-second of measured audio — misaligned ASR
    rows (transcript from another clip, truncated audio) that no
    unimodal gate can see.  Audio is planted as exactly 1 s, so the
    expected rate equals the transcript length and the oracle
    recomputes every decision + the rate sums from the same transcript
    literals (sources.clips.RATE_TRANSCRIPTS) in SQL."""
    _prep(spark)
    from .operators.audio import with_audio_features, with_rate_consistency
    from .sources.clips import rate_clips_df

    clips = rate_clips_df(spark, 200, partitions=8)
    rated = with_rate_consistency(with_audio_features(clips))
    return (
        rated.groupBy(
            F.coalesce(F.col("rate_drop_reason"), F.lit("keep")).alias(
                "rate_drop_reason"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("chars_per_sec"), 3).alias("sum_cps"),
        )
    )


def _rate_oracle_sql() -> str:
    from .sources.clips import RATE_TRANSCRIPTS

    return f"""
WITH t AS (
  SELECT CASE i % 4 WHEN 0 THEN '{RATE_TRANSCRIPTS[0]}'
                    WHEN 1 THEN '{RATE_TRANSCRIPTS[1]}'
                    WHEN 2 THEN '{RATE_TRANSCRIPTS[2]}'
                    ELSE '' END AS tr
  FROM (SELECT unnest(range(0, 200)) AS i)
),
m AS (SELECT length(trim(tr)) AS n_chars, length(trim(tr)) / 1.0 AS cps FROM t)
SELECT CASE WHEN n_chars = 0 THEN 'empty_transcript'
            WHEN cps > 35.0 THEN 'rate_too_fast'
            WHEN cps < 4.0 THEN 'rate_too_slow'
            ELSE 'keep' END AS rate_drop_reason,
       cast(count(*) AS BIGINT) AS n,
       round(sum(cps), 3) AS sum_cps
FROM m
GROUP BY 1
"""


Q_RATE_CONSISTENCY_SQL = _rate_oracle_sql()


def q_resample_uniform(spark, sf_dir):
    """[tier: quality_filter × audio] uniform-rate normalization — the
    audio 'resize' every ASR/training front-end runs before feature
    extraction: decode → linear resample to 16 kHz → pcm16, one
    concatenated kernel pass per codec per Arrow batch
    (operators/audio.py resampled_clips).  Planted mixed-rate clips
    (sources.clips.resample_rows_for_range: sr keyed by r % 3, n
    samples = 400 + 37r) make every output sample count pure row
    arithmetic, so the oracle recomputes, per source rate: clip count,
    TOTAL resampled samples (from length(bytes)/2 of the re-encoded
    pcm16 — the payload itself is gated, not a side-channel counter),
    and the transcript passthrough char sum (row alignment)."""
    _prep(spark)
    from .operators.audio import resampled_clips
    from .sources.clips import resample_clips_df

    clips = resample_clips_df(spark, 180, partitions=8)
    out = resampled_clips(clips.withColumn("sr_orig", F.col("sr_hz")), 16000)
    return (
        out.groupBy("sr_orig")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            (F.sum(F.length("bytes")) / F.lit(2)).cast("bigint").alias(
                "out_samples"
            ),
            F.sum(F.length("transcript")).alias("transcript_chars"),
        )
        .orderBy("sr_orig")
    )


Q_RESAMPLE_UNIFORM_SQL = """
WITH p AS (
  SELECT r,
         CASE r % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr_orig,
         400 + 37 * r AS n
  FROM (SELECT unnest(range(0, 180)) AS r)
)
SELECT CAST(sr_orig AS INTEGER) AS sr_orig,
       CAST(count(*) AS BIGINT) AS n_clips,
       CAST(sum(CASE WHEN sr_orig = 16000 THEN n
                     ELSE GREATEST(1, CAST(ROUND(n * 16000.0 / sr_orig) AS BIGINT))
                END) AS BIGINT) AS out_samples,
       CAST(sum(15 + length(CAST(r AS VARCHAR))) AS BIGINT) AS transcript_chars
FROM p
GROUP BY sr_orig
ORDER BY sr_orig
"""


def q_chunked_clips(spark, sf_dir):
    """[tier: quality_filter × audio] fixed-window clip segmentation —
    the 30 s-window prep every ASR training front-end runs — done with
    ZERO decode and ZERO Python: fixed-bytes-per-sample codecs make a
    sample-aligned chunk a byte slice, so the whole operator is
    explode(sequence) + substring in Catalyst (operators/audio.py
    chunked_clips; plan pytest-asserts no Python eval, no Exchange).
    Planted mixed-rate clips (n = 400 + 37r samples, sr by r % 3) are
    chunked at 200 ms; the oracle recomputes, per source rate: parent
    count (transcripts land on chunk 0 only), total chunks
    (ceil(n/chunk_samples)), byte conservation (sum of chunk payloads ==
    sum of n·bytes_per_sample), and the chunk duration sum."""
    _prep(spark)
    from .operators.audio import chunked_clips
    from .sources.clips import resample_clips_df

    clips = resample_clips_df(spark, 180, partitions=8)
    chunks = chunked_clips(
        clips.withColumn("sr_orig", F.col("sr_hz")), max_dur_ms=200
    )
    return (
        chunks.groupBy("sr_orig")
        .agg(
            F.count(F.when(F.col("transcript").isNotNull(), 1)).alias(
                "n_clips"
            ),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.length("bytes")).alias("bytes_total"),
            F.sum("dur_ms").alias("dur_ms_total"),
        )
        .orderBy("sr_orig")
    )


def q_loudness_normalize(spark, sf_dir):
    """[tier: quality_filter × audio] loudness normalization — level
    equalization to a target RMS before feature extraction
    (operators/audio.py normalized_clips: one concatenated decode →
    reduceat RMS → repeat-multiply gain → pcm16 re-encode per Arrow
    batch).  Planted level classes (sources.clips.loudness_rows_for_range,
    class in the transcript): every non-silent clip must measure
    RMS within 0.005 of the 0.1 target afterward (pcm16 quantization and
    the loud class's encoder clipping are both far inside that), every
    silent clip must stay at exactly 0 — per-class decision counts the
    oracle recomputes from r % 3."""
    _prep(spark)
    from .operators.audio import normalized_clips, with_audio_features
    from .sources.clips import loudness_clips_df

    clips = loudness_clips_df(spark, 120, partitions=8)
    feats = with_audio_features(normalized_clips(clips))
    return (
        feats.groupBy(F.col("transcript").alias("level_class"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(F.abs(F.col("rms") - F.lit(0.1)) <= 0.005, 1)
            ).alias("n_at_target"),
            F.count(F.when(F.col("rms") == 0.0, 1)).alias("n_silent"),
        )
        .orderBy("level_class")
    )


Q_LOUDNESS_SQL = """
SELECT CASE r % 3 WHEN 0 THEN 'quiet' WHEN 1 THEN 'loud' ELSE 'silent' END
           AS level_class,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN r % 3 < 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_at_target,
       CAST(sum(CASE WHEN r % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_silent
FROM (SELECT unnest(range(0, 120)) AS r)
GROUP BY 1
ORDER BY 1
"""


def q_spectral_gate(spark, sf_dir):
    """[tier: quality_filter × audio] frequency-domain quality gate —
    spectral flatness + centroid over Hann-windowed STFT frames, ONE
    blocked rfft for every frame of every clip in an Arrow batch
    (kernel/spectral.py, operators/audio.py with_spectral_features).
    Planted spectral classes (sources.clips.spectral_rows_for_range,
    class in the transcript, r in the clip_id): tones must read their
    planted frequency within 60 Hz with flatness < 0.1, white noise
    must read flatness > 0.3 (→ 'spectral_noise'), an 80 Hz hum must
    read centroid < 150 Hz (→ 'spectral_hum') — per-class decision
    counts the oracle recomputes from r % 4."""
    _prep(spark)
    from .operators.audio import (
        spectral_drop_reason_col,
        with_spectral_features,
    )
    from .sources.clips import SPECTRAL_TONE_FREQS, spectral_clips_df

    clips = spectral_clips_df(spark, 120, partitions=8)
    feats = with_spectral_features(clips)
    r = F.substring("clip_id", 4, 8).cast("long")
    exp_f = F.element_at(
        F.array(*[F.lit(float(f)) for f in SPECTRAL_TONE_FREQS]),
        (r % 5 + 1).cast("int"),
    )
    reason = spectral_drop_reason_col()
    passed = (
        F.when(
            F.col("transcript") == "tone",
            (F.abs(F.col("spectral_centroid_hz") - exp_f) <= 60.0)
            & (F.col("spectral_flatness") < 0.1)
            & reason.isNull(),
        )
        .when(F.col("transcript") == "noise", reason == "spectral_noise")
        .otherwise(reason == "spectral_hum")
    )
    return (
        feats.groupBy(F.col("transcript").alias("spectral_class"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(passed, 1)).alias("n_expected"),
        )
        .orderBy("spectral_class")
    )


Q_SPECTRAL_GATE_SQL = """
SELECT CASE r % 4 WHEN 2 THEN 'noise' WHEN 3 THEN 'hum' ELSE 'tone' END
           AS spectral_class,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_expected
FROM (SELECT unnest(range(0, 120)) AS r)
GROUP BY 1
ORDER BY 1
"""


def q_time_mask(spark, sf_dir):
    """[tier: quality_filter × audio] SpecAugment-style time masking as
    a pure-Catalyst byte splice (operators/audio.py time_masked_clips):
    mask_ms of samples overwritten with the codec's digital-zero code —
    no decode, no Python, no Exchange, payload length and codec
    preserved.  Placement is deterministic (Knuth-multiply key passed
    explicitly), so this gate regenerates every planted clip and
    recomputes the ENTIRE masked payload independently in numpy: the
    count below is byte-for-byte equality across all 120 clips, which
    subsumes mask-all-zero / outside-untouched / length-preserved."""
    _prep(spark)
    from .operators.audio import time_masked_clips
    from .sources.clips import spectral_clips_df

    clips = spectral_clips_df(spark, 120, partitions=8)
    r = F.substring("clip_id", 4, 8).cast("bigint")
    key = F.pmod(r * F.lit(2654435761), F.lit(2**32))
    masked = time_masked_clips(clips, mask_ms=100, start_key=key)

    def check(iterator):
        import pandas as pd

        from .sources.clips import spectral_rows_for_range

        for pdf in iterator:
            n_exact = 0
            for clip_id, data in zip(pdf["clip_id"], pdf["bytes"]):
                rr = int(clip_id.split("-")[1])
                orig = bytes(
                    spectral_rows_for_range(rr, rr + 1)["bytes"].iloc[0]
                )
                n = len(orig) // 2
                m = min(1600, n)  # 100 ms at 16 kHz
                start = (rr * 2654435761 % 2**32) % (n - m + 1)
                exp = (
                    orig[: start * 2]
                    + b"\x00\x00" * m
                    + orig[(start + m) * 2:]
                )
                if bytes(data) == exp:
                    n_exact += 1
            yield pd.DataFrame({"n": [len(pdf)], "n_exact": [n_exact]})

    out = masked.mapInPandas(check, "n long, n_exact long")
    return out.agg(
        F.sum("n").alias("n_clips"), F.sum("n_exact").alias("n_exact")
    )


Q_TIME_MASK_SQL = """
SELECT cast(120 as bigint) AS n_clips, cast(120 as bigint) AS n_exact
"""


def q_noise_mix(spark, sf_dir):
    """[tier: quality_filter × audio] additive-noise augmentation at a
    target SNR (operators/audio.py noise_mixed_clips): deterministic
    counter-based splitmix64 → Box-Muller noise keyed on (clip id,
    sample index) — regenerable by an auditor, identical under any
    partitioning.  Gate: every planted clip's measured SNR (regenerated
    original vs decoded mixed payload) lands within ±1 dB of the 20 dB
    target, and a re-run produces the byte-identical payload
    (determinism observed twice under the same gate)."""
    _prep(spark)
    from .operators.audio import noise_mixed_clips
    from .sources.clips import spectral_clips_df

    clips = spectral_clips_df(spark, 120, partitions=8)
    mixed = noise_mixed_clips(clips, snr_db=20.0)
    again = noise_mixed_clips(spectral_clips_df(spark, 120, partitions=5),
                              snr_db=20.0).select(
        "clip_id", F.col("bytes").alias("bytes2"))

    def check(iterator):
        import pandas as pd

        from .kernel.audio import decode, snr_db
        from .sources.clips import spectral_rows_for_range

        for pdf in iterator:
            n_band = 0
            n_same = 0
            for clip_id, data, data2 in zip(
                pdf["clip_id"], pdf["bytes"], pdf["bytes2"]
            ):
                rr = int(clip_id.split("-")[1])
                orig = decode(
                    bytes(
                        spectral_rows_for_range(rr, rr + 1)["bytes"].iloc[0]
                    ),
                    "pcm16",
                ).astype("float64")
                got = snr_db(orig, decode(bytes(data), "pcm16"))
                if 19.0 <= got <= 21.0:
                    n_band += 1
                if bytes(data) == bytes(data2):
                    n_same += 1
            yield pd.DataFrame({"n": [len(pdf)], "n_band": [n_band],
                                "n_same": [n_same]})

    joined = mixed.join(again, "clip_id")
    out = joined.mapInPandas(check, "n long, n_band long, n_same long")
    return out.agg(
        F.sum("n").alias("n_clips"),
        F.sum("n_band").alias("n_in_band"),
        F.sum("n_same").alias("n_deterministic"),
    )


Q_NOISE_MIX_SQL = """
SELECT cast(120 as bigint) AS n_clips, cast(120 as bigint) AS n_in_band,
       cast(120 as bigint) AS n_deterministic
"""


def q_merge_segments(spark, sf_dir):
    """[tier: quality_filter × audio] segment merging — the inverse of
    chunking: VAD segments pack into training windows of at most
    max_dur_ms, never crossing a clip boundary, never splitting a
    segment (operators/audio.py merge_segments; offset-based group
    assignment, pack_sequences semantics at per-clip scope).  Two arms
    over the planted utterance corpus: w30 forces two_utterances clips
    into TWO windows (each block is 40-48 ms > 30), w1000 merges them
    back into ONE window whose payload is the byte-concat of both
    segments — counts, durations, segment counts, and byte sums per
    class recomputed closed-form by the oracle from r % 4 / r % 5 /
    (r div 4) % 3."""
    _prep(spark)
    from .operators.audio import merge_segments, split_clips_on_silence
    from .sources.clips import SEGMENT_CLASSES, segment_clips_df

    segs = split_clips_on_silence(
        segment_clips_df(spark, 120, partitions=8), min_gap_ms=25
    )
    arms = [("w30", 30), ("w1000", 1000)]
    outs = []
    for arm, max_dur in arms:
        m = merge_segments(segs, max_dur).withColumn("arm", F.lit(arm))
        outs.append(m)
    merged = outs[0].unionByName(outs[1])
    r = F.substring("clip_id", 4, 8).cast("long")
    cls = F.element_at(
        F.array(*[F.lit(c) for c in SEGMENT_CLASSES]), (r % 4 + 1).cast("int")
    )
    return (
        merged.groupBy("arm", cls.alias("seg_class"))
        .agg(
            F.count(F.lit(1)).alias("n_merged"),
            F.count_distinct("clip_id").alias("n_clips"),
            F.sum("dur_ms").alias("sum_dur"),
            F.sum("n_segments").alias("sum_segments"),
            F.sum(F.length("bytes")).alias("sum_bytes"),
        )
        .orderBy("arm", "seg_class")
    )


Q_MERGE_SEGMENTS_SQL = """
WITH p AS (
  SELECT r,
         CASE r % 4 WHEN 0 THEN 'single' WHEN 1 THEN 'two_utterances'
                    WHEN 2 THEN 'short_gap' ELSE 'silent' END AS seg_class,
         320 + 16 * (r % 5) AS n,
         CASE WHEN (r // 4) % 3 = 0 THEN 2 ELSE 1 END AS bps
  FROM (SELECT unnest(range(0, 120)) AS r)
),
arms AS (SELECT unnest(['w30', 'w1000']) AS arm),
rows_ AS (
  SELECT arm, seg_class,
         CASE WHEN seg_class = 'two_utterances' AND arm = 'w30'
              THEN 2 ELSE 1 END AS n_merged,
         CASE seg_class WHEN 'two_utterances' THEN 2 ELSE 1 END AS n_segs,
         CASE seg_class WHEN 'single' THEN n // 8
                        WHEN 'two_utterances' THEN 2 * (n // 8)
                        WHEN 'short_gap' THEN (2 * n + 104) // 8
                        ELSE 0 END AS dur,
         CASE seg_class WHEN 'single' THEN n * bps
                        WHEN 'two_utterances' THEN 2 * n * bps
                        WHEN 'short_gap' THEN (2 * n + 104) * bps
                        ELSE 0 END AS nbytes
  FROM p CROSS JOIN arms
)
SELECT arm, seg_class,
       CAST(sum(n_merged) AS BIGINT) AS n_merged,
       CAST(count(*) AS BIGINT) AS n_clips,
       CAST(sum(dur) AS BIGINT) AS sum_dur,
       CAST(sum(n_segs) AS BIGINT) AS sum_segments,
       CAST(sum(nbytes) AS BIGINT) AS sum_bytes
FROM rows_
GROUP BY arm, seg_class
ORDER BY arm, seg_class
"""


def q_adpcm_transcode(spark, sf_dir):
    """[tier: quality_filter × audio] IMA-ADPCM codec support under the
    oracle (kernel/audio.py batch_adpcm_encode / batch_adpcm_decode —
    the standard IMA/DVI 4-bit algorithm, bit-exact vs the stdlib's
    independent C implementation in tests/test_adpcm.py).  The same
    mixed-codec fixture q66 uses is transcoded to the STATEFUL adpcm
    target: per-clip fresh predictor state, sample-major vectorized
    encode, odd-length sources repeat-padded by one sample so every
    payload holds a whole number of bytes (2 samples/byte exactly).

    Gated per source codec, all closed-form for the SQL oracle:
      * out_bytes    — sum of ceil(n/2) payload bytes (n = 400 + 37*r)
      * n_pad        — odd-n clips whose decode returns n+1 samples
        (these pairs report -inf from batch_pair_snr's equal-length
        guard, BY DESIGN — counted, not hidden)
      * n_snr_ge_15  — even-n pairs clearing the measured 4-bit
        predictive-quantizer floor (fixture min 19.1 dB; gate 15 dB —
        adpcm trades fidelity for 2x compression and sits BELOW the
        30 dB passthrough invariant, which is why transcode_clips
        documents it as an ingest/storage codec)
      * n_len_ok     — every payload's Catalyst-computable sample count
        (2 x byte length) equals the even-rounded source count."""
    _prep(spark)
    from .operators.audio import _pair_snr_udf, transcode_clips
    from .sources.clips import transcode_clips_df

    clips = transcode_clips_df(spark, 180, partitions=8)
    out = transcode_clips(
        clips.withColumn("codec_orig", F.col("codec")), "adpcm"
    )
    orig = clips.select(
        F.col("clip_id"),
        F.col("bytes").alias("bytes_src"),
        F.col("codec").alias("codec_src"),
    )

    r = F.substring("clip_id", 4, 8).cast("long")
    n_src = F.lit(400) + F.lit(37) * r
    n_even = n_src + n_src % 2
    joined = (
        out.join(orig, "clip_id")
        .withColumn(
            "snr_db",
            _pair_snr_udf()(
                F.col("bytes_src"), F.col("bytes"),
                F.col("codec_src"), F.col("codec"),
            ),
        )
        .withColumn("_n_src", n_src)
        .withColumn("_len_ok", (F.length("bytes") * 2 == n_even))
    )
    return (
        joined.groupBy("codec_orig")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum(F.length("bytes")).alias("out_bytes"),
            F.sum((F.col("_n_src") % 2 == 1).cast("long")).alias("n_pad"),
            F.sum(
                ((F.col("_n_src") % 2 == 0) & (F.col("snr_db") >= 15.0))
                .cast("long")
            ).alias("n_snr_ge_15"),
            F.sum(F.col("_len_ok").cast("long")).alias("n_len_ok"),
        )
        .orderBy("codec_orig")
    )


Q_ADPCM_TRANSCODE_SQL = """
WITH p AS (
  SELECT r,
         CASE r % 3 WHEN 0 THEN 'pcm16' WHEN 1 THEN 'ulaw' ELSE 'alaw'
         END AS codec_orig,
         400 + 37 * r AS n
  FROM (SELECT unnest(range(0, 180)) AS r)
)
SELECT codec_orig,
       CAST(count(*) AS BIGINT) AS n_clips,
       CAST(sum((n + 1) // 2) AS BIGINT) AS out_bytes,
       CAST(sum(CASE WHEN n % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pad,
       CAST(sum(CASE WHEN n % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_snr_ge_15,
       CAST(count(*) AS BIGINT) AS n_len_ok
FROM p
GROUP BY codec_orig
ORDER BY codec_orig
"""


def q_transcode(spark, sf_dir):
    """[tier: quality_filter × audio] codec normalization — transcode a
    mixed-codec corpus (pcm16 / ulaw / alaw by ``r % 3``) to one target
    codec (operators/audio.py transcode_clips: one concatenated decode +
    one whole-buffer companding encode per source codec per Arrow
    batch; same-codec rows pass through byte-identical with zero
    decode).  The north-rule 30 dB invariant is gated FOR REAL: the
    output joins back to the source payloads on clip_id and
    ``kernel.audio.batch_pair_snr`` scores every (source, transcoded)
    pair — all must clear 30 dB (G.711 companding floor is ~35 dB,
    measured; passthrough pairs are byte-identical → ~300 dB).  The
    oracle recomputes per source codec: clip count, TOTAL output payload
    bytes (1 byte/sample at the ulaw target — the payload itself is
    gated), transcript char sum (row alignment), and the SNR-pass count
    (= n_clips by the invariant)."""
    _prep(spark)
    from .operators.audio import _pair_snr_udf, transcode_clips
    from .sources.clips import transcode_clips_df

    clips = transcode_clips_df(spark, 180, partitions=8)
    out = transcode_clips(
        clips.withColumn("codec_orig", F.col("codec")), "ulaw"
    )
    orig = clips.select(
        F.col("clip_id"),
        F.col("bytes").alias("bytes_src"),
        F.col("codec").alias("codec_src"),
    )

    joined = out.join(orig, "clip_id").withColumn(
        "snr_db",
        _pair_snr_udf()(
            F.col("bytes_src"), F.col("bytes"),
            F.col("codec_src"), F.col("codec"),
        ),
    )
    return (
        joined.groupBy("codec_orig")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum(F.length("bytes")).alias("out_bytes"),
            F.sum(F.length("transcript")).alias("transcript_chars"),
            F.sum((F.col("snr_db") >= 30.0).cast("long")).alias("n_snr_ge_30"),
        )
        .orderBy("codec_orig")
    )


Q_TRANSCODE_SQL = """
WITH p AS (
  SELECT r,
         CASE r % 3 WHEN 0 THEN 'pcm16' WHEN 1 THEN 'ulaw' ELSE 'alaw'
         END AS codec_orig,
         400 + 37 * r AS n
  FROM (SELECT unnest(range(0, 180)) AS r)
)
SELECT codec_orig,
       CAST(count(*) AS BIGINT) AS n_clips,
       CAST(sum(n) AS BIGINT) AS out_bytes,
       CAST(sum(16 + length(CAST(r AS VARCHAR))) AS BIGINT) AS transcript_chars,
       CAST(count(*) AS BIGINT) AS n_snr_ge_30
FROM p
GROUP BY codec_orig
ORDER BY codec_orig
"""


def q_collapse_lines(spark, sf_dir):
    """[training-data] within-document repetition removal
    (operators/text_analysis.py collapse_repeated_lines): planted
    multi-line docs where every line's content and repeat layout is
    pure row arithmetic — even rows interleave three lines as
    A,B,A,C,B,A (collapse → A,B,C), odd rows repeat one line around
    blanks as A,A,'',A,'' (collapse → A,'') — so the oracle recomputes
    the ENTIRE collapsed text per row, not just counts.  The operator
    is pure Catalyst (split → higher-order filter on first occurrence →
    array_join): map-only, zero Python, zero shuffle."""
    base = spark.range(0, 400).select(F.col("id").alias("doc_r"))
    a = F.concat(F.lit("alpha "), (F.col("doc_r") % 7).cast("string"))
    b = F.concat(F.lit("beta "), (F.col("doc_r") % 5).cast("string"))
    c = F.concat(F.lit("gamma "), (F.col("doc_r") % 3).cast("string"))
    text = F.when(
        F.col("doc_r") % 2 == 0, F.concat_ws("\n", a, b, a, c, b, a)
    ).otherwise(F.concat_ws("\n", a, a, F.lit(""), a, F.lit("")))
    docs = base.withColumn("text", text).withColumn(
        "n_lines_in", F.size(F.split(F.col("text"), "\n", -1))
    )
    from .operators.text_analysis import collapse_repeated_lines

    out = collapse_repeated_lines(docs, "text", out_col="collapsed")
    return out.select(
        "doc_r",
        "collapsed",
        "n_lines_in",
        F.size(F.split(F.col("collapsed"), "\n", -1)).alias("n_lines_out"),
    )


Q_COLLAPSE_LINES_SQL = """
WITH p AS (
  SELECT r,
         'alpha ' || CAST(r % 7 AS VARCHAR) AS a,
         'beta ' || CAST(r % 5 AS VARCHAR) AS b,
         'gamma ' || CAST(r % 3 AS VARCHAR) AS c
  FROM (SELECT unnest(range(0, 400)) AS r)
)
SELECT CAST(r AS BIGINT) AS doc_r,
       CASE WHEN r % 2 = 0
            THEN a || chr(10) || b || chr(10) || c
            ELSE a || chr(10) END AS collapsed,
       CASE WHEN r % 2 = 0 THEN 6 ELSE 5 END AS n_lines_in,
       CASE WHEN r % 2 = 0 THEN 3 ELSE 2 END AS n_lines_out
FROM p
"""


def q_top_terms(spark, sf_dir):
    """[training-data] corpus vocabulary: top-10 unigrams and top-10
    bigrams over the REAL documents table (operators/text_analysis.py
    top_terms) — the frequency table BPE/vocab training starts from.
    Plan shape is the one to want at 100 TB: map-side n-gram explode,
    partial-aggregated groupBy (shuffle carries per-mapper term counts,
    not token instances), and orderBy+limit compiling to
    TakeOrderedAndProject (per-partition top-k heaps, no global sort).
    Ties total-ordered (count desc, term asc) in both engines."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from .operators.text_analysis import top_terms

    uni = top_terms(docs, "text", k=10, n=1).withColumn(
        "gram", F.lit(1)
    )
    bi = top_terms(docs, "text", k=10, n=2).withColumn(
        "gram", F.lit(2)
    )
    return uni.unionByName(bi).select("gram", "term", "n")


Q_TOP_TERMS_SQL = """
WITH w AS (
  SELECT doc_id,
         unnest(wl) AS word,
         generate_subscripts(wl, 1) AS ord
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS wl
    FROM documents
  )
),
uni AS (
  SELECT 1 AS gram, word AS term, count(*) AS n
  FROM w GROUP BY word
  ORDER BY n DESC, term ASC LIMIT 10
),
bi AS (
  SELECT 2 AS gram, term, count(*) AS n FROM (
    SELECT word || ' ' ||
           lead(word) OVER (PARTITION BY doc_id ORDER BY ord) AS term
    FROM w
  ) WHERE term IS NOT NULL
  GROUP BY term
  ORDER BY n DESC, term ASC LIMIT 10
)
SELECT CAST(gram AS INTEGER) AS gram, term, CAST(n AS BIGINT) AS n FROM uni
UNION ALL
SELECT CAST(gram AS INTEGER) AS gram, term, CAST(n AS BIGINT) AS n FROM bi
"""


def q_importance_weight(spark, sf_dir):
    """[training-data] DSIR-style importance weighting
    (operators/importance.py, Xie et al. NeurIPS 2023): planted
    two-vocabulary corpus — even rows speak target vocabulary
    (apple/banana/cherry), odd rows an off-distribution one
    (xylophone/zebra/quartz) — with the target model fit on the even
    rows only.  Signs are then EXACT, not statistical: a target-vocab
    bucket has equal counts in both models, so its weight is
    ln((R+αd)/(T+αd)) > 0 (R > T strictly); an off-vocab bucket is
    unseen in target → strongly negative.  The oracle recomputes per
    class: doc count and positive-score count (all of A, none of B).
    Everything is Catalyst: hashing (xxhash64→pmod), model fit
    (≤ dim-row aggregations), broadcast scoring join."""
    from .operators.importance import importance_weights, with_importance_weight

    base = spark.range(0, 240).select(F.col("id").alias("doc_r"))
    a_words = F.concat(
        F.lit("apple banana "),
        F.element_at(
            F.array(F.lit("cherry"), F.lit("banana"), F.lit("apple")),
            (F.col("doc_r") % 3 + 1).cast("int"),
        ),
        F.lit(" cherry"),
    )
    b_words = F.concat(
        F.lit("xylophone zebra "),
        F.element_at(
            F.array(F.lit("quartz"), F.lit("zebra"), F.lit("xylophone")),
            (F.col("doc_r") % 3 + 1).cast("int"),
        ),
    )
    docs = base.withColumn(
        "text", F.when(F.col("doc_r") % 2 == 0, a_words).otherwise(b_words)
    )
    target = docs.filter(F.col("doc_r") % 2 == 0)
    w = importance_weights(target, docs, dim=4096)
    scored = with_importance_weight(docs, w, id_col="doc_r", dim=4096)
    return (
        scored.groupBy(
            F.when(F.col("doc_r") % 2 == 0, F.lit("target_like"))
            .otherwise(F.lit("off_distribution"))
            .alias("cls")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("importance") > 0).cast("long")).alias("n_positive"),
        )
        .orderBy("cls")
    )


Q_IMPORTANCE_SQL = """
SELECT cls, CAST(120 AS BIGINT) AS n_docs,
       CAST(CASE cls WHEN 'target_like' THEN 120 ELSE 0 END AS BIGINT)
         AS n_positive
FROM (SELECT unnest(['off_distribution', 'target_like']) AS cls)
ORDER BY cls
"""


def q_log_mel(spark, sf_dir):
    """[tier: quality_filter × audio] log-mel filterbank extraction —
    the feature matrix ASR training actually consumes
    (operators/audio.py with_log_mel: one blocked FFT + one mel matmul
    per (codec, sr) group per Arrow batch).  Planted spectral classes
    (tone at SPECTRAL_TONE_FREQS[r % 5] / white noise / 80 Hz hum, all
    16 kHz × 4800 samples) make the gate closed-form: every clip yields
    exactly 17 frames (1 + (4800−512)//256), every tone's time-mean mel
    peak reads its planted frequency within 12% (measured max deviation
    5.5%), and every hum reads < 150 Hz.  The oracle recomputes counts,
    frame totals, and the match count from r % 4 alone."""
    _prep(spark)
    from .operators.audio import with_log_mel
    from .sources.clips import (
        SPECTRAL_CLASSES,
        SPECTRAL_TONE_FREQS,
        spectral_clips_df,
    )

    mel = with_log_mel(spectral_clips_df(spark, 120, partitions=8))
    r = F.substring("clip_id", 4, 8).cast("long")
    cls = F.element_at(
        F.array(*[F.lit(c) for c in SPECTRAL_CLASSES]),
        (r % 4 + 1).cast("int"),
    )
    f0 = F.element_at(
        F.array(*[F.lit(float(f)) for f in SPECTRAL_TONE_FREQS]),
        (r % 5 + 1).cast("int"),
    )
    match = (
        F.when(
            cls == "tone",
            F.abs(F.col("mel_argmax_hz") - f0) <= 0.12 * f0,
        )
        .when(cls == "hum", F.col("mel_argmax_hz") < 150.0)
        .otherwise(F.lit(True))
    )
    return (
        mel.groupBy(cls.alias("cls"))
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("n_mel_frames").alias("sum_frames"),
            F.sum(match.cast("long")).alias("n_freq_match"),
            F.sum(F.col("mel_ok").cast("long")).alias("n_ok"),
        )
        .orderBy("cls")
    )


Q_LOG_MEL_SQL = """
SELECT cls,
       CAST(n AS BIGINT) AS n_clips,
       CAST(17 * n AS BIGINT) AS sum_frames,
       CAST(n AS BIGINT) AS n_freq_match,
       CAST(n AS BIGINT) AS n_ok
FROM (
  SELECT CASE i WHEN 0 THEN 'tone' WHEN 1 THEN 'noise' ELSE 'hum' END AS cls,
         CASE i WHEN 0 THEN 60 ELSE 30 END AS n
  FROM (SELECT unnest(range(0, 3)) AS i)
)
ORDER BY cls
"""


def q_dc_removal(spark, sf_dir):
    """[tier: quality_filter × audio] DC-offset / drift removal
    (operators/audio.py dc_removed_clips — centered-moving-average
    high-pass, one global cumsum per (codec, sr) group): a constant
    mic/ADC offset inflates RMS and pollutes every spectral frame's DC
    bin, so the repair runs before level normalization.  Planted
    classes (r % 2): 'offset' = 1 kHz tone + 0.3 DC (input rms ≈ 0.415),
    'clean' = the tone alone (rms ≈ 0.283).  Gate: every input-offset
    clip reads the inflated band BEFORE and the pure-tone band AFTER
    (the lost power can only be the removed DC), and every clean clip
    is (near-)untouched in the tone band on both sides."""
    _prep(spark)
    from .operators.audio import dc_removed_clips, with_audio_features
    from .sources.clips import DC_CLASSES, dc_clips_df

    clips = dc_clips_df(spark, 120, partitions=8)
    r = F.substring("clip_id", 4, 8).cast("long")
    cls = F.element_at(
        F.array(*[F.lit(c) for c in DC_CLASSES]), (r % 2 + 1).cast("int")
    )
    tone_band = F.col("rms").between(0.26, 0.30)
    infl_band = F.col("rms").between(0.40, 0.43)
    before = (
        with_audio_features(clips)
        .select(cls.alias("cls"),
                F.when(cls == "offset", infl_band)
                .otherwise(tone_band).alias("band_ok"))
        .groupBy("cls")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("band_ok").cast("long")).alias("n_band"))
        .withColumn("stage", F.lit("before"))
    )
    after = (
        with_audio_features(dc_removed_clips(clips))
        .select(cls.alias("cls"), tone_band.alias("band_ok"))
        .groupBy("cls")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("band_ok").cast("long")).alias("n_band"))
        .withColumn("stage", F.lit("after"))
    )
    return before.unionByName(after).orderBy("stage", "cls")


Q_DC_REMOVAL_SQL = """
SELECT stage, cls,
       CAST(60 AS BIGINT) AS n,
       CAST(60 AS BIGINT) AS n_band
FROM (SELECT unnest(['after', 'before']) AS stage)
CROSS JOIN (SELECT unnest(['clean', 'offset']) AS cls)
ORDER BY stage, cls
"""


def q_bandwidth_gate(spark, sf_dir):
    """[tier: quality_filter × audio] effective-bandwidth / upsampling
    detection (operators/audio.py with_bandwidth): audio upsampled from
    a lower rate carries no energy above the source Nyquist, so its
    0.95-energy rolloff sits far below the claimed Nyquist — the
    metadata lies and the spectrum proves it.  Planted classes
    (sources/clips.py bw_rows_for_range, r % 3): genuine 16 kHz
    wideband noise reads ~0.47 × sr, 8 kHz-born noise relabeled 16 kHz
    reads ~0.27 × sr (flagged at < 0.30 × sr), and HONEST native-8 kHz
    noise reads ~0.47 × its own rate and must NOT flag.  The oracle
    recomputes counts, frame totals (16k clips: 36 frames of 512/256;
    8k clips: 36 of 256/128), and the flag from r % 3 alone."""
    _prep(spark)
    from .operators.audio import with_bandwidth
    from .sources.clips import BW_CLASSES, bw_clips_df

    bw = with_bandwidth(bw_clips_df(spark, 120, partitions=8))
    r = F.substring("clip_id", 4, 8).cast("long")
    cls = F.element_at(
        F.array(*[F.lit(c) for c in BW_CLASSES]), (r % 3 + 1).cast("int")
    )
    band = (
        F.when(cls == "upsampled", F.col("upsampled_suspect"))
        .otherwise(~F.col("upsampled_suspect"))
    )
    return (
        bw.groupBy(cls.alias("cls"))
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("bw_n_frames").alias("sum_frames"),
            F.sum(band.cast("long")).alias("n_flag_match"),
            F.sum(F.col("bw_ok").cast("long")).alias("n_ok"),
        )
        .orderBy("cls")
    )


Q_BANDWIDTH_SQL = """
SELECT cls,
       CAST(40 AS BIGINT) AS n_clips,
       CAST(36 * 40 AS BIGINT) AS sum_frames,
       CAST(40 AS BIGINT) AS n_flag_match,
       CAST(40 AS BIGINT) AS n_ok
FROM (
  SELECT unnest(['native8k', 'upsampled', 'wideband']) AS cls
)
ORDER BY cls
"""


def q_data_card(spark, sf_dir):
    """[training-data reporting] per-language corpus DATA CARD — the
    per-source summary a dataset release ships with, composed from two
    independent signal families in ONE map-only plan: quality signals
    (operators/quality.py) + Gopher repetition signals
    (operators/repetition.py), aggregated per lang.  All gated values
    are exact integers (counts, word sums, and per-doc ppm-quantized
    fractions summed as longs — never a float sum, whose order-
    dependent rounding would break cross-engine hashing)."""
    _prep(spark)
    from .operators.quality import with_quality_signals
    from .operators.repetition import with_repetition_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = with_repetition_signals(with_quality_signals(docs, "text"))
    return (
        sig.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_words").cast("long")).alias("sum_words"),
            F.sum(_ppm(F.col("symbol_ratio"))).alias("sum_symbol_ppm"),
            F.sum(_ppm(F.col("dup_line_frac"))).alias("sum_dup_line_ppm"),
            F.sum(_ppm(F.col("top_ngram_char_frac_2"))).alias(
                "sum_top2_ppm"
            ),
        )
        .orderBy("lang")
    )


Q_DATA_CARD_SQL = """
WITH base AS (
  SELECT doc_id, lang, coalesce(text, '') AS text,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                           '\\s+'), x -> x <> '') AS wl
  FROM documents
),
lstat AS (
  SELECT doc_id,
         sum(cnt) AS tot_lines,
         sum(CASE WHEN cnt >= 2 THEN cnt - 1 ELSE 0 END) AS dup_lcnt
  FROM (
    SELECT doc_id, line, count(*) AS cnt FROM (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM base
    ) GROUP BY doc_id, line
  ) GROUP BY doc_id
),
g2 AS (
  SELECT doc_id, max(cnt * length(g)) AS top_mass
  FROM (
    SELECT doc_id, g, count(*) AS cnt FROM (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(wl) - 2 + 2, 1)),
               i -> array_to_string(wl[i:i + 1], ' '))) AS g
      FROM base
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
),
per_doc AS (
  SELECT b.lang,
    CASE WHEN trim(b.text) = '' THEN 0
         ELSE len(string_split_regex(trim(b.text), '\\s+')) END AS n_words,
    CAST(CASE WHEN length(b.text) = 0 THEN 0
         ELSE floor((length(b.text) -
                     len(regexp_extract_all(b.text, '[A-Za-z0-9\\s]')))
                    * 1000000.0 / length(b.text) + 0.5) END AS BIGINT)
        AS symbol_ppm,
    CAST(floor(CASE WHEN l.tot_lines > 0
               THEN CAST(l.dup_lcnt AS DOUBLE) / l.tot_lines
               ELSE 0.0 END * 1000000 + 0.5) AS BIGINT) AS dup_line_ppm,
    CAST(floor(CASE WHEN length(array_to_string(b.wl, ' ')) > 0
               THEN CAST(coalesce(g2.top_mass, 0) AS DOUBLE)
                    / length(array_to_string(b.wl, ' '))
               ELSE 0.0 END * 1000000 + 0.5) AS BIGINT) AS top2_ppm
  FROM base b
  JOIN lstat l USING (doc_id)
  LEFT JOIN g2 USING (doc_id)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS sum_words,
       CAST(sum(symbol_ppm) AS BIGINT) AS sum_symbol_ppm,
       CAST(sum(dup_line_ppm) AS BIGINT) AS sum_dup_line_ppm,
       CAST(sum(top2_ppm) AS BIGINT) AS sum_top2_ppm
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


def q_audio_export_pipeline(spark, sf_dir):
    """[tier end-to-end] the full audio curation → trainer-artifact
    chain under ONE oracle: planted-defect clips (q40's closed-form
    classes) → audio quality gate (keeps only r%6 ∈ {4,5}: silent /
    clipped / too-short / undecodable all drop) → codec normalization
    to μ-law (every kept clip becomes exactly 8000 bytes — 1000 ms at
    8 kHz, 1 byte/sample) → size-balanced WebDataset tar export.  The
    gate drops bytes with its features (by design), so the kept ids
    join back to the raw clips on the 8-byte id before transcoding.
    The oracle recomputes the kept sequence, the 8000·i cumsum, and
    the 100 kB shard split in closed form — any stage breaking its
    contract shifts every manifest row."""
    import tempfile

    _prep(spark)
    from .operators.audio import transcode_clips, with_audio_keep_drop
    from .sinks.webdataset import write_webdataset
    from .sources.clips import gate_clips_df

    clips = gate_clips_df(spark, 180, partitions=8)
    kept_ids = (
        with_audio_keep_drop(clips).where("audio_keep").select("clip_id")
    )
    kept = clips.join(kept_ids, "clip_id")
    norm = transcode_clips(kept, "ulaw")
    out = tempfile.mkdtemp(prefix="wds_q82_")
    man = write_webdataset(norm, out, shard_bytes=100_000)
    return man.select(
        "shard_id",
        F.col("n_items").cast("long").alias("n_items"),
        F.col("data_bytes").cast("long").alias("data_bytes"),
    ).orderBy("shard_id")


Q_AUDIO_EXPORT_SQL = """
WITH kept AS (
  SELECT row_number() OVER (ORDER BY r) - 1 AS i
  FROM (SELECT unnest(range(0, 180)) AS r)
  WHERE r % 6 IN (4, 5)
)
SELECT CAST((8000 * i) // 100000 AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(count(*) * 8000 AS BIGINT) AS data_bytes
FROM kept
GROUP BY shard_id
ORDER BY shard_id
"""


def q_corpus_diff(spark, sf_dir):
    """[training-data audit] corpus snapshot diff
    (operators/dedup.py corpus_diff): old = documents; new = documents
    minus ids %41==0 (removed), with ' rev2 edit' appended to surviving
    ids %37==0 (changed), plus 25 brand-new ids ≥ 100000 (added);
    everything else unchanged.  ONE id-co-partitioned full-outer join
    of (id, fingerprint) projections — payloads never shuffle.  The
    oracle recomputes every status from the same id arithmetic (a
    text-only '  trailing-space' edit planted on ids %39==0 must read
    UNCHANGED — fingerprints normalize whitespace, matching exact
    dedup's identity)."""
    _prep(spark)
    from .operators.dedup import corpus_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    survived = docs.where(F.col("doc_id") % 41 != 0)
    new = survived.withColumn(
        "text",
        F.when(F.col("doc_id") % 37 == 0,
               F.concat(F.col("text"), F.lit(" rev2 edit")))
        .when(F.col("doc_id") % 39 == 0,
              F.concat(F.col("text"), F.lit("  ")))  # whitespace-only
        .otherwise(F.col("text")),
    ).unionByName(
        spark.range(25).select(
            (F.col("id") + 100000).alias("doc_id"),
            F.format_string("fresh crawl document %d", F.col("id"))
            .alias("text"),
            F.lit("xx").alias("lang"), F.lit("crawl").alias("source"),
            F.lit(0).cast("long").alias("n_chars"),
        )
    )
    d = corpus_diff(docs, new)
    return (
        d.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("status")
    )


Q_CORPUS_DIFF_SQL = """
WITH s AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 41 = 0 THEN 'removed'
           WHEN doc_id % 37 = 0 THEN 'changed'
           ELSE 'unchanged'   -- %39 whitespace-only edit normalizes away
         END AS status
  FROM documents
  UNION ALL
  SELECT 100000 + i AS doc_id, 'added' AS status
  FROM (SELECT unnest(range(0, 25)) AS i)
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM s
GROUP BY status
ORDER BY status
"""


def q_fuzzy_decontamination(spark, sf_dir):
    """[training-data] paraphrase-robust eval decontamination
    (operators/dedup.py flag_contaminated_fuzzy) on a PLANTED corpus —
    the real documents table contains organic near-duplicates whose
    est-Jaccard crosses any threshold unpredictably for a SQL oracle
    (the operator correctly flags them; the oracle can't recompute
    MinHash), so the gate plants 300 token-unique docs where the ONLY
    possible matches are the 3 verbatim leaks (est-Jaccard exactly 1.0,
    deterministically over threshold 0.9) and 3 unrelated synthetic
    prompts (token-disjoint — no est anywhere near 0.9).  The corpus
    never self-joins; bench bands + signatures broadcast.  The
    paraphrase (near-miss) regime is pytest-gated
    (tests/test_dedup_similarity.py)."""
    _prep(spark)
    from .operators.dedup import flag_contaminated_fuzzy

    words = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda i: F.format_string(
                "tok%da%d", F.col("doc_id"), i * 7
            ),
        ),
        " ",
    )
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), words.alias("text")
    )
    leak_ids = [10, 40, 70]
    bench = docs.where(F.col("doc_id").isin(leak_ids)).select("text").union(
        spark.range(3).select(
            F.format_string(
                "wholly synthetic benchmark prompt %d with tokens "
                "qqx%d zzy%d vvk%d that appear nowhere in the corpus",
                F.col("id"), F.col("id") * 7, F.col("id") * 13,
                F.col("id") * 29,
            ).alias("text")
        )
    )
    out = flag_contaminated_fuzzy(docs, bench, threshold=0.9)
    return out.select(
        "doc_id",
        "contaminated_fuzzy",
        F.col("n_bench_near").cast("long").alias("n_bench_near"),
    ).orderBy("doc_id")


Q_FUZZY_DECON_SQL = """
SELECT r AS doc_id,
       r IN (10, 40, 70) AS contaminated_fuzzy,
       CAST(CASE WHEN r IN (10, 40, 70) THEN 1 ELSE 0 END AS BIGINT)
           AS n_bench_near
FROM (SELECT unnest(range(0, 300)) AS r)
ORDER BY doc_id
"""


def q_cap_per_key(spark, sf_dir):
    """[training-data] per-domain document cap
    (operators/sampling.py cap_per_key): keep at most 5 docs per
    (lang, source) — the C4/RefinedWeb rule that no single host may
    dominate the corpus.  SKEW-SAFE two-phase: rank within
    (key, salt-of-id) first so a 10^9-page domain splits across
    salt_mod window tasks, then rank the ≤ salt_mod·n survivors — the
    result is EXACTLY the unsalted window's, which is precisely what
    the oracle computes (one plain ROW_NUMBER window; DuckDB is
    single-node so the skew-prone form is fine THERE).  Gate: every
    surviving (doc_id, rank) pair bit-for-bit, ordered by the same
    total (n_chars desc, doc_id) order."""
    _prep(spark)
    from .operators.sampling import cap_per_key

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    capped = cap_per_key(
        docs, ["lang", "source"], 5,
        [F.desc("n_chars"), "doc_id"],
    )
    return capped.select(
        "doc_id", "lang", "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("doc_id")


Q_CAP_PER_KEY_SQL = """
SELECT doc_id, lang, source,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT doc_id, lang, source, n_chars,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents
)
WHERE rank <= 5
ORDER BY doc_id
"""


def q_repeat_epochs(spark, sf_dir):
    """[training-data] dataset-recipe REPEAT factors
    (operators/sampling.py repeat_epochs): en×2.5, de×1.0, fr×0.25,
    everything else ×1.0 — the upsampling twin of q70's
    mixture_sample; together they express any published per-source
    epoch table.  floor(e) copies per row plus one more when the
    xor-fold/Knuth hash coin (the q41/q70 hash, recomputed verbatim in
    the oracle) lands under frac(e); map-only explode, zero shuffle.
    Gate per lang: output row counts, id mass (sum of doc_id over all
    copies), and the epoch-index mass Σ n(n−1)/2 — which is only right
    if every doc got EXACTLY its 0..n−1 copy indices."""
    _prep(spark)
    from .operators.sampling import repeat_epochs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = repeat_epochs(
        docs, {"en": 2.5, "de": 1.0, "fr": 0.25},
        strata_col="lang", key_col="doc_id",
    )
    return (
        rep.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_out"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
            F.sum("epoch").cast("bigint").alias("sum_epoch"),
        )
        .orderBy("lang")
    )


Q_REPEAT_EPOCHS_SQL = """
WITH c AS (
  SELECT lang, doc_id,
         CAST(floor(ep) AS BIGINT)
         + CASE WHEN (((xor(COALESCE(doc_id, 0) >> 31,
                            COALESCE(doc_id, 0))
                        & 2147483647) * 2654435761)
                      % 4294967296) / 4294967296.0 < ep - floor(ep)
                THEN 1 ELSE 0 END AS n
  FROM (
    SELECT lang, doc_id,
           CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.0
                     WHEN 'fr' THEN 0.25 ELSE 1.0 END AS ep
    FROM documents)
)
SELECT lang,
       CAST(sum(n) AS BIGINT) AS n_out,
       CAST(sum(doc_id * n) AS BIGINT) AS sum_ids,
       CAST(sum(n * (n - 1) / 2) AS BIGINT) AS sum_epoch
FROM c
WHERE n > 0
GROUP BY lang
ORDER BY lang
"""


def q_dedup_paragraphs(spark, sf_dir):
    """[training-data] cross-corpus PARAGRAPH dedup — MassiveText's
    unit (Rae et al. 2021), via dedup_lines(sep="\\n\\n"): identical
    scale shape to q50's line dedup (skew-safe groupBy(unit).min
    winners, no verify join), but the dedup unit is a blank-line-
    separated paragraph, so multi-line boilerplate blocks (social
    footers, nav stacks) are removed WHOLE instead of line-by-line.
    Planted corpus from pure row arithmetic (180 docs: a 2-line
    boilerplate paragraph all docs share, a 2-line section header
    shared by r % 6, one unique body paragraph; every 30th doc has no
    body and must dedup to EMPTY): the oracle rebuilds every kept text
    from the same literals and gates char sums, changed-doc counts,
    and removed-paragraph totals per id group."""
    _prep(spark)
    from .operators.dedup import dedup_lines

    boiler = F.lit("follow us\non social media")
    header = F.format_string(
        "section %d\nintro text %d", F.col("id") % 6, F.col("id") % 6
    )
    uniq = F.format_string(
        "body text %d alpha\nbody text %d beta", F.col("id"), F.col("id")
    )
    corpus = spark.range(0, 180).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 30 == 29, F.concat_ws("\n\n", boiler, header)
        ).otherwise(F.concat_ws("\n\n", boiler, header, uniq)).alias("text"),
    )
    out = dedup_lines(corpus, sep="\n\n")
    return (
        out.groupBy((F.col("doc_id") % 5).cast("bigint").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("n_lines_removed") > 0, 1)).alias(
                "n_docs_changed"
            ),
            F.sum(F.length("text")).cast("bigint").alias("chars_kept"),
            F.sum("n_lines_removed").cast("bigint").alias("paras_removed"),
        )
        .orderBy("grp")
    )


Q_DEDUP_PARAGRAPHS_SQL = """
WITH p AS (
  SELECT r,
         'follow us' || chr(10) || 'on social media' AS boiler,
         'section ' || (r % 6) || chr(10) || 'intro text ' || (r % 6)
             AS header,
         'body text ' || r || ' alpha' || chr(10) ||
             'body text ' || r || ' beta' AS uniq,
         (r % 30 = 29) AS short
  FROM (SELECT unnest(range(0, 180)) AS r)
),
k AS (
  SELECT r,
         (CASE WHEN r = 0 THEN [boiler] ELSE [] END)
         || (CASE WHEN r < 6 THEN [header] ELSE [] END)
         || (CASE WHEN NOT short THEN [uniq] ELSE [] END) AS kept,
         CASE WHEN short THEN 2 ELSE 3 END AS n_paras
  FROM p
)
SELECT CAST(r % 5 AS BIGINT) AS grp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_paras > len(kept) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_docs_changed,
       CAST(sum(length(array_to_string(kept, chr(10) || chr(10))))
            AS BIGINT) AS chars_kept,
       CAST(sum(n_paras - len(kept)) AS BIGINT) AS paras_removed
FROM k
GROUP BY grp
ORDER BY grp
"""


def q_mfcc(spark, sf_dir):
    """[tier: quality_filter × audio] MFCC extraction — DCT-II over the
    log-mel matrix, the compact cepstral front-end (operators/audio.py
    with_mfcc; one extra n_mels × n_mfcc matmul on top of q71's
    pipeline).  The planted spectral classes separate cleanly in the
    first two time-mean cepstra (measured: tone c0 ≤ −151 — narrowband
    energy leaves most mel bands on the log floor; noise c0 ≈ +18 —
    every band lit; hum c0 ≈ −76 with strong positive tilt c1 ≈ +29.5)
    so the gates carry wide margins: tone c0 < −100, noise c0 > 0, hum
    −100 < c0 < −50 AND c1 > 10.  Frame counts are exact (17 per clip);
    the oracle recomputes everything from r % 4."""
    _prep(spark)
    from .operators.audio import with_mfcc
    from .sources.clips import SPECTRAL_CLASSES, spectral_clips_df

    mf = with_mfcc(spectral_clips_df(spark, 120, partitions=8))
    r = F.substring("clip_id", 4, 8).cast("long")
    cls = F.element_at(
        F.array(*[F.lit(c) for c in SPECTRAL_CLASSES]),
        (r % 4 + 1).cast("int"),
    )
    c0, c1 = F.col("mfcc_c0_mean"), F.col("mfcc_c1_mean")
    match = (
        F.when(cls == "tone", c0 < -100.0)
        .when(cls == "noise", c0 > 0.0)
        .otherwise((c0 > -100.0) & (c0 < -50.0) & (c1 > 10.0))
    )
    return (
        mf.groupBy(cls.alias("cls"))
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("n_mfcc_frames").alias("sum_frames"),
            F.sum(match.cast("long")).alias("n_cep_match"),
            F.sum(F.col("mfcc_ok").cast("long")).alias("n_ok"),
        )
        .orderBy("cls")
    )


Q_MFCC_SQL = """
SELECT cls,
       CAST(n AS BIGINT) AS n_clips,
       CAST(17 * n AS BIGINT) AS sum_frames,
       CAST(n AS BIGINT) AS n_cep_match,
       CAST(n AS BIGINT) AS n_ok
FROM (
  SELECT CASE i WHEN 0 THEN 'tone' WHEN 1 THEN 'noise' ELSE 'hum' END AS cls,
         CASE i WHEN 0 THEN 60 ELSE 30 END AS n
  FROM (SELECT unnest(range(0, 3)) AS i)
)
ORDER BY cls
"""


def q_snr_estimate(spark, sf_dir):
    """[tier: quality_filter × audio] frame-energy SNR estimation —
    the noise-floor screen a speech-corpus quality filter runs before
    transcription (operators/audio.py with_snr_estimate; NIST-STNR
    style: quietest 10% of 20 ms frames = noise, loudest half =
    signal).  Planted classes (sources/clips.py snr_rows_for_range,
    r % 3): tone bursts over a 1e-4 floor read HIGH (measured ~69 dB,
    gate > 30), the same bursts over 0.1 noise read the mid band
    (~10 dB, gate 3–15), and gapless noise reads ~0 dB (< 3) — the
    estimator's documented no-gaps limit.  Every clip yields exactly 30
    frames; the oracle recomputes counts and the band matches from
    r % 3 alone."""
    _prep(spark)
    from .operators.audio import with_snr_estimate
    from .sources.clips import SNR_CLASSES, snr_clips_df

    est = with_snr_estimate(snr_clips_df(spark, 120, partitions=8))
    r = F.substring("clip_id", 4, 8).cast("long")
    cls = F.element_at(
        F.array(*[F.lit(c) for c in SNR_CLASSES]), (r % 3 + 1).cast("int")
    )
    band = (
        F.when(cls == "gapped_clean", F.col("snr_est_db") > 30.0)
        .when(cls == "gapped_noisy",
              (F.col("snr_est_db") > 3.0) & (F.col("snr_est_db") < 15.0))
        .otherwise(F.col("snr_est_db") < 3.0)
    )
    return (
        est.groupBy(cls.alias("cls"))
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("snr_n_frames").alias("sum_frames"),
            F.sum(band.cast("long")).alias("n_band_match"),
            F.sum(F.col("snr_ok").cast("long")).alias("n_ok"),
        )
        .orderBy("cls")
    )


Q_SNR_ESTIMATE_SQL = """
SELECT cls,
       CAST(40 AS BIGINT) AS n_clips,
       CAST(30 * 40 AS BIGINT) AS sum_frames,
       CAST(40 AS BIGINT) AS n_band_match,
       CAST(40 AS BIGINT) AS n_ok
FROM (
  SELECT unnest(['gapped_clean', 'gapped_noisy', 'steady_noise']) AS cls
)
ORDER BY cls
"""


def q_budget_select(spark, sf_dir):
    """[training-data] hard-token-budget data selection
    (operators/sampling.py select_until_budget): keep the cleanest
    documents (lowest symbol ppm, doc_id tiebreak) whose cumulative
    whitespace-token count fits a 10k budget — the "best docs under a
    fixed compute budget" step a curation run ends with.  Rides the
    two-phase distributed prefix sum (no single-partition window); a
    row is kept only if it fits WHOLE.  The oracle recomputes the
    ordered cumulative sum with a SQL window — membership, per-row
    exclusive offsets, and totals gated bit-for-bit."""
    _prep(spark)
    from .operators.quality import with_quality_signals
    from .operators.sampling import select_until_budget

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = with_quality_signals(docs, "text").select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        _ppm(F.col("symbol_ratio")).alias("symbol_ppm"),
    )
    sel = select_until_budget(
        sig, budget=10_000, value_col="n_words",
        priority_cols=["symbol_ppm", "doc_id"],
    )
    return sel.select(
        "doc_id", "n_words", "symbol_ppm", "budget_cum"
    ).orderBy("doc_id")


Q_BUDGET_SELECT_SQL = """
WITH sig AS (
  SELECT doc_id,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
        AS n_words,
    CAST(CASE WHEN length(text) = 0 THEN 0
         ELSE floor((length(text) -
                     len(regexp_extract_all(text, '[A-Za-z0-9\\s]')))
                    * 1000000.0 / length(text) + 0.5) END AS BIGINT)
        AS symbol_ppm
  FROM documents
),
o AS (
  SELECT *,
         COALESCE(sum(n_words) OVER (ORDER BY symbol_ppm, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS budget_cum
  FROM sig
)
SELECT doc_id, n_words, symbol_ppm, CAST(budget_cum AS BIGINT) AS budget_cum
FROM o
WHERE budget_cum + n_words <= 10000
ORDER BY doc_id
"""


def q_webdataset_manifest(spark, sf_dir):
    """[training-data sink] WebDataset tar-shard export
    (sinks/webdataset.py write_webdataset): the curated corpus leaves
    the cluster as size-balanced, byte-reproducible tar shards — one
    task per shard, manifest row per shard, never a whole-corpus
    collect.  Gate: the manifest's per-shard item counts and payload
    byte sums over the transcode clip table (payload sizes are pure
    row arithmetic: (400+37r) × bytes-per-sample by codec) must equal
    the oracle's cumsum → div recomputation of ``shard_by_size``.
    Tar determinism (sha256-identical re-runs, sorted members, pinned
    headers) and the read-back roundtrip are pytest-gated
    (tests/test_webdataset.py) — hashes aren't SQL-expressible."""
    import tempfile

    _prep(spark)
    from .sinks.webdataset import write_webdataset
    from .sources.clips import transcode_clips_df

    out = tempfile.mkdtemp(prefix="wds_q74_")
    man = write_webdataset(
        transcode_clips_df(spark, 120, partitions=8), out,
        shard_bytes=30_000,
    )
    return man.select(
        "shard_id",
        F.col("n_items").cast("long").alias("n_items"),
        F.col("data_bytes").cast("long").alias("data_bytes"),
    ).orderBy("shard_id")


Q_WEBDATASET_SQL = """
WITH r AS (SELECT unnest(range(0, 120)) AS r),
sz AS (
  SELECT r,
         (400 + 37 * r) * (CASE WHEN r % 3 = 0 THEN 2 ELSE 1 END) AS sz
  FROM r
),
o AS (
  SELECT r, sz,
         COALESCE(sum(sz) OVER (ORDER BY r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum
  FROM sz
)
SELECT CAST(cum // 30000 AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(sz) AS BIGINT) AS data_bytes
FROM o
GROUP BY shard_id
ORDER BY shard_id
"""


def q_repetition_signals(spark, sf_dir):
    """[training-data] Gopher/MassiveText repetition signals
    (operators/repetition.py with_repetition_signals): per-document
    duplicate-line fractions, top n-gram (n=2..4) and duplicate n-gram
    (n=5..10) character fractions, plus the published-threshold drop
    reason — over the REAL documents table, every value gated
    bit-for-bit (each fraction is ONE double division of longs both
    engines compute identically).  The Spark side is pure Catalyst
    (array_sort + one aggregate run-length scan per n, zero shuffle);
    the oracle recomputes each signal relationally (unnest → group →
    mass sums)."""
    _prep(spark)
    from .operators.repetition import (
        repetition_drop_reason_col,
        with_repetition_signals,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = with_repetition_signals(docs)
    cols = [
        "dup_line_frac", "dup_line_char_frac",
        "top_ngram_char_frac_2", "top_ngram_char_frac_3",
        "top_ngram_char_frac_4",
        "dup_ngram_char_frac_5", "dup_ngram_char_frac_10",
    ]
    from .operators.repetition import GOPHER_THRESHOLDS

    gated = {k: GOPHER_THRESHOLDS[k] for k in cols}  # same firing order
    return sig.select(
        "doc_id", *cols,
        repetition_drop_reason_col(gated).alias("drop_reason"),
    ).orderBy("doc_id")


def _rep_gram_cte(n: int) -> str:
    return f"""g{n} AS (
  SELECT doc_id,
         max(cnt * length(g)) AS top_mass,
         sum(CASE WHEN cnt >= 2 THEN cnt * length(g) ELSE 0 END) AS dup_mass
  FROM (
    SELECT doc_id, g, count(*) AS cnt FROM (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(wl) - {n} + 2, 1)),
               i -> array_to_string(wl[i:i + {n} - 1], ' '))) AS g
      FROM base
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
)"""


Q_REPETITION_SQL = f"""
WITH base AS (
  SELECT doc_id,
         coalesce(text, '') AS text,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                           '\\s+'), x -> x <> '') AS wl
  FROM documents
),
tot AS (
  SELECT doc_id, length(array_to_string(wl, ' ')) AS content_chars
  FROM base
),
lstat AS (
  SELECT doc_id,
         sum(cnt) AS tot_lines,
         sum(cnt * length(line)) AS tot_lchars,
         sum(CASE WHEN cnt >= 2 THEN cnt - 1 ELSE 0 END) AS dup_lcnt,
         sum(CASE WHEN cnt >= 2 THEN (cnt - 1) * length(line)
             ELSE 0 END) AS dup_lchars
  FROM (
    SELECT doc_id, line, count(*) AS cnt FROM (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM base
    ) GROUP BY doc_id, line
  ) GROUP BY doc_id
),
{_rep_gram_cte(2)}, {_rep_gram_cte(3)}, {_rep_gram_cte(4)},
{_rep_gram_cte(5)}, {_rep_gram_cte(10)},
sig AS (
  SELECT b.doc_id,
    CASE WHEN l.tot_lines > 0
         THEN CAST(l.dup_lcnt AS DOUBLE) / l.tot_lines
         ELSE 0.0 END AS dup_line_frac,
    CASE WHEN l.tot_lchars > 0
         THEN CAST(l.dup_lchars AS DOUBLE) / l.tot_lchars
         ELSE 0.0 END AS dup_line_char_frac,
    CASE WHEN t.content_chars > 0
         THEN CAST(coalesce(g2.top_mass, 0) AS DOUBLE) / t.content_chars
         ELSE 0.0 END AS top_ngram_char_frac_2,
    CASE WHEN t.content_chars > 0
         THEN CAST(coalesce(g3.top_mass, 0) AS DOUBLE) / t.content_chars
         ELSE 0.0 END AS top_ngram_char_frac_3,
    CASE WHEN t.content_chars > 0
         THEN CAST(coalesce(g4.top_mass, 0) AS DOUBLE) / t.content_chars
         ELSE 0.0 END AS top_ngram_char_frac_4,
    CASE WHEN t.content_chars > 0
         THEN CAST(coalesce(g5.dup_mass, 0) AS DOUBLE) / t.content_chars
         ELSE 0.0 END AS dup_ngram_char_frac_5,
    CASE WHEN t.content_chars > 0
         THEN CAST(coalesce(g10.dup_mass, 0) AS DOUBLE) / t.content_chars
         ELSE 0.0 END AS dup_ngram_char_frac_10
  FROM base b
  JOIN tot t USING (doc_id)
  JOIN lstat l USING (doc_id)
  LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id)
  LEFT JOIN g4 USING (doc_id) LEFT JOIN g5 USING (doc_id)
  LEFT JOIN g10 USING (doc_id)
)
SELECT *,
  CASE
    WHEN dup_line_frac > 0.30 THEN 'repetition_dup_line_frac'
    WHEN dup_line_char_frac > 0.20 THEN 'repetition_dup_line_char_frac'
    WHEN top_ngram_char_frac_2 > 0.20 THEN 'repetition_top_ngram_char_frac_2'
    WHEN top_ngram_char_frac_3 > 0.18 THEN 'repetition_top_ngram_char_frac_3'
    WHEN top_ngram_char_frac_4 > 0.16 THEN 'repetition_top_ngram_char_frac_4'
    WHEN dup_ngram_char_frac_5 > 0.15 THEN 'repetition_dup_ngram_char_frac_5'
    WHEN dup_ngram_char_frac_10 > 0.10
         THEN 'repetition_dup_ngram_char_frac_10'
    ELSE NULL
  END AS drop_reason
FROM sig
ORDER BY doc_id
"""


Q_CHUNKED_CLIPS_SQL = """
WITH p AS (
  SELECT r,
         CASE r % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr,
         400 + 37 * r AS n
  FROM (SELECT unnest(range(0, 180)) AS r)
),
d AS (
  SELECT r, sr, n,
         CASE WHEN sr = 8000 THEN 1 ELSE 2 END AS bps,
         CAST(FLOOR(sr * 200 / 1000) AS BIGINT) AS cs,
         CAST(CEIL(CAST(n AS DOUBLE) / FLOOR(sr * 200 / 1000)) AS BIGINT) AS nc
  FROM p
)
SELECT CAST(sr AS INTEGER) AS sr_orig,
       CAST(count(*) AS BIGINT) AS n_clips,
       CAST(sum(nc) AS BIGINT) AS n_chunks,
       CAST(sum(n * bps) AS BIGINT) AS bytes_total,
       CAST(sum((nc - 1) * 200
                + ROUND((n - (nc - 1) * cs) * 1000.0 / sr)) AS BIGINT)
           AS dur_ms_total
FROM d
GROUP BY sr
ORDER BY sr
"""


def q_trim_silence(spark, sf_dir):
    """[tier: quality_filter × audio] endpoint silence trim — the
    VAD-style lead/tail strip every ASR front-end runs
    (operators/audio.py trimmed_clips): decode finds the bounds in one
    flatnonzero + two searchsorted per codec per Arrow batch
    (kernel.batch_trim_bounds), then the retained region is a BYTE
    SLICE of the original payload (codec preserved, retained samples
    bit-identical — no re-encode generation loss).  Planted classes
    (sources.clips.trim_rows_for_range, class in the transcript; codec
    cycling (r//3)%3): clean keeps every sample, padded loses exactly
    its planted zero runs, silent empties.  The oracle recomputes per
    class: count, retained samples from length(bytes) and the codec's
    bytes-per-sample (the payload itself is gated, not a side-channel
    counter), and the rewritten duration sum — pure row arithmetic."""
    _prep(spark)
    from .operators.audio import trimmed_clips
    from .sources.clips import trim_clips_df

    clips = trim_clips_df(spark, 180, partitions=8)
    out = trimmed_clips(clips, threshold=0.01)
    bps = F.when(F.col("codec") == "pcm16", F.lit(2)).otherwise(F.lit(1))
    return (
        out.groupBy(F.col("transcript").alias("trim_class"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.length("bytes") / bps).cast("bigint")).cast(
                "bigint"
            ).alias("out_samples"),
            F.sum("dur_ms").cast("bigint").alias("dur_ms_total"),
        )
        .orderBy("trim_class")
    )


Q_TRIM_SILENCE_SQL = """
WITH p AS (
  SELECT r,
         CASE r % 3 WHEN 0 THEN 'clean' WHEN 1 THEN 'padded'
                    ELSE 'silent' END AS cls,
         400 + 16 * (r % 7) AS n_sig
  FROM (SELECT unnest(range(0, 180)) AS r)
)
SELECT cls AS trim_class,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN cls = 'silent' THEN 0 ELSE n_sig END) AS BIGINT)
           AS out_samples,
       CAST(sum(CASE WHEN cls = 'silent' THEN 0 ELSE n_sig // 8 END)
            AS BIGINT) AS dur_ms_total
FROM p
GROUP BY cls
ORDER BY cls
"""


def _planted_line_corpus(spark):
    """240 multi-line docs from pure row arithmetic (shared by q50 and
    q55): a boilerplate line every doc carries, a header line shared by
    r % 10, two per-doc-unique lines; every 40th doc is boilerplate-only
    and dedups to empty."""
    boiler = F.lit("subscribe to our newsletter")
    header = F.format_string("header %d", F.col("id") % 10)
    ua = F.format_string("unique line %d a", F.col("id"))
    ub = F.format_string("unique line %d b", F.col("id"))
    return spark.range(0, 240).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 40 == 39, F.concat_ws("\n", boiler, header)
        ).otherwise(F.concat_ws("\n", boiler, header, ua, ub)).alias("text"),
    )


def q_dedup_lines(spark, sf_dir):
    """[training-data] cross-corpus LINE dedup — the C4-style
    boilerplate strip (operators/dedup.py dedup_lines): every distinct
    line keeps its globally-first (id, pos) occurrence, documents are
    rebuilt from survivors; skew-safe groupBy(line).min(struct) winner
    selection (map-side combine — a 10^9-copy boilerplate line never
    serializes one reducer the way a row_number window would) and the
    winners ARE the surviving lines, so there is no verify join.
    Planted corpus from pure row arithmetic (240 docs: a boilerplate
    line every doc shares, a header line shared by r % 10, two unique
    lines; every 40th doc is boilerplate-only and must come out EMPTY,
    not dropped): the oracle recomputes kept-char sums (including the
    rebuilt text's join newlines), changed-doc counts, and removed-line
    totals per id group in closed form."""
    _prep(spark)
    from .operators.dedup import dedup_lines

    out = dedup_lines(_planted_line_corpus(spark))
    return (
        out.groupBy((F.col("doc_id") % 5).cast("bigint").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("n_lines_removed") > 0, 1)).alias(
                "n_docs_changed"
            ),
            F.sum(F.length("text")).cast("bigint").alias("chars_kept"),
            F.sum("n_lines_removed").cast("bigint").alias("lines_removed"),
        )
        .orderBy("grp")
    )


Q_DEDUP_LINES_SQL = """
WITH p AS (
  SELECT r,
         (r % 40 = 39) AS two_liner,
         CASE WHEN r % 40 = 39 THEN 0
              ELSE 2 + CASE WHEN r = 0 THEN 1 ELSE 0 END
                     + CASE WHEN r < 10 THEN 1 ELSE 0 END END AS n_kept,
         CASE WHEN r % 40 = 39 THEN 2 ELSE 4 END AS n_lines
  FROM (SELECT unnest(range(0, 240)) AS r)
),
c AS (
  SELECT r, n_kept, n_lines,
         CASE WHEN two_liner THEN 0
              ELSE CASE WHEN r = 0 THEN 27 ELSE 0 END
                 + CASE WHEN r < 10 THEN 8 ELSE 0 END
                 + 2 * (14 + length(CAST(r AS VARCHAR)))
                 + (n_kept - 1) END AS chars
  FROM p
)
SELECT CAST(r % 5 AS BIGINT) AS grp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_lines - n_kept > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_changed,
       CAST(sum(chars) AS BIGINT) AS chars_kept,
       CAST(sum(n_lines - n_kept) AS BIGINT) AS lines_removed
FROM c
GROUP BY grp
ORDER BY grp
"""


def q_decontaminate(spark, sf_dir):
    """[training-data] benchmark decontamination — the GPT-3/C4-style
    eval-leak check (operators/dedup.py flag_contaminated): docs sharing
    any lowercase word 8-gram with the benchmark set are flagged; the
    benchmark side broadcasts its distinct n-grams (an eval set is small
    by definition) and the corpus probes it map-side on 64-bit hashes
    with string-equality verification carried by the broadcast row, so
    no corpus text ever shuffles and a hash collision cannot falsely
    condemn a document.  Planted corpus (280 docs of per-row-unique
    words; every 7th-with-remainder-3 embeds a full 9-word benchmark
    sentence → exactly TWO matching 8-grams; remainder-5 embeds only a
    4-word prefix and must NOT flag — the n-gram boundary is gated):
    the oracle recomputes flags and hit counts from row arithmetic."""
    _prep(spark)
    from .operators.dedup import flag_contaminated

    bench = spark.range(0, 3).select(
        F.format_string(
            "benchmark question %d alpha bravo charlie delta echo foxtrot",
            F.col("id"),
        ).alias("text")
    )
    base = [F.format_string(f"t%dw{j}", F.col("id")) for j in range(12)]
    bench_full = F.format_string(
        "benchmark question %d alpha bravo charlie delta echo foxtrot",
        F.col("id") % 3,
    )
    bench_part = F.format_string(
        "benchmark question %d alpha", F.col("id") % 3
    )
    docs = spark.range(0, 280).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 7 == 3,
            F.concat_ws(" ", *base[:6], bench_full, *base[6:]),
        )
        .when(
            F.col("id") % 7 == 5,
            F.concat_ws(" ", *base[:6], bench_part, *base[6:]),
        )
        .otherwise(F.concat_ws(" ", *base))
        .alias("text"),
    )
    out = flag_contaminated(docs, bench, n=8)
    return (
        out.groupBy((F.col("doc_id") % 4).cast("bigint").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("contaminated"), 1)).alias(
                "n_contaminated"
            ),
            F.sum("n_contaminated_ngrams").cast("bigint").alias(
                "ngram_hits"
            ),
        )
        .orderBy("grp")
    )


Q_DECONTAMINATE_SQL = """
SELECT CAST(r % 4 AS BIGINT) AS grp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
       CAST(sum(CASE WHEN r % 7 = 3 THEN 2 ELSE 0 END) AS BIGINT)
           AS ngram_hits
FROM (SELECT unnest(range(0, 280)) AS r)
GROUP BY grp
ORDER BY grp
"""


def q_split_on_silence(spark, sf_dir):
    """[tier: quality_filter × audio] utterance segmentation — split
    clips at silence runs >= min_gap (operators/audio.py
    split_clips_on_silence): segment bounds from one flatnonzero + one
    diff per (codec, sr) group per Arrow batch
    (kernel.batch_voiced_segments), each segment a BYTE SLICE of the
    original payload trimmed to its voiced ends.  Planted utterance
    structure (sources.clips.segment_rows_for_range; gap gate 25 ms =
    200 samples): a 400-sample internal silence SPLITS (2 segments), a
    104-sample one STAYS inside (1 segment spanning block+gap+block),
    edge silence always falls off, all-silent clips emit one empty
    segment.  The oracle recomputes per class: clip count, segment
    count, retained samples from length(bytes) and bytes-per-sample,
    and duration sums — closed form."""
    _prep(spark)
    from .operators.audio import split_clips_on_silence
    from .sources.clips import segment_clips_df

    clips = segment_clips_df(spark, 240, partitions=8)
    segs = split_clips_on_silence(clips, min_gap_ms=25)
    bps = F.when(F.col("codec") == "pcm16", F.lit(2)).otherwise(F.lit(1))
    rid = F.substring("clip_id", 4, 8).cast("bigint")
    return (
        segs.groupBy((rid % 4).alias("cls_key"))
        .agg(
            F.count_distinct("clip_id").alias("n_clips"),
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.length("bytes") / bps).cast("bigint")).cast(
                "bigint"
            ).alias("out_samples"),
            F.sum("dur_ms").cast("bigint").alias("dur_ms_total"),
        )
        .orderBy("cls_key")
    )


Q_SPLIT_SILENCE_SQL = """
WITH p AS (
  SELECT r, r % 4 AS cls_key, 320 + 16 * (r % 5) AS n
  FROM (SELECT unnest(range(0, 240)) AS r)
)
SELECT CAST(cls_key AS BIGINT) AS cls_key,
       CAST(count(*) AS BIGINT) AS n_clips,
       CAST(sum(CASE cls_key WHEN 1 THEN 2 ELSE 1 END) AS BIGINT)
           AS n_segments,
       CAST(sum(CASE cls_key WHEN 0 THEN n WHEN 1 THEN 2 * n
                             WHEN 2 THEN 2 * n + 104 ELSE 0 END) AS BIGINT)
           AS out_samples,
       CAST(sum(CASE cls_key WHEN 0 THEN n WHEN 1 THEN 2 * n
                             WHEN 2 THEN 2 * n + 104 ELSE 0 END // 8)
            AS BIGINT) AS dur_ms_total
FROM p
GROUP BY cls_key
ORDER BY cls_key
"""


def q_pack_sequences(spark, sf_dir):
    """[training-data] GPT-style sequence packing — concatenate docs in
    id order, chop every 4096 tokens (operators/packing.py): the global
    token offset comes from a TWO-PHASE distributed prefix sum
    (range-partition → window within each task-sized partition →
    one-row-per-partition totals → broadcast base offsets) instead of
    the naive `Window.orderBy(id)` with no partitionBy, which would
    drag the whole corpus through ONE task.  The oracle recomputes the
    exact same exclusive cumulative sum with a SQL window — every
    offset, pack id, and pack-internal position is gated bit-for-bit
    (sums of all three per pack-id group), so the distributed prefix
    sum must agree with the sequential definition everywhere."""
    _prep(spark)
    from .operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = pack_sequences(
        docs, max_tokens=4096, token_col="n_chars", order_col="doc_id"
    )
    return (
        packed.groupBy((F.col("pack_id") % 8).cast("bigint").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("pack_id").alias("n_packs"),
            F.sum("offset").cast("bigint").alias("sum_offsets"),
            F.sum("pack_offset").cast("bigint").alias("sum_pack_offsets"),
        )
        .orderBy("grp")
    )


Q_PACK_SEQUENCES_SQL = """
WITH o AS (
  SELECT doc_id, n_chars,
         COALESCE(sum(n_chars) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS off
  FROM documents
),
p AS (
  SELECT off, off // 4096 AS pack_id, off % 4096 AS pack_offset FROM o
)
SELECT CAST(pack_id % 8 AS BIGINT) AS grp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(sum(off) AS BIGINT) AS sum_offsets,
       CAST(sum(pack_offset) AS BIGINT) AS sum_pack_offsets
FROM p
GROUP BY grp
ORDER BY grp
"""


def q_shard_by_size(spark, sf_dir):
    """[training-data] WebDataset-style size-balanced sharding — rows
    concatenate in id order and a new output shard starts every 4 KiB
    of cumulative payload (operators/packing.py shard_by_size): trainers
    read equal-SIZE shards, not equal-COUNT ones, so a corpus of mixed
    ten-second and one-hour clips still feeds every reader at the same
    rate.  Built on the same two-phase distributed prefix sum as q53 —
    no single-partition global window.  The oracle recomputes the
    exclusive cumulative sum + exact integer div/mod, gating per-shard
    MEMBERSHIP (sum of ids), sizes, and boundary offsets bit-for-bit."""
    _prep(spark)
    from .operators.packing import shard_by_size

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = shard_by_size(
        docs, shard_bytes=4096, order_col="doc_id", size_col="n_chars"
    )
    return (
        sh.groupBy((F.col("shard_id") % 8).cast("bigint").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("shard_id").alias("n_shards"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum("shard_offset").cast("bigint").alias("sum_offsets"),
        )
        .orderBy("grp")
    )


Q_SHARD_BY_SIZE_SQL = """
WITH o AS (
  SELECT doc_id, n_chars,
         COALESCE(sum(n_chars) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum
  FROM documents
),
s AS (
  SELECT doc_id, n_chars, cum // 4096 AS shard_id, cum % 4096 AS shard_offset
  FROM o
)
SELECT CAST(shard_id % 8 AS BIGINT) AS grp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT shard_id) AS BIGINT) AS n_shards,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(shard_offset) AS BIGINT) AS sum_offsets
FROM s
GROUP BY grp
ORDER BY grp
"""


def q_clean_text(spark, sf_dir):
    """[training-data] Unicode canonicalization → dedup composition
    (operators/text_analysis.py with_clean_text): CRLF→LF, control-char
    strip, NFC — the cleaning stage that must run BEFORE content
    identity, because byte-different spellings of the same text defeat
    every fingerprint.  Planted 4-class corpus per base k (plain /
    DECOMPOSED café (e + U+0301) / CRLF + BEL control / precomposed
    café): after cleaning, the decomposed and precomposed rows are
    byte-identical, so `dedup_exact` must drop EVERY precomposed row
    (the decomposed twin has the smaller id) — the NFC behavior itself
    is what the oracle gates, alongside exact post-clean char sums
    (DuckDB nfc_normalize + regexp_replace recompute the same UAX #15
    transform independently; here the closed form is used)."""
    _prep(spark)
    from .operators.dedup import dedup_exact
    from .operators.text_analysis import with_clean_text

    k = F.col("id") / 4
    kk = F.floor(k).cast("bigint")
    cls = F.col("id") % 4
    docs = spark.range(0, 240).select(
        F.col("id").alias("doc_id"),
        F.when(cls == 0, F.format_string("plain item %d", kk))
        .when(cls == 1, F.format_string("cafe\u0301 item %d", kk))
        .when(cls == 2,
              F.format_string("item %d line one\r\nline two\x07", kk))
        .otherwise(F.format_string("caf\u00e9 item %d", kk))
        .alias("text"),
    )
    cleaned = with_clean_text(docs)
    survivors = dedup_exact(cleaned).select(
        "doc_id", F.lit(1).alias("_kept")
    )
    return (
        cleaned.join(survivors, "doc_id", "left")
        .groupBy((F.col("doc_id") % 4).cast("bigint").alias("cls"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).cast("bigint").alias("chars_clean"),
            F.count(F.col("_kept")).alias("n_survivors"),
        )
        .orderBy("cls")
    )


Q_CLEAN_TEXT_SQL = """
WITH p AS (
  SELECT r % 4 AS cls, length(CAST(r // 4 AS VARCHAR)) AS lk
  FROM (SELECT unnest(range(0, 240)) AS r)
)
SELECT CAST(cls AS BIGINT) AS cls,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE cls WHEN 0 THEN 11 WHEN 1 THEN 10
                         WHEN 2 THEN 23 ELSE 10 END + lk) AS BIGINT)
           AS chars_clean,
       CAST(sum(CASE cls WHEN 3 THEN 0 ELSE 1 END) AS BIGINT)
           AS n_survivors
FROM p
GROUP BY cls
ORDER BY cls
"""


def q_curation_pipeline(spark, sf_dir):
    """[training-data] END-TO-END text curation: canonicalize
    (with_clean_text) → cross-corpus line dedup (dedup_lines) → token
    count → GPT-style sequence packing (pack_sequences) — the full
    prepare-a-crawl-for-training chain as ONE composed plan, gated by
    ONE oracle.  The planted corpus is q50's (closed-form kept-chars
    per doc), so the oracle recomputes the post-dedup text length of
    every document, then the exclusive cumulative sum over doc order
    (SQL window), then every pack id and pack-internal position — any
    stage breaking its contract (dedup keeping a dup line, the prefix
    sum drifting, packing mis-chopping) shifts every downstream value
    and fails the hash."""
    _prep(spark)
    from .operators.dedup import dedup_lines
    from .operators.packing import pack_sequences
    from .operators.text_analysis import with_clean_text

    curated = dedup_lines(with_clean_text(_planted_line_corpus(spark)))
    curated = curated.withColumn("n_tokens", F.length("text"))
    packed = pack_sequences(curated, max_tokens=512, token_col="n_tokens")
    return (
        packed.groupBy((F.col("pack_id") % 8).cast("bigint").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("pack_id").alias("n_packs"),
            F.sum("offset").cast("bigint").alias("sum_offsets"),
            F.sum("pack_offset").cast("bigint").alias("sum_pack_offsets"),
        )
        .orderBy("grp")
    )


Q_CURATION_PIPELINE_SQL = """
WITH p AS (
  SELECT r,
         (r % 40 = 39) AS two_liner,
         CASE WHEN r % 40 = 39 THEN 0
              ELSE 2 + CASE WHEN r = 0 THEN 1 ELSE 0 END
                     + CASE WHEN r < 10 THEN 1 ELSE 0 END END AS n_kept
  FROM (SELECT unnest(range(0, 240)) AS r)
),
c AS (
  SELECT r,
         CASE WHEN two_liner THEN 0
              ELSE CASE WHEN r = 0 THEN 27 ELSE 0 END
                 + CASE WHEN r < 10 THEN 8 ELSE 0 END
                 + 2 * (14 + length(CAST(r AS VARCHAR)))
                 + (n_kept - 1) END AS chars
  FROM p
),
o AS (
  SELECT r, COALESCE(sum(chars) OVER (ORDER BY r
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM c
),
k AS (
  SELECT off, off // 512 AS pack_id, off % 512 AS pack_offset FROM o
)
SELECT CAST(pack_id % 8 AS BIGINT) AS grp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(sum(off) AS BIGINT) AS sum_offsets,
       CAST(sum(pack_offset) AS BIGINT) AS sum_pack_offsets
FROM k
GROUP BY grp
ORDER BY grp
"""


def q_audio_prep_pipeline(spark, sf_dir):
    """[tier: quality_filter × audio] END-TO-END audio prep: endpoint
    trim → utterance split → resample to 16 kHz → loudness normalize →
    30 ms chunking, composed as ONE plan (five map-only stages, zero
    exchanges) and gated by ONE oracle.  The planted utterance corpus
    (q52's) makes every stage's effect closed-form: trim removes the
    known padding, split yields the known segment sizes, 8→16 kHz
    exactly doubles sample counts, normalization preserves length,
    chunking is ceil(S/480) with the last-chunk remainder divisible by
    16 so durations are exact in both engines.  A wrong boundary in ANY
    stage changes the chunk counts / sample sums / duration sums and
    fails the hash.  chunk ids key on seg_id (chunking the SEGMENTS of
    a clip, not the clip) so multi-utterance clips cannot collide."""
    _prep(spark)
    from .operators.audio import (
        chunked_clips,
        normalized_clips,
        resampled_clips,
        split_clips_on_silence,
        trimmed_clips,
    )
    from .sources.clips import segment_clips_df

    clips = segment_clips_df(spark, 240, partitions=8)
    segs = split_clips_on_silence(trimmed_clips(clips), min_gap_ms=25)
    prepped = chunked_clips(
        normalized_clips(resampled_clips(segs, 16000)),
        max_dur_ms=30,
        id_col="seg_id",
    )
    rid = F.substring("clip_id", 4, 8).cast("bigint")
    return (
        prepped.groupBy((rid % 4).alias("cls_key"))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.length("bytes") / 2).cast("bigint")).cast(
                "bigint"
            ).alias("out_samples"),
            F.sum("dur_ms").cast("bigint").alias("dur_ms_total"),
            F.count(F.col("transcript")).alias("n_transcripts"),
        )
        .orderBy("cls_key")
    )


Q_AUDIO_PREP_SQL = """
WITH p AS (
  SELECT r, r % 4 AS cls_key, 320 + 16 * (r % 5) AS n
  FROM (SELECT unnest(range(0, 240)) AS r)
),
-- per-row chunk arithmetic at 16 kHz, 30 ms chunks = 480 samples
d AS (
  SELECT cls_key,
         CASE cls_key WHEN 0 THEN CEIL(2 * n / 480.0)
                      WHEN 1 THEN 2 * CEIL(2 * n / 480.0)
                      WHEN 2 THEN CEIL((4 * n + 208) / 480.0)
                      ELSE 1 END AS chunks,
         CASE cls_key WHEN 0 THEN 2 * n WHEN 1 THEN 4 * n
                      WHEN 2 THEN 4 * n + 208 ELSE 0 END AS samples,
         CASE cls_key
           WHEN 0 THEN (CEIL(2 * n / 480.0) - 1) * 30
                       + (2 * n - (CEIL(2 * n / 480.0) - 1) * 480) // 16
           WHEN 1 THEN 2 * ((CEIL(2 * n / 480.0) - 1) * 30
                       + (2 * n - (CEIL(2 * n / 480.0) - 1) * 480) // 16)
           WHEN 2 THEN (CEIL((4 * n + 208) / 480.0) - 1) * 30
                       + ((4 * n + 208)
                          - (CEIL((4 * n + 208) / 480.0) - 1) * 480) // 16
           ELSE 0 END AS dur
  FROM p
)
SELECT CAST(cls_key AS BIGINT) AS cls_key,
       CAST(sum(chunks) AS BIGINT) AS n_chunks,
       CAST(sum(samples) AS BIGINT) AS out_samples,
       CAST(sum(dur) AS BIGINT) AS dur_ms_total,
       CAST(count(*) AS BIGINT) AS n_transcripts
FROM d
GROUP BY cls_key
ORDER BY cls_key
"""


def q_speed_perturb(spark, sf_dir):
    """[tier: quality_filter × audio] speed perturbation — the Kaldi
    `sp` augmentation (operators/audio.py speed_perturbed_clips): play
    1.1× faster by resampling as if the source rate were round(sr·1.1)
    and relabeling at the original rate (sox `speed` semantics).
    Planted mixed-rate clips (n = 400 + 37r samples, sr by r % 3) make
    the output sample count pure row arithmetic — round(n·sr/round(sr·
    1.1)) = round(n·10/11) at every planted rate, tie-free because 11
    is odd, so numpy banker's and SQL half-away rounding agree on every
    row.  The oracle recomputes per source rate: clip count, TOTAL
    output samples from length(bytes)/2 of the re-encoded pcm16 (the
    payload is gated, not a counter), and transcript passthrough."""
    _prep(spark)
    from .operators.audio import speed_perturbed_clips
    from .sources.clips import resample_clips_df

    clips = resample_clips_df(spark, 180, partitions=8)
    out = speed_perturbed_clips(
        clips.withColumn("sr_orig", F.col("sr_hz")), factor=1.1
    )
    return (
        out.groupBy("sr_orig")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            (F.sum(F.length("bytes")) / F.lit(2)).cast("bigint").alias(
                "out_samples"
            ),
            F.sum(F.length("transcript")).alias("transcript_chars"),
        )
        .orderBy("sr_orig")
    )


Q_SPEED_PERTURB_SQL = """
WITH p AS (
  SELECT r,
         CASE r % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr_orig,
         400 + 37 * r AS n
  FROM (SELECT unnest(range(0, 180)) AS r)
)
SELECT CAST(sr_orig AS INTEGER) AS sr_orig,
       CAST(count(*) AS BIGINT) AS n_clips,
       CAST(sum(GREATEST(1, CAST(ROUND(n * 10.0 / 11) AS BIGINT)))
            AS BIGINT) AS out_samples,
       CAST(sum(15 + length(CAST(r AS VARCHAR))) AS BIGINT) AS transcript_chars
FROM p
GROUP BY sr_orig
ORDER BY sr_orig
"""


def q_dedup_spans(spark, sf_dir):
    """[training-data] C4's exact three-sentence-span dedup rule
    (operators/dedup.py dedup_spans): every 3-sentence window keeps its
    globally-first occurrence, losing occurrences' sentences are
    removed, documents rebuilt.  Planted corpus from row arithmetic
    (240 six-sentence docs; every r % 5 == 2 doc embeds the shared
    3-sentence block keyed by r % 3 at positions 2-4, so exactly one
    doc per key — r = 12, 7, 2 — keeps the block and every other
    carrier loses those three sentences; spans mixing unique + shared
    sentences embed the doc id and never collide).  The oracle
    recomputes kept-char sums (with rebuilt-join newlines) and
    removed-sentence totals in closed form."""
    _prep(spark)
    from .operators.dedup import dedup_spans

    L = F.col("id")
    u = [F.format_string(f"unique sent %d {j}", L) for j in range(6)]
    k = F.col("id") % 3
    shared = [
        F.format_string("shared alpha %d", k),
        F.format_string("shared bravo %d", k),
        F.format_string("shared charlie %d", k),
    ]
    docs = spark.range(0, 240).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 5 == 2,
            F.concat_ws("\n", u[0], u[1], *shared, u[2]),
        ).otherwise(F.concat_ws("\n", *u)).alias("text"),
    )
    out = dedup_spans(docs)
    return (
        out.groupBy((F.col("doc_id") % 4).cast("bigint").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("chars_kept"),
            F.sum("n_sentences_removed").cast("bigint").alias(
                "sentences_removed"
            ),
        )
        .orderBy("grp")
    )


Q_DEDUP_SPANS_SQL = """
WITH p AS (
  SELECT r, length(CAST(r AS VARCHAR)) AS L,
         (r % 5 = 2) AS planted,
         (r IN (2, 7, 12)) AS winner
  FROM (SELECT unnest(range(0, 240)) AS r)
),
c AS (
  SELECT r,
         CASE WHEN NOT planted THEN 6 * (14 + L) + 5
              WHEN winner THEN 3 * (14 + L) + 44 + 5
              ELSE 3 * (14 + L) + 2 END AS chars,
         CASE WHEN planted AND NOT winner THEN 3 ELSE 0 END AS removed
  FROM p
)
SELECT CAST(r % 4 AS BIGINT) AS grp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS chars_kept,
       CAST(sum(removed) AS BIGINT) AS sentences_removed
FROM c
GROUP BY grp
ORDER BY grp
"""


def q_streaming_dedup(spark, sf_dir):
    """[training-data × streaming] END-TO-END stateful streaming dedup
    under the hard oracle gate (streaming.py dedup_stream /
    ingest_dedup_stream — previously pytest-only, the one engine
    surface without an oracle): a planted re-crawl of 60 transcript
    classes × 3 copies lands as THREE micro-batches (file source,
    maxFilesPerTrigger=1, availableNow), classes 0–19 are already in
    the corpus fingerprint index (stream-static anti-join must drop
    every copy), and batch 0 carries an extra within-batch duplicate of
    class 7.  First-seen-wins: each NEW class emits exactly once, no
    matter which copy or micro-batch carried it.  The output is
    class-level (class id parsed back out of the transcript), because
    WHICH duplicate row survives inside one micro-batch is
    shuffle-race-dependent by design — the class-level emission count
    is the deterministic invariant.  Oracle: classes 20–59, once each.
    Reference analog: the only batch surface the reference exposes is
    oracle-gated via q06 (ref:lib/top_secret/text.rb:94-96); this puts
    the streaming twin under the same protocol."""
    import os
    import shutil
    import tempfile
    import uuid

    _prep(spark)
    from .operators.dedup import with_fingerprint
    from .streaming import ingest_dedup_stream

    tmp = tempfile.mkdtemp(prefix="q86_stream_")
    qn = f"q86_sink_{uuid.uuid4().hex[:8]}"
    try:
        src = os.path.join(tmp, "src")
        base = spark.range(0, 60).select(
            F.col("id").alias("class_id"),
            F.format_string(
                "stream recrawl class %04d payload alpha beta gamma",
                F.col("id"),
            ).alias("transcript"),
        )
        for j in range(3):
            batch = base.select(
                F.format_string(
                    "s%04d-copy%d", F.col("class_id"), F.lit(j)
                ).alias("clip_id"),
                "transcript",
            )
            if j == 0:
                # within-batch duplicate: class 7 appears twice in the
                # first micro-batch under two different row ids
                batch = batch.unionByName(
                    base.where(F.col("class_id") == 7).select(
                        F.lit("s0007-extra").alias("clip_id"), "transcript"
                    )
                )
            batch.coalesce(1).write.mode("append").parquet(src)
        corpus_index = with_fingerprint(
            base.where(F.col("class_id") < 20), text_col="transcript"
        ).select("fingerprint")
        stream = (
            spark.readStream.schema("clip_id string, transcript string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = ingest_dedup_stream(stream, corpus_index, state_ttl=None)
        q = (
            out.writeStream.format("memory")
            .queryName(qn)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = (
            spark.table(qn)
            .select(
                F.regexp_extract("transcript", r"class (\d+)", 1)
                .cast("long")
                .alias("class_id")
            )
            .groupBy("class_id")
            .agg(F.count(F.lit(1)).alias("n_emitted"))
            .orderBy("class_id")
            .collect()
        )
        return spark.createDataFrame(rows, "class_id long, n_emitted long")
    finally:
        try:
            spark.catalog.dropTempView(qn)
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)


Q_STREAMING_DEDUP_SQL = """
SELECT CAST(c AS BIGINT) AS class_id, CAST(1 AS BIGINT) AS n_emitted
FROM (SELECT unnest(range(20, 60)) AS c)
ORDER BY class_id
"""


def q_fuzzy_decontamination_paraphrase(spark, sf_dir):
    """[training-data] the PARAPHRASE regime of fuzzy decontamination
    (operators/dedup.py flag_contaminated_fuzzy) under the oracle —
    q80 gates verbatim leaks (est-Jaccard exactly 1.0); this plants
    LIGHTLY-EDITED leaks: corpus docs 20/50/80 carry the benchmark text
    with 2 of their 30 tokens rewritten, so the exact probe
    (flag_contaminated) would MISS them while the char-shingle overlap
    stays ~0.85 — far above threshold 0.55 — and tokens are 5-digit
    doc-keyed numerals (measured worst cross-doc true Jaccard 0.25, so
    non-leak docs sit far BELOW it; a naive shared-stem scheme like
    'tok<doc>a<i>' measures cross-doc J ~0.83 at the char-shingle
    level and cannot separate).  Margins dwarf estimator noise (64
    hashes: >= 6 sigma to the threshold on both sides; the kernel's
    hash functions are fixed, so the outcome is also
    bit-deterministic), hence the oracle recomputes the DECISION from
    the planted structure — the q44 margin pattern."""
    _prep(spark)
    from .operators.dedup import flag_contaminated_fuzzy

    leak_ids = [20, 50, 80]
    orig_words = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda i: F.format_string(
                "w%05d", (F.col("doc_id") * 1009 + i * 97) % 100000
            ),
        ),
        " ",
    )
    edited_words = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda i: F.when(
                i.isin(10, 20),
                F.format_string(
                    "x%05d", (F.col("doc_id") * 77 + i) % 100000
                ),
            ).otherwise(
                F.format_string(
                    "w%05d", (F.col("doc_id") * 1009 + i * 97) % 100000
                )
            ),
        ),
        " ",
    )
    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id").isin(leak_ids), edited_words)
        .otherwise(orig_words)
        .alias("text"),
    )
    # the benchmark holds the ORIGINALS of the leaked docs (the edit
    # lives only in the corpus — the "lightly paraphrased leak"), plus
    # two token-disjoint synthetic prompts that must not match anything
    bench = spark.range(0, 200).where(F.col("id").isin(leak_ids)).select(
        F.col("id").alias("doc_id"), orig_words.alias("text")
    ).select("text").union(
        spark.range(2).select(
            F.format_string(
                "wholly synthetic benchmark prompt %d with tokens "
                "qqx%d zzy%d vvk%d that appear nowhere in the corpus",
                F.col("id"), F.col("id") * 7, F.col("id") * 13,
                F.col("id") * 29,
            ).alias("text")
        )
    )
    out = flag_contaminated_fuzzy(docs, bench, threshold=0.55)
    return out.select(
        "doc_id",
        "contaminated_fuzzy",
        F.col("n_bench_near").cast("long").alias("n_bench_near"),
    ).orderBy("doc_id")


Q_FUZZY_PARAPHRASE_SQL = """
SELECT r AS doc_id,
       r IN (20, 50, 80) AS contaminated_fuzzy,
       CAST(CASE WHEN r IN (20, 50, 80) THEN 1 ELSE 0 END AS BIGINT)
           AS n_bench_near
FROM (SELECT unnest(range(0, 200)) AS r)
ORDER BY doc_id
"""


def q_metadata_audit(spark, sf_dir):
    """[tier: quality_filter x audio] metadata-integrity audit — the
    zero-decode pre-gate that protects the expensive Arrow boundary at
    10^12 rows: declared (sr_hz, dur_ms, codec) cross-checked against
    the payload's own byte length with pure Catalyst expressions
    (operators/integrity.py), violations named first-match.  Rows carry
    PLANTED metadata states keyed by ``r % 8``
    (sources/clips.py::integrity_rows_for_range), so the oracle
    recomputes both the verdict AND the payload-implied duration from
    the row index alone — verdicts and a derived feature are gated, not
    just counts.  Reference parity: top_secret validates input at the
    API edge (ref:lib/top_secret/text.rb raises on bad input); this is
    the table-scale analog."""
    _prep(spark)
    from .operators.integrity import with_metadata_audit
    from .sources.clips import integrity_clips_df

    audited = with_metadata_audit(integrity_clips_df(spark, 240, partitions=4))
    return audited.groupBy(
        F.coalesce(F.col("meta_violation"), F.lit("ok")).alias(
            "meta_violation"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("implied_dur_ms"), F.lit(0.0))
        .cast("long")
        .alias("sum_implied_ms"),
    )


Q_METADATA_AUDIT_SQL = """
SELECT meta_violation,
       cast(count(*) AS BIGINT) AS n,
       cast(coalesce(sum(implied), 0) AS BIGINT) AS sum_implied_ms
FROM (
  SELECT CASE i % 8 WHEN 2 THEN 'duration_mismatch'
                    WHEN 3 THEN 'misaligned_payload'
                    WHEN 4 THEN 'unknown_codec'
                    WHEN 5 THEN 'bad_sample_rate'
                    WHEN 6 THEN 'empty_payload'
                    ELSE 'ok' END AS meta_violation,
         CASE i % 8 WHEN 0 THEN 1000 WHEN 1 THEN 800 WHEN 7 THEN 500
                    WHEN 2 THEN 500 WHEN 6 THEN 0
                    ELSE NULL END AS implied
  FROM (SELECT unnest(range(0, 240)) AS i))
GROUP BY meta_violation
"""


def q_vad_gate(spark, sf_dir):
    """[tier: quality_filter x audio] energy-VAD speech-activity gate:
    decode -> vectorized voiced-segment detection (one Arrow boundary,
    kernel batch_voiced_segments — the SAME segmentation the splitter
    q52 uses) -> pure-Catalyst keep/drop on speech_ratio.  Rows carry
    PLANTED activity structure keyed by ``r % 5`` with codecs cycling
    ``r % 3`` (sources/clips.py::vad_rows_for_range) and every planted
    ratio is dyadic (1.0 / 0.75 / 0.125 / 0.0), so the oracle gates the
    MEASURED speech ratio and segment count bit-for-bit from the row
    index alone.  An ASR corpus gate: room tone and mostly-silent rows
    waste tokens downstream."""
    _prep(spark)
    from .operators.audio import speech_drop_reason_col, with_speech_activity
    from .sources.clips import vad_clips_df

    gated = with_speech_activity(
        vad_clips_df(spark, 240, partitions=4)
    ).withColumn("speech_drop_reason", speech_drop_reason_col(min_ratio=0.3))
    return gated.groupBy(
        F.coalesce(F.col("speech_drop_reason"), F.lit("keep")).alias(
            "speech_drop_reason"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("speech_ratio") * 1000).cast("long").alias("sum_ratio_x1000"),
        F.sum("n_speech_segments").cast("long").alias("sum_segments"),
    )


Q_VAD_GATE_SQL = """
SELECT speech_drop_reason,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(ratio * 1000) AS BIGINT) AS sum_ratio_x1000,
       cast(sum(segs) AS BIGINT) AS sum_segments
FROM (
  SELECT CASE i % 5 WHEN 2 THEN 'low_speech_ratio'
                    WHEN 3 THEN 'no_speech'
                    WHEN 4 THEN 'vad_error'
                    ELSE 'keep' END AS speech_drop_reason,
         CASE i % 5 WHEN 0 THEN 1.0 WHEN 1 THEN 0.75
                    WHEN 2 THEN 0.125 ELSE 0.0 END AS ratio,
         CASE i % 5 WHEN 0 THEN 1 WHEN 1 THEN 2
                    WHEN 2 THEN 1 ELSE 0 END AS segs
  FROM (SELECT unnest(range(0, 240)) AS i))
GROUP BY speech_drop_reason
"""


def q_survivor_policy(spark, sf_dir):
    """[training-data] survivorship-POLICY dedup (CCNet keeps the
    best-perplexity copy of each duplicate; this is that policy as an
    operator): one row per normalized-content fingerprint keeping the
    HIGHEST-quality member, ties to the lowest id.  Each document is
    paired with a whitespace-decorated variant (same fingerprint by
    normalization) whose quality is shifted by ``doc_id % 3`` — variant
    wins / original wins / exact tie — so the oracle recomputes the
    full survivor SET row-by-row (id AND quality), not counts.  Spark
    groups on the 8-byte xxhash64 fingerprint (what a 100 TB corpus
    shuffles); the oracle reasons over the planted pair structure."""
    from .operators.dedup import dedup_exact_keep_best

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # prefix the text with its doc_id: the documents table carries a few
    # NATURALLY identical texts at sf0.1, and the planted-pair oracle
    # reasons only about the (base, variant) pairs — uniqueness by
    # construction keeps natural dups from collapsing extra rows
    keyed_text = F.concat(F.col("doc_id").cast("string"), F.lit(": "), "text")
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        keyed_text.alias("text"),
        F.col("n_chars").cast("long").alias("quality"),
    )
    variant = docs.select(
        (F.col("doc_id") + 1_000_000).cast("long").alias("doc_id"),
        F.concat(F.lit("  "), keyed_text, F.lit(" \t")).alias("text"),
        (
            F.col("n_chars")
            + F.when(F.col("doc_id") % 3 == 0, F.lit(5))
            .when(F.col("doc_id") % 3 == 1, F.lit(-5))
            .otherwise(F.lit(0))
        ).cast("long").alias("quality"),
    )
    surv = dedup_exact_keep_best(
        base.unionByName(variant), "quality", id_col="doc_id", text_col="text"
    )
    return surv.select("doc_id", "quality").orderBy("doc_id")


Q_SURVIVOR_POLICY_SQL = """
SELECT cast(CASE WHEN doc_id % 3 = 0 THEN doc_id + 1000000
            ELSE doc_id END AS BIGINT) AS doc_id,
       cast(n_chars + CASE WHEN doc_id % 3 = 0 THEN 5 ELSE 0 END
            AS BIGINT) AS quality
FROM documents
ORDER BY 1
"""


def q_repeated_segments(spark, sf_dir):
    """[tier: quality_filter x audio] repeated-segment detection INSIDE
    clips — the audio analog of C4's repeated-line strip: fixed 250 ms
    pcm16-window fingerprints (kernel batch_window_hashes), windows
    recurring across >= 2 distinct clips flagged per clip with
    (n_repeated_windows, first_repeated_win).  Rows carry PLANTED
    structure keyed by ``r % 4`` with codecs cycling ``r % 3``
    (sources/clips.py::repeat_rows_for_range): a shared intro jingle at
    the head (windows 0,1), nothing, the SAME jingle at the tail
    (windows 2,3 — position differs, content matches), or a short clip
    whose ragged tail the windower must drop — so the oracle recomputes
    every clip's count AND first-repeat position from the row index
    alone.  Whole-clip dedup (q44) never sees these: each clip is
    unique, only its jingle repeats.  Scale shape: only 20-byte
    (hash, id, idx) sketch rows shuffle; PCM never leaves the decode
    task."""
    _prep(spark)
    from .operators.audio import repeated_audio_segments
    from .sources.clips import repeat_clips_df

    out = repeated_audio_segments(
        repeat_clips_df(spark, 240, partitions=4), win_ms=250, min_clips=2
    )
    return out.select(
        "clip_id",
        F.col("n_repeated_windows").cast("long").alias("n_repeated_windows"),
        F.col("first_repeated_win").cast("int").alias("first_repeated_win"),
    ).orderBy("clip_id")


Q_REPEATED_SEGMENTS_SQL = """
SELECT printf('rep-%010d', i) AS clip_id,
       cast(CASE WHEN i % 4 IN (0, 2) THEN 2 ELSE 0 END AS BIGINT)
           AS n_repeated_windows,
       cast(CASE WHEN i % 4 = 0 THEN 0
                 WHEN i % 4 = 2 THEN 2 END AS INTEGER)
           AS first_repeated_win
FROM (SELECT unnest(range(0, 240)) AS i)
ORDER BY clip_id
"""


def q_strip_repeated(spark, sf_dir):
    """[tier: quality_filter x audio] repeated-segment REMOVAL — the
    actionable form of q91 (detect): cross-clip repeated 250 ms windows
    (intro jingles / ad reads) are cut out of the payload with a
    pure-Catalyst byte splice, zero re-encode (fixed-width codecs make
    a sample window a byte range), the audio analog of dedup_lines
    deleting the boilerplate it finds.  Same planted fixture as q91,
    so the oracle recomputes every clip's removed-window count, new
    duration, and new payload length from the row index alone (bytes
    are codec-width-dependent: pcm16 2 B/sample, G.711 1 B).  Byte
    EXACTNESS of the spliced payload (content equals the original minus
    the jingle span) is pytest-gated (tests/test_audio.py)."""
    _prep(spark)
    from .operators.audio import strip_repeated_segments
    from .sources.clips import repeat_clips_df

    out = strip_repeated_segments(
        repeat_clips_df(spark, 240, partitions=4), win_ms=250, min_clips=2
    )
    return out.select(
        "clip_id",
        F.col("n_removed_windows").cast("long").alias("n_removed_windows"),
        F.col("dur_ms").cast("int").alias("dur_ms"),
        F.length("bytes").cast("long").alias("n_bytes"),
    ).orderBy("clip_id")


Q_STRIP_REPEATED_SQL = """
SELECT printf('rep-%010d', i) AS clip_id,
       cast(CASE WHEN i % 4 IN (0, 2) THEN 2 ELSE 0 END AS BIGINT)
           AS n_removed_windows,
       cast(CASE i % 4 WHEN 1 THEN 1000 WHEN 3 THEN 375
            ELSE 500 END AS INTEGER) AS dur_ms,
       cast((CASE i % 4 WHEN 1 THEN 8000 WHEN 3 THEN 3000 ELSE 4000 END)
            * (CASE WHEN i % 3 = 0 THEN 2 ELSE 1 END) AS BIGINT)
           AS n_bytes
FROM (SELECT unnest(range(0, 240)) AS i)
ORDER BY clip_id
"""


def q_pairing_gate(spark, sf_dir):
    """[tier: quality_filter x audio] transcript/audio PAIRING gate —
    the cross-modal consistency audit: chars per voiced second
    (with_speaking_rate: energy-VAD voiced time x transcript length,
    everything above the one decode pure Catalyst) gated against the
    plausible speaking band (pairing_drop_reason_col).  Mispaired rows
    (wrong transcript, truncated audio, text on a silent file, missing
    text) are named first-match.  Rows carry PLANTED classes keyed by
    ``r % 5`` with codecs cycling ``r % 3``
    (sources/clips.py::pairing_rows_for_range); voiced clips measure
    speech_ratio exactly 1.0 over exactly 1 s, so the oracle gates the
    MEASURED rate bit-for-bit from the row index alone."""
    _prep(spark)
    from .operators.audio import pairing_drop_reason_col, with_speaking_rate
    from .sources.clips import pairing_clips_df

    gated = with_speaking_rate(
        pairing_clips_df(spark, 240, partitions=4)
    ).withColumn(
        "pairing_drop_reason",
        pairing_drop_reason_col(min_cps=4.0, max_cps=30.0),
    )
    return gated.groupBy(
        F.coalesce(F.col("pairing_drop_reason"), F.lit("keep")).alias(
            "pairing_drop_reason"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("chars_per_voiced_sec") * 1000), F.lit(0.0))
        .cast("long")
        .alias("sum_cps_x1000"),
        (F.sum("voiced_sec") * 1000).cast("long").alias("sum_voiced_ms"),
    )


Q_PAIRING_GATE_SQL = """
SELECT pairing_drop_reason,
       cast(count(*) AS BIGINT) AS n,
       cast(coalesce(sum(cps * 1000), 0) AS BIGINT) AS sum_cps_x1000,
       cast(sum(voiced * 1000) AS BIGINT) AS sum_voiced_ms
FROM (
  SELECT CASE i % 5 WHEN 1 THEN 'rate_too_fast'
                    WHEN 2 THEN 'rate_too_slow'
                    WHEN 3 THEN 'transcript_without_speech'
                    WHEN 4 THEN 'missing_transcript'
                    ELSE 'keep' END AS pairing_drop_reason,
         CASE i % 5 WHEN 0 THEN 16.0 WHEN 1 THEN 80.0
                    WHEN 2 THEN 2.0 END AS cps,
         CASE i % 5 WHEN 3 THEN 0.0 ELSE 1.0 END AS voiced
  FROM (SELECT unnest(range(0, 240)) AS i))
GROUP BY pairing_drop_reason
"""


def q_streaming_audio_gate(spark, sf_dir):
    """[tier: quality_filter x audio x streaming] the multimodal
    pipeline (decode → audio features → fused text kernel → audio gate,
    ONE Python boundary) lifted onto Structured Streaming
    (streaming.py::multimodal_stream) and run END-TO-END: the planted
    defect clips of q40 land as THREE micro-batches (file source,
    maxFilesPerTrigger=1, availableNow) and are gated AS THEY LAND —
    the ingest-time shape of the batch gate.  Output is the q40
    protocol over the streamed result: per-reason counts AND the
    measured-duration sum, both recomputable from the row-index rule
    (r % 6) alone.  This closes the gap q86 closed for dedup: the
    streaming lift of the GATE surface now has a hard oracle row, not
    just pytest."""
    import os
    import shutil
    import tempfile
    import uuid

    _prep(spark)
    from .sources.clips import CLIPS_SCHEMA_DDL, gate_rows_for_range
    from .streaming import multimodal_stream

    tmp = tempfile.mkdtemp(prefix="q95_stream_")
    qn = f"q95_sink_{uuid.uuid4().hex[:8]}"
    try:
        src = os.path.join(tmp, "src")
        for j in range(3):
            spark.createDataFrame(
                gate_rows_for_range(40 * j, 40 * (j + 1)), CLIPS_SCHEMA_DDL
            ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(CLIPS_SCHEMA_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            multimodal_stream(stream)
            .writeStream.format("memory")
            .queryName(qn)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = (
            spark.table(qn)
            .groupBy(
                F.coalesce(F.col("audio_drop_reason"), F.lit("keep")).alias(
                    "audio_drop_reason"
                )
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("dur_ms_measured").alias("sum_dur_measured_ms"),
            )
            .collect()
        )
        return spark.createDataFrame(
            rows,
            "audio_drop_reason string, n long, sum_dur_measured_ms long",
        )
    finally:
        try:
            spark.catalog.dropTempView(qn)
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)


Q_STREAMING_AUDIO_GATE_SQL = """
SELECT audio_drop_reason,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(dur) AS BIGINT) AS sum_dur_measured_ms
FROM (
  SELECT CASE i % 6 WHEN 0 THEN 'silent'
                    WHEN 1 THEN 'clipped'
                    WHEN 2 THEN 'too_short_audio'
                    WHEN 3 THEN 'decode_error'
                    ELSE 'keep' END AS audio_drop_reason,
         CASE i % 6 WHEN 2 THEN 120 WHEN 3 THEN 0 ELSE 1000 END AS dur
  FROM (SELECT unnest(range(0, 120)) AS i))
GROUP BY audio_drop_reason
"""


def q_tempo_dedup(spark, sf_dir):
    """[tier: quality_filter x audio] tempo-robust audio dedup: the
    energy-envelope fingerprint (with_tempo_fingerprint — n equal time
    spans, threshold-quantized, kernel batch_envelope_bits) is invariant
    to speed perturbation AND codec, so a 0.9x/1.1x re-upload lands in
    the same 8-byte fingerprint group that exact / cross-codec dedup
    (q44) misses because the payload length changed.  Rows carry
    PLANTED groups (sources/clips.py::tempo_rows_for_range): three
    tempos x three codecs of one 8-section pattern per group, with
    every 4th group planted all-unique — the oracle knows each clip's
    duplicate-group size (3 or 1) from the row index alone.  Detection
    counterpart of the speed_perturbed_clips augmentation (q57)."""
    _prep(spark)
    from pyspark.sql import Window

    from .operators.audio import with_tempo_fingerprint
    from .sources.clips import tempo_clips_df

    fp = with_tempo_fingerprint(tempo_clips_df(spark, 240, partitions=4))
    w = Window.partitionBy("tempo_fp")
    return (
        fp.filter(F.col("fp_ok"))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .select("clip_id", F.col("group_size").cast("long").alias("group_size"))
        .orderBy("clip_id")
    )


Q_TEMPO_DEDUP_SQL = """
SELECT printf('tempo-%010d', i) AS clip_id,
       cast(CASE WHEN cast(floor(i / 3) AS INTEGER) % 4 = 3
                 THEN 1 ELSE 3 END AS BIGINT) AS group_size
FROM (SELECT unnest(range(0, 240)) AS i)
ORDER BY clip_id
"""


def q_audio_redact(spark, sf_dir):
    """[tier: quality_filter x audio] CROSS-MODAL PII scrub — the
    reference's substitution semantics (ref:lib/top_secret/text.rb:
    216-224) extended to the payload: the exact character spans the
    text scrub consumes (kernel pii_char_spans — the same single-pass
    event scan, parity pytest-gated) are mapped proportionally onto the
    samples and silenced in place with the codec's own silence byte,
    while the transcript is scrubbed with the same mapping.  PII then
    leaks through NEITHER modality.  Rows carry PII at EXACT offsets in
    100-char transcripts over 8000-sample clips
    (sources/clips.py::redact_rows_for_range, 80 samples/char exactly),
    so the oracle recomputes the span count, the redacted milliseconds,
    the emitted placeholder label, AND the unchanged payload length
    from the row index alone."""
    _prep(spark)
    from .operators.audio import redact_audio_pii
    from .sources.clips import redact_clips_df

    out = redact_audio_pii(redact_clips_df(spark, 240, partitions=4))
    return out.select(
        "clip_id",
        F.col("n_redacted_spans").cast("int").alias("n_redacted_spans"),
        F.col("redacted_ms").alias("redacted_ms"),
        F.regexp_extract("scrubbed", r"\[([A-Z]+_\d+)\]", 1).alias("label"),
        F.length("bytes").cast("long").alias("n_bytes"),
    ).orderBy("clip_id")


Q_AUDIO_REDACT_SQL = """
SELECT printf('redact-%010d', i) AS clip_id,
       cast(CASE WHEN i % 3 = 2 THEN 0 ELSE 1 END AS INTEGER)
           AS n_redacted_spans,
       cast(CASE i % 3 WHEN 0 THEN 170.0 WHEN 1 THEN 110.0
            ELSE 0.0 END AS DOUBLE) AS redacted_ms,
       CASE i % 3 WHEN 0 THEN 'EMAIL_1' WHEN 1 THEN 'SSN_1'
            ELSE '' END AS label,
       cast(8000 * (CASE WHEN cast(floor(i / 3) AS INTEGER) % 3 = 0
                         THEN 2 ELSE 1 END) AS BIGINT) AS n_bytes
FROM (SELECT unnest(range(0, 240)) AS i)
ORDER BY clip_id
"""


def q_offset_dedup(spark, sf_dir):
    """[tier: quality_filter x audio] OFFSET-robust audio dedup via
    content-defined chunking: Rabin rolling-hash boundaries (kernel
    batch_cdc_segments) come from the CONTENT, so a re-upload with
    extra leading silence or an appended outro — every sample position
    shifted, which defeats exact (q10), cross-codec (q44), and
    fixed-window hashing alike — still shares every interior segment
    hash with the original.  offset_robust_partners self-joins the
    8-byte segment sketches (min_shared=2 kills chance single-segment
    collisions) and counts distinct partners per clip.  Rows carry
    PLANTED offset groups (sources/clips.py::offset_rows_for_range):
    one noise body at three offsets per group (codec per group), every
    4th group all-unique — the oracle knows each clip's partner count
    (2 or 0) from the row index alone.  mask_bits=8 (~256-sample
    expected segments) keeps >=19 segments per 8000-sample body, so
    the two silence-padded members always share well over min_shared
    interior segments."""
    _prep(spark)
    from .operators.audio import offset_robust_partners
    from .sources.clips import offset_clips_df

    out = offset_robust_partners(
        offset_clips_df(spark, 240, partitions=4), mask_bits=8
    )
    return out.select("clip_id", "n_partners").orderBy("clip_id")


Q_OFFSET_DEDUP_SQL = """
SELECT printf('off-%010d', i) AS clip_id,
       cast(CASE WHEN cast(floor(i / 3) AS INTEGER) % 4 = 3
                 THEN 0 ELSE 2 END AS BIGINT) AS n_partners
FROM (SELECT unnest(range(0, 240)) AS i)
ORDER BY clip_id
"""



def q_channel_stats(spark, sf_dir):
    """[tier: quality_filter x audio] per-channel call analytics over
    frame-interleaved STEREO clips: one decode + one whole-batch
    block-energy pass (operators/audio.py::with_channel_stats,
    kernel batch_channel_blocks) yields talk time per channel and
    overtalk (both channels voiced at once) — the agent/customer
    crosstalk measures call-center curation gates on.  Rows carry
    PLANTED channel-activity classes keyed by r % 6
    (sources/clips.py::stereo_rows_for_range; halves align on 10 ms
    blocks, voiced magnitude 0.45 vs threshold 0.01), so the oracle
    recomputes the EXACT talk/overtalk milliseconds per class from the
    row index alone — measurements are gated, not just decisions.
    Reference parity: top_secret is text-only (ref:lib/top_secret.rb);
    multichannel telephony audio is part of the audio twin the north
    rule adds."""
    _prep(spark)
    from .operators.audio import with_channel_stats
    from .sources.clips import stereo_clips_df

    out = with_channel_stats(stereo_clips_df(spark, 240, partitions=4))
    cls = (F.substring("clip_id", 4, 10).cast("int") % 6).alias("cls")
    return (
        out.groupBy(cls)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("chan_ok").cast("bigint")).alias("n_ok"),
            F.sum("talk_ms_ch0").alias("sum_talk0_ms"),
            F.sum("talk_ms_ch1").alias("sum_talk1_ms"),
            F.sum("overtalk_ms").alias("sum_overtalk_ms"),
        )
        .orderBy("cls")
    )


Q_CHANNEL_STATS_SQL = """
SELECT cast(i % 6 AS INTEGER) AS cls,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(CASE WHEN i % 6 = 5 THEN 0 ELSE 1 END) AS BIGINT) AS n_ok,
       cast(sum(CASE i % 6 WHEN 0 THEN 1000 WHEN 2 THEN 500
                          WHEN 3 THEN 1000 ELSE 0 END) AS BIGINT)
           AS sum_talk0_ms,
       cast(sum(CASE i % 6 WHEN 1 THEN 1000 WHEN 2 THEN 500
                          WHEN 3 THEN 500 ELSE 0 END) AS BIGINT)
           AS sum_talk1_ms,
       cast(sum(CASE WHEN i % 6 = 3 THEN 500 ELSE 0 END) AS BIGINT)
           AS sum_overtalk_ms
FROM (SELECT unnest(range(0, 240)) AS i)
GROUP BY cls
ORDER BY cls
"""


def q_downmix(spark, sf_dir):
    """[tier: quality_filter x audio] stereo-to-mono downmix in the
    clip's own codec (operators/audio.py::downmix_to_mono): decode ->
    ONE whole-buffer channel mean (kernel batch_downmix) -> one
    whole-buffer re-encode, per-clip output = a byte slice.  Verified
    three ways at once on the planted stereo classes
    (stereo_rows_for_range): (a) payload byte length exactly halves
    per codec (pcm16 32000->16000 B, companded 16000->8000 B), (b) the
    downmixed LEVEL is the closed-form channel mean — one voiced
    channel -> 0.225 amplitude ('half'), both in-phase -> 0.45
    ('loud'), silence -> 0 — measured by the standard feature stage
    over the re-encoded mono bytes, and (c) poison rows (undecodable
    codec) pass through byte-for-byte with n_channels untouched.  The
    oracle recomputes all three from the row index."""
    _prep(spark)
    from .operators.audio import downmix_to_mono, with_audio_features
    from .sources.clips import stereo_clips_df

    mono = downmix_to_mono(stereo_clips_df(spark, 240, partitions=4))
    mono = mono.withColumn("n_bytes", F.length("bytes").cast("bigint"))
    feats = with_audio_features(mono)
    cls = (F.substring("clip_id", 4, 10).cast("int") % 6).alias("cls")
    level = (
        F.when(~F.col("decode_ok"), F.lit("undecodable"))
        .when(F.col("rms") < 0.01, F.lit("silent"))
        .when(F.col("rms") < 0.3, F.lit("half"))
        .otherwise(F.lit("loud"))
    ).alias("level_class")
    return (
        feats.groupBy(cls, F.col("codec"), level)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("sum_bytes"),
            F.sum(F.col("n_channels").cast("bigint")).alias("sum_channels"),
        )
        .orderBy("cls", "codec")
    )


Q_DOWNMIX_SQL = """
SELECT cast(cls AS INTEGER) AS cls, codec, level_class,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(n_bytes) AS BIGINT) AS sum_bytes,
       cast(sum(n_ch) AS BIGINT) AS sum_channels
FROM (
  SELECT i % 6 AS cls,
         CASE WHEN i % 6 = 5 THEN 'opus'
              WHEN cast(floor(i / 6) AS INTEGER) % 3 = 0 THEN 'pcm16'
              WHEN cast(floor(i / 6) AS INTEGER) % 3 = 1 THEN 'ulaw'
              ELSE 'alaw' END AS codec,
         CASE i % 6 WHEN 5 THEN 'undecodable' WHEN 4 THEN 'silent'
                    WHEN 3 THEN 'loud' ELSE 'half' END AS level_class,
         CASE WHEN i % 6 = 5 THEN 4
              WHEN cast(floor(i / 6) AS INTEGER) % 3 = 0 THEN 16000
              ELSE 8000 END AS n_bytes,
         CASE WHEN i % 6 = 5 THEN 2 ELSE 1 END AS n_ch
  FROM (SELECT unnest(range(0, 240)) AS i))
GROUP BY cls, codec, level_class
ORDER BY cls, codec
"""



def q_wav_audit(spark, sf_dir):
    """[tier: quality_filter x audio] RIFF/WAVE container audit ENTIRELY
    in Catalyst (operators/audio.py::with_wav_header): byte-slice + hex
    + conv expressions parse fmt/sr/bits/data-chunk location next to
    the scan — zero Python, zero Arrow crossing, zero decode — so a
    10^12-row header audit is scan-speed.  Rows carry PLANTED container
    classes (sources/clips.py::wav_rows_for_range, r % 6): canonical
    pcm16, canonical mu-law, interposed-LIST-chunk, header-sr-
    contradicts-metadata, lying data length (truncated upload), and a
    raw non-container payload.  The oracle recomputes the status AND
    the parsed sample-rate / data-length sums per class from the row
    index — parsed VALUES are gated, not just verdicts."""
    _prep(spark)
    from .operators.audio import with_wav_header
    from .sources.clips import wav_clips_df

    hdr = with_wav_header(wav_clips_df(spark, 240, partitions=4))
    cls = (F.substring("clip_id", 4, 10).cast("int") % 6).alias("cls")
    status = (
        F.when(F.col("wav_issue").isNotNull(), F.col("wav_issue"))
        .when(F.col("sr_hdr") != F.col("sr_hz"), F.lit("sr_mismatch"))
        .otherwise(F.lit("ok"))
    ).alias("status")
    return (
        hdr.groupBy(cls, status)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("sr_hdr"), F.lit(0)).cast("bigint"))
            .alias("sum_sr_hdr"),
            F.sum(F.coalesce(F.col("data_len"), F.lit(0)))
            .alias("sum_data_len"),
        )
        .orderBy("cls")
    )


Q_WAV_AUDIT_SQL = """
SELECT cast(i % 6 AS INTEGER) AS cls,
       CASE i % 6 WHEN 3 THEN 'sr_mismatch' WHEN 4 THEN 'truncated_data'
                  WHEN 5 THEN 'not_riff' ELSE 'ok' END AS status,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(CASE i % 6 WHEN 3 THEN 16000 WHEN 5 THEN 0
                           ELSE 8000 END) AS BIGINT) AS sum_sr_hdr,
       cast(sum(CASE i % 6 WHEN 1 THEN 8000 WHEN 4 THEN 0 WHEN 5 THEN 0
                           ELSE 16000 END) AS BIGINT) AS sum_data_len
FROM (SELECT unnest(range(0, 240)) AS i)
GROUP BY 1, 2
ORDER BY cls
"""


def q_wav_unwrap(spark, sf_dir):
    """[tier: quality_filter x audio] container ingest: unwrap
    well-formed WAVs to raw payloads with codec / sr_hz REWRITTEN from
    the header (container authoritative over upload metadata) — still
    pure Catalyst (operators/audio.py::unwrap_wav) — then drive the
    STANDARD decode boundary over the result.  Gates, per planted
    class: the unwrapped byte length (16044->16000 etc.), the rewritten
    codec (fmt 1->pcm16, 7->ulaw), the header-authoritative sr_hz
    (16000 on the mismatch class), decodability (malformed containers
    pass through and stay undecodable), and the measured level (the
    0.45 block wave reads 'loud' through every unwrap path)."""
    _prep(spark)
    from .operators.audio import unwrap_wav, with_audio_features
    from .sources.clips import wav_clips_df

    un = unwrap_wav(wav_clips_df(spark, 240, partitions=4))
    un = un.withColumn("n_bytes", F.length("bytes").cast("bigint"))
    feats = with_audio_features(un)
    cls = (F.substring("clip_id", 4, 10).cast("int") % 6).alias("cls")
    level = (
        F.when(~F.col("decode_ok"), F.lit("undecodable"))
        .when(F.col("rms") < 0.01, F.lit("silent"))
        .when(F.col("rms") < 0.3, F.lit("half"))
        .otherwise(F.lit("loud"))
    ).alias("level_class")
    return (
        feats.groupBy(cls, F.col("codec"), level)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("sum_bytes"),
            F.sum(F.col("sr_hz").cast("bigint")).alias("sum_sr"),
        )
        .orderBy("cls")
    )


Q_WAV_UNWRAP_SQL = """
SELECT cast(i % 6 AS INTEGER) AS cls,
       CASE i % 6 WHEN 1 THEN 'ulaw' WHEN 4 THEN 'wav'
                  ELSE 'pcm16' END AS codec,
       CASE WHEN i % 6 = 4 THEN 'undecodable' ELSE 'loud' END
           AS level_class,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(CASE i % 6 WHEN 1 THEN 8000 WHEN 4 THEN 16044
                           ELSE 16000 END) AS BIGINT) AS sum_bytes,
       cast(sum(CASE WHEN i % 6 = 3 THEN 16000 ELSE 8000 END) AS BIGINT)
           AS sum_sr
FROM (SELECT unnest(range(0, 240)) AS i)
GROUP BY 1, 2, 3
ORDER BY cls
"""



def q_bloom_decontaminate(spark, sf_dir):
    """[training-data] benchmark decontamination behind a BLOOM
    pre-filter (operators/dedup.py::flag_contaminated_bloom): the
    benchmark's n-grams fold into a 128 KiB bitmap probed in pure
    Catalyst before any join, so at 10^12 rows the string-verified
    broadcast join sees only bloom survivors instead of every corpus
    n-gram — a 100-1000x cut in join traffic for the identical
    verdict.  Same planted corpus as q51 (full 9-word benchmark
    sentence embedded at r%7==3 → exactly two 8-gram hits; a 4-word
    prefix at r%7==5 must NOT flag), same closed-form oracle: the
    bloom path must reproduce the exact operator's answer bit for bit
    (false positives die in the verify join; the saturated-bloom
    regime is property-tested in pytest)."""
    _prep(spark)
    from .operators.dedup import flag_contaminated_bloom

    bench = spark.range(0, 3).select(
        F.format_string(
            "benchmark question %d alpha bravo charlie delta echo foxtrot",
            F.col("id"),
        ).alias("text")
    )
    base = [F.format_string(f"t%dw{j}", F.col("id")) for j in range(12)]
    bench_full = F.format_string(
        "benchmark question %d alpha bravo charlie delta echo foxtrot",
        F.col("id") % 3,
    )
    bench_part = F.format_string(
        "benchmark question %d alpha", F.col("id") % 3
    )
    docs = spark.range(0, 280).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 7 == 3,
            F.concat_ws(" ", *base[:6], bench_full, *base[6:]),
        )
        .when(
            F.col("id") % 7 == 5,
            F.concat_ws(" ", *base[:6], bench_part, *base[6:]),
        )
        .otherwise(F.concat_ws(" ", *base))
        .alias("text"),
    )
    out = flag_contaminated_bloom(docs, bench, n=8)
    return (
        out.groupBy((F.col("doc_id") % 4).cast("bigint").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("contaminated").cast("bigint")).alias("n_contaminated"),
            F.sum("n_contaminated_ngrams").alias("ngram_hits"),
        )
        .orderBy("grp")
    )


Q_BLOOM_DECONTAMINATE_SQL = """
SELECT CAST(r % 4 AS BIGINT) AS grp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
       CAST(sum(CASE WHEN r % 7 = 3 THEN 2 ELSE 0 END) AS BIGINT)
           AS ngram_hits
FROM (SELECT unnest(range(0, 280)) AS r)
GROUP BY grp
ORDER BY grp
"""



def q_psi_drift(spark, sf_dir):
    """[training-data] corpus distribution drift between two snapshots
    (operators/drift.py::psi_drift): Population Stability Index over a
    pinned length bucketing, decomposed per bucket — the monitor that
    catches a filter change or crawler bug SHIFTING the corpus where
    q81's membership diff only sees which rows changed.  Baseline =
    the documents table; candidate = the same corpus after a
    length >= 200 filter (a real curation change), so the first two
    buckets empty out and the index reads ~1.5 (far past the 0.25
    'shifted' convention).  The only shuffles are two tiny bucket-key
    groupBys (map-side partials to <= 6 rows incl. the NULL bucket);
    every PSI term then computes on the joined 6-row frame.  The oracle RECOMPUTES the
    whole index — counts, Laplace-smoothed shares, ln terms — from the
    same parquet in DuckDB, value-gated to 6 decimals."""
    _prep(spark)
    from .operators.drift import psi_drift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    length = F.coalesce(F.length("text"), F.lit(0)).cast("double")
    after = docs.filter(F.length("text") >= 200)
    return psi_drift(docs, after, length, [0, 100, 200, 400, 800, 1600])


Q_PSI_DRIFT_SQL = """
WITH spine AS (SELECT cast(unnest(range(-1, 5)) AS INTEGER) AS bucket),
  vb AS (
    SELECT CASE WHEN coalesce(length(text), 0) < 100 THEN 0
                WHEN coalesce(length(text), 0) < 200 THEN 1
                WHEN coalesce(length(text), 0) < 400 THEN 2
                WHEN coalesce(length(text), 0) < 800 THEN 3
                ELSE 4 END AS bucket
    FROM documents),
  va AS (
    SELECT CASE WHEN coalesce(length(text), 0) < 100 THEN 0
                WHEN coalesce(length(text), 0) < 200 THEN 1
                WHEN coalesce(length(text), 0) < 400 THEN 2
                WHEN coalesce(length(text), 0) < 800 THEN 3
                ELSE 4 END AS bucket
    FROM documents WHERE length(text) >= 200),
  cb AS (SELECT bucket, count(*) AS n_before FROM vb GROUP BY bucket),
  ca AS (SELECT bucket, count(*) AS n_after FROM va GROUP BY bucket),
  j AS (
    SELECT s.bucket,
           coalesce(n_before, 0) AS n_before,
           coalesce(n_after, 0) AS n_after
    FROM spine s LEFT JOIN cb USING (bucket) LEFT JOIN ca USING (bucket)),
  sh AS (
    SELECT bucket, n_before, n_after,
           (n_before + 0.5) / (sum(n_before) OVER () + 3.0) AS p,
           (n_after + 0.5) / (sum(n_after) OVER () + 3.0) AS q
    FROM j)
SELECT cast(bucket AS INTEGER) AS bucket,
       cast(n_before AS BIGINT) AS n_before,
       cast(n_after AS BIGINT) AS n_after,
       round((p - q) * ln(p / q), 6) AS psi_contrib,
       round(sum((p - q) * ln(p / q)) OVER (), 6) AS psi_total
FROM sh
ORDER BY bucket
"""



def q_declip_repair(spark, sf_dir):
    """[tier: quality_filter x audio] clipping REPAIR, not just
    detection (operators/audio.py::declipped_clips): clipped runs are
    rebuilt by linear interpolation from their flanking good samples
    (kernel batch_declip — ONE global accumulate each way across the
    whole Arrow batch, no per-run Python), edge runs held at their one
    anchor, fully-clipped clips left untouched for the gate.  An
    overdriven but otherwise-good recording becomes usable training
    audio instead of a q40 drop.  Rows carry PLANTED damage classes
    (sources/clips.py::declip_rows_for_range): the oracle knows
    n_clipped AND n_repaired per class from the row index, and the
    standard feature stage re-measures the REPAIRED bytes — repaired
    classes must read clipping_ratio 0, the unanchored class must
    still read ~1 — so the gate verifies the repair actually landed in
    the payload, not just in the counters."""
    _prep(spark)
    from .operators.audio import declipped_clips, with_audio_features
    from .sources.clips import declip_clips_df

    rep = declipped_clips(declip_clips_df(spark, 240, partitions=4))
    feats = with_audio_features(rep)
    cls = (F.substring("clip_id", 4, 10).cast("int") % 4).alias("cls")
    return (
        feats.groupBy(cls)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_clipped").alias("sum_clipped"),
            F.sum("n_repaired").alias("sum_repaired"),
            F.sum((F.col("clipping_ratio") > 0.5).cast("bigint"))
            .alias("n_still_clipped"),
        )
        .orderBy("cls")
    )


Q_DECLIP_REPAIR_SQL = """
SELECT cast(i % 4 AS INTEGER) AS cls,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(CASE i % 4 WHEN 1 THEN 500 WHEN 2 THEN 300
                           WHEN 3 THEN 8000 ELSE 0 END) AS BIGINT)
           AS sum_clipped,
       cast(sum(CASE i % 4 WHEN 1 THEN 500 WHEN 2 THEN 300
                           ELSE 0 END) AS BIGINT) AS sum_repaired,
       cast(sum(CASE WHEN i % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_still_clipped
FROM (SELECT unnest(range(0, 240)) AS i)
GROUP BY cls
ORDER BY cls
"""



def q_pack_audio(spark, sf_dir):
    """[tier: quality_filter x audio] fixed-duration training-example
    assembly (operators/audio.py::pack_audio_examples): clips
    concatenate in id order and the stream chops every 2500 ms — the
    audio twin of q53's GPT-style sequence packing, producing the batch
    shape speech-SSL pretraining consumes.  Straddling clips contribute
    a head slice and a tail slice; the per-(clip, example) slices are
    pure Catalyst substring math over global offsets from the two-phase
    prefix sum, and the one payload shuffle is the groupBy(pack_id)
    where each byte moves exactly once.  The oracle RECOMPUTES the
    whole packing in SQL — window prefix sum, span explode, per-pack
    contributor counts and byte/duration totals — from the planted
    600/1000/1400 ms duration cycle; byte-exact stream reassembly is
    pytest-gated."""
    _prep(spark)
    from .operators.audio import pack_audio_examples
    from .sources.clips import pack_clips_df

    # declared (codec, sr): the scan-free scale path — per-row
    # assert_true enforcement instead of the inference distinct
    out = pack_audio_examples(
        pack_clips_df(spark, 240, partitions=4), 2500,
        codec="pcm16", sr_hz=8000,
    )
    return (
        out.select(
            "pack_id",
            F.col("n_clips").cast("bigint").alias("n_clips"),
            F.length("bytes").cast("bigint").alias("n_bytes"),
            F.col("dur_ms").cast("bigint").alias("dur_ms"),
        )
        .orderBy("pack_id")
    )


Q_PACK_AUDIO_SQL = """
WITH c AS (
  SELECT i, CAST(CASE i % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                 ELSE 1400 END AS BIGINT) * 8 AS n
  FROM (SELECT unnest(range(0, 240)) AS i)),
o AS (
  SELECT i, n,
         cast(coalesce(sum(n) OVER (ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM c),
s AS (
  SELECT i, n, off,
         unnest(range(cast(off // 20000 AS BIGINT),
                      cast((off + n - 1) // 20000 + 1 AS BIGINT))) AS pack_id
  FROM o)
SELECT cast(pack_id AS BIGINT) AS pack_id,
       cast(count(*) AS BIGINT) AS n_clips,
       cast(sum(least(off + n, (pack_id + 1) * 20000)
                - greatest(off, pack_id * 20000)) * 2 AS BIGINT) AS n_bytes,
       cast(sum(least(off + n, (pack_id + 1) * 20000)
                - greatest(off, pack_id * 20000)) / 8 AS BIGINT) AS dur_ms
FROM s
GROUP BY pack_id
ORDER BY pack_id
"""



def q_lang_consistency(spark, sf_dir):
    """[tier: quality_filter x audio] declared-language audit
    (operators/quality.py::lang_consistency_col): the clips table's
    language METADATA is checked against what the langid stage actually
    detects in the transcript — the mislabeled-upload / wrong-corpus
    check that must run before language-targeted sampling (q41) trusts
    the label.  Planted classes on the documents spine (r % 3): 0
    correctly-labeled (the q14 five-language rotation, all
    high-confidence), 1 labeled as the NEXT language in the rotation
    (confident mismatch), 2 label missing.  The oracle recomputes every
    (class, status) cell from row arithmetic — and implicitly re-gates
    the langid stage itself, since one misclassified transcript breaks
    a cell count."""
    _prep(spark)
    from .operators.features import with_text_features
    from .operators.quality import lang_consistency_col

    sent = """CASE cast({k} % 5 as int)
       WHEN 0 THEN 'The committee will meet on Tuesday to review the annual budget and discuss the new hiring plan for the engineering team.'
       WHEN 1 THEN 'Die Regierung hat heute eine neue Verordnung über den Schutz der Umwelt und die Förderung erneuerbarer Energien beschlossen.'
       WHEN 2 THEN 'Le gouvernement a annoncé ce matin une nouvelle politique pour améliorer les transports publics dans toutes les grandes villes.'
       WHEN 3 THEN 'El gobierno anunció hoy una nueva política para mejorar el transporte público en todas las grandes ciudades del país.'
       ELSE 'Il governo ha annunciato oggi una nuova politica per migliorare i trasporti pubblici in tutte le grandi città del paese.'
       END"""
    label = """element_at(array('en','de','fr','es','it'),
                          cast(({k}) % 5 as int) + 1)"""
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(sent.format(k="doc_id")).alias("transcript"),
        F.when(F.col("doc_id") % 3 == 0, F.expr(label.format(k="doc_id")))
        .when(F.col("doc_id") % 3 == 1, F.expr(label.format(k="doc_id + 1")))
        .alias("lang_declared"),
    )
    feats = with_text_features(planted, "transcript")
    status = F.coalesce(lang_consistency_col(), F.lit("ok")).alias("status")
    return (
        feats.groupBy((F.col("doc_id") % 3).cast("int").alias("cls"), status)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cls")
    )


Q_LANG_CONSISTENCY_SQL = """
SELECT cast(r % 3 AS INTEGER) AS cls,
       CASE r % 3 WHEN 0 THEN 'ok' WHEN 1 THEN 'lang_mismatch'
                  ELSE 'lang_metadata_missing' END AS status,
       cast(count(*) AS BIGINT) AS n
FROM (SELECT doc_id AS r FROM documents)
GROUP BY 1, 2
ORDER BY cls
"""



def q_cross_modal_dedup(spark, sf_dir):
    """[tier: quality_filter x audio] CONJUNCTIVE cross-modal dedup
    (operators/audio.py::dedup_cross_modal): a clip collapses only when
    BOTH its normalized transcript fingerprint AND its tempo-robust
    audio envelope fingerprint match — text-only dedup on an ASR corpus
    destroys speaker diversity (two speakers reading one prompt), audio
    dedup alone keeps re-transcribed copies; the conjunction removes
    true re-uploads and nothing else.  Planted groups of 3
    (sources/clips.py::xmodal_rows_for_range, class = (r//3) % 4):
    both-match groups must collapse to their m=0 member, text-only /
    audio-only / all-unique groups must survive intact — the oracle
    knows both the survivor COUNT and the survivor member-index SUM per
    class from row arithmetic, so collapsing the wrong member fails the
    gate even when counts pass."""
    _prep(spark)
    from .operators.audio import dedup_cross_modal
    from .sources.clips import xmodal_clips_df

    surv = dedup_cross_modal(xmodal_clips_df(spark, 240, partitions=4))
    idx = F.substring("clip_id", 4, 10).cast("int")
    return (
        surv.groupBy(((idx / 3).cast("int") % 4).alias("cls"))
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum((idx % 3).cast("bigint")).alias("sum_member_idx"),
        )
        .orderBy("cls")
    )


Q_CROSS_MODAL_DEDUP_SQL = """
SELECT cast(cls AS INTEGER) AS cls,
       cast(sum(CASE WHEN cls = 0 AND m > 0 THEN 0 ELSE 1 END) AS BIGINT)
           AS n_survivors,
       cast(sum(CASE WHEN cls = 0 THEN 0 ELSE m END) AS BIGINT)
           AS sum_member_idx
FROM (
  SELECT cast(floor(i / 3) AS INTEGER) % 4 AS cls, i % 3 AS m
  FROM (SELECT unnest(range(0, 240)) AS i))
GROUP BY cls
ORDER BY cls
"""



def q_denoise(spark, sf_dir):
    """[tier: quality_filter x audio] spectral-subtraction noise
    reduction (operators/audio.py::denoised_clips, kernel
    batch_denoise): each clip's noise magnitude spectrum — estimated
    from its own quietest 20% of frames, selected by one global cumsum
    with no FFT — is over-subtracted from every STFT frame and the
    clip resynthesized by windowed overlap-add, re-encoded in its own
    codec.  Driven over the q73 SNR fixture and judged by the
    INDEPENDENT frame-energy SNR estimator on the re-encoded bytes,
    before vs after: gapped-clean clips must stay high (> 30 dB both
    sides — restoration must not damage clean audio), gapped-noisy
    clips must gain >= 8 dB and land >= 18 dB (measured ~10 -> ~22),
    no-speech clips read < 3 dB before by the estimator's documented
    gapless limit.  Margins carry >= 4 dB headroom over the measured
    deterministic values; the oracle recomputes the class -> status
    map from row arithmetic."""
    _prep(spark)
    from .operators.audio import denoised_clips, with_snr_estimate
    from .sources.clips import snr_clips_df

    before = with_snr_estimate(snr_clips_df(spark, 240, partitions=4)).select(
        "clip_id", F.col("snr_est_db").alias("snr_before")
    )
    after = with_snr_estimate(
        denoised_clips(snr_clips_df(spark, 240, partitions=4))
    ).select("clip_id", F.col("snr_est_db").alias("snr_after"))
    j = before.join(after, "clip_id")
    status = (
        F.when(F.col("snr_before") < 3, F.lit("no_speech"))
        .when(
            (F.col("snr_before") > 30) & (F.col("snr_after") > 30),
            F.lit("clean_preserved"),
        )
        .when(
            (F.col("snr_after") - F.col("snr_before") >= 8)
            & (F.col("snr_after") >= 18),
            F.lit("denoised"),
        )
        .otherwise(F.lit("unexpected"))
    ).alias("status")
    cls = (F.substring("clip_id", 4, 8).cast("int") % 3).alias("cls")
    return (
        j.groupBy(cls, status)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cls")
    )


Q_DENOISE_SQL = """
SELECT cast(i % 3 AS INTEGER) AS cls,
       CASE i % 3 WHEN 0 THEN 'clean_preserved' WHEN 1 THEN 'denoised'
                  ELSE 'no_speech' END AS status,
       cast(count(*) AS BIGINT) AS n
FROM (SELECT unnest(range(0, 240)) AS i)
GROUP BY 1, 2
ORDER BY cls
"""



def q_call_pipeline(spark, sf_dir):
    """[tier: quality_filter x audio] END-TO-END call-audio curation:
    the session's multichannel operators COMPOSED in one plan — stereo
    clips -> per-channel talk/overtalk analytics (with_channel_stats,
    keep_bytes) -> stereo-to-mono downmix in the clip's own codec ->
    the standard audio keep/drop gate over the downmixed bytes.  The
    whole pipeline is map-only (two decode boundaries + codegen'd
    gate; zero Exchange before the final groupBy), poison rows flow
    through every stage to a decode_error verdict, and silent calls
    drop at the gate with their talk metrics intact.  The oracle
    recomputes (class, verdict, talk-time sums) from row arithmetic —
    gating that the operators COMPOSE (schema and poison flow-through),
    not just that each works alone."""
    _prep(spark)
    from .operators.audio import (
        downmix_to_mono,
        with_audio_keep_drop,
        with_channel_stats,
    )
    from .sources.clips import stereo_clips_df

    pipe = with_audio_keep_drop(
        downmix_to_mono(
            with_channel_stats(
                stereo_clips_df(spark, 240, partitions=4), keep_bytes=True
            )
        )
    )
    cls = (F.substring("clip_id", 4, 10).cast("int") % 6).alias("cls")
    return (
        pipe.groupBy(
            cls,
            F.coalesce("audio_drop_reason", F.lit("keep")).alias("verdict"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("talk_ms_ch0").alias("sum_talk0_ms"),
            F.sum("overtalk_ms").alias("sum_overtalk_ms"),
        )
        .orderBy("cls")
    )


Q_CALL_PIPELINE_SQL = """
SELECT cast(i % 6 AS INTEGER) AS cls,
       CASE i % 6 WHEN 4 THEN 'silent' WHEN 5 THEN 'decode_error'
                  ELSE 'keep' END AS verdict,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(CASE i % 6 WHEN 0 THEN 1000 WHEN 2 THEN 500
                           WHEN 3 THEN 1000 ELSE 0 END) AS BIGINT)
           AS sum_talk0_ms,
       cast(sum(CASE WHEN i % 6 = 3 THEN 500 ELSE 0 END) AS BIGINT)
           AS sum_overtalk_ms
FROM (SELECT unnest(range(0, 240)) AS i)
GROUP BY 1, 2
ORDER BY cls
"""



def q_incremental_audio_dedup(spark, sf_dir):
    """[tier: quality_filter x audio] incremental AUDIO dedup against a
    MATERIALIZED index (audio twin of q43): the corpus's tempo-robust
    envelope fingerprints are written as a bucketed (fingerprint, id)
    index (sources/bucketed.py::write_audio_fingerprint_index), and the
    new crawl batch anti-joins it — the corpus side reads its buckets
    in place with zero exchange, only the batch shuffles, PCM never
    moves.  Planted batch classes (sources/clips.py::audidx_batch_rows,
    r % 3): corpus re-uploads at 0.9x tempo in a DIFFERENT codec must
    drop (the fingerprint sees through both), fresh patterns survive,
    within-batch duplicate pairs keep their min-id member.  The oracle
    knows the surviving id set per class closed-form — class 0 must
    vanish entirely, and the survivor id-sums gate WHICH member of
    each batch pair lived."""
    import shutil
    import tempfile

    from .operators.audio import dedup_audio_against_corpus
    from .sources.bucketed import read_table, write_audio_fingerprint_index
    from .sources.clips import audidx_batch_rows, audidx_corpus_rows

    corpus = spark.createDataFrame(audidx_corpus_rows())
    batch = spark.createDataFrame(audidx_batch_rows())
    root = tempfile.mkdtemp(prefix="tss_q110_")
    try:
        write_audio_fingerprint_index(
            corpus, "tss_q110_idx", 8, path=f"{root}/idx"
        )
        idx = read_table(spark, "tss_q110_idx")
        r = F.substring("clip_id", 6, 6).cast("int")
        kept = spark.createDataFrame(
            dedup_audio_against_corpus(batch, idx)
            .select(r.alias("r")).collect(),
            "r int",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.sql("DROP TABLE IF EXISTS tss_q110_idx")
    return (
        kept.groupBy((F.col("r") % 3).alias("cls"))
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum(F.col("r").cast("bigint")).alias("sum_ids"),
        )
        .orderBy("cls")
    )


Q_INCREMENTAL_AUDIO_DEDUP_SQL = """
SELECT cast(i % 3 AS INTEGER) AS cls,
       cast(count(*) AS BIGINT) AS n_survivors,
       cast(sum(i) AS BIGINT) AS sum_ids
FROM (SELECT unnest(range(0, 120)) AS i)
WHERE i % 3 = 1 OR i % 6 = 2
GROUP BY cls
ORDER BY cls
"""



def q_restoration_lift(spark, sf_dir):
    """[tier: quality_filter x audio] RESTORATION LIFT — the business
    case for the repair operators, measured under the gate: the same
    corpus is gated raw (clipping count + SNR threshold) and after the
    restoration chain declip -> denoise, and the query reports how many
    clips each class contributes BEFORE vs AFTER.  Planted classes
    (sources/clips.py::restore_rows_for_range): clean keeps both ways,
    a repairable clipped run and a noisy clip are SAVED by the chain
    (0 -> all kept), a hopeless constant-full-scale clip stays dropped
    via the still-clipped counter (declip refuses to fabricate signal;
    the counter-based rule is immune to what denoise does to an
    unanchored clip).  All measurements deterministic (per-row seeded
    noise, >= 4 dB margins); the oracle recomputes the per-class keep
    counts from row arithmetic."""
    _prep(spark)
    from .operators.audio import (
        declipped_clips,
        denoised_clips,
        with_snr_estimate,
    )
    from .sources.clips import restore_clips_df

    before = with_snr_estimate(restore_clips_df(spark, 240, partitions=4)).select(
        "clip_id", F.col("snr_est_db").alias("snr_before")
    )
    chain = with_snr_estimate(
        denoised_clips(declipped_clips(restore_clips_df(spark, 240, partitions=4)))
    )
    j = chain.join(before, "clip_id")
    kept_before = (
        (F.col("n_clipped") <= 960) & (F.col("snr_before") >= 17)
    ).cast("bigint")
    kept_after = (
        (F.col("n_clipped") - F.col("n_repaired") <= 960)
        & (F.col("snr_est_db") >= 17)
    ).cast("bigint")
    cls = (F.substring("clip_id", 4, 10).cast("int") % 4).alias("cls")
    return (
        j.groupBy(cls)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(kept_before).alias("kept_before"),
            F.sum(kept_after).alias("kept_after"),
        )
        .orderBy("cls")
    )


Q_RESTORATION_LIFT_SQL = """
SELECT cast(i % 4 AS INTEGER) AS cls,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(CASE WHEN i % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS kept_before,
       cast(sum(CASE WHEN i % 4 = 3 THEN 0 ELSE 1 END) AS BIGINT)
           AS kept_after
FROM (SELECT unnest(range(0, 240)) AS i)
GROUP BY cls
ORDER BY cls
"""



def q_streaming_watermark(spark, sf_dir):
    """[training-data x streaming] WATERMARKED windowed keep/drop
    counters under the hard oracle (streaming.py::keep_drop_counters —
    previously pytest-only, the last streaming semantic without one):
    a 4-micro-batch file stream (1-minute windows, 1-minute watermark)
    plants two on-time windows, two watermark-advancing batches, and a
    LATE row that arrives after its window was finalized.  Append mode
    emits each window exactly once when the watermark passes it, and
    the late row must be DROPPED: window [00:00, 00:01) reads keep=2 —
    it would read 3 if late data leaked in — alongside too_short=1 and
    the second window's keep=2.  The still-open last window never
    emits.  Batch boundaries are mtime-ordered files (one per trigger),
    and the late row sits in its own batch AFTER the eviction batch —
    the one-batch watermark lag documented in tests/test_streaming.py.
    The oracle recomputes the three finalized rows closed-form, epoch
    timestamps included."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import time
    import uuid

    _prep(spark)
    from .streaming import keep_drop_counters

    tmp = tempfile.mkdtemp(prefix="q112_stream_")
    qn = f"q112_sink_{uuid.uuid4().hex[:8]}"

    def T(s):
        return dt.datetime.fromisoformat("2024-01-01 " + s)

    try:
        src = os.path.join(tmp, "src")

        def mk(rows):
            spark.createDataFrame(
                rows, "clip_id string, ts timestamp, drop_reason string"
            ).coalesce(1).write.mode("append").parquet(src)
            time.sleep(1.2)  # distinct mtimes pin micro-batch order

        mk([("a", T("00:00:10"), None), ("b", T("00:00:20"), None),
            ("c", T("00:00:30"), "too_short"),
            ("d", T("00:01:10"), None), ("e", T("00:01:20"), None)])
        mk([("f", T("00:05:00"), None)])
        mk([("g", T("00:05:10"), None)])
        mk([("late", T("00:00:40"), None)])
        stream = (
            spark.readStream
            .schema("clip_id string, ts timestamp, drop_reason string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = keep_drop_counters(
            stream, window="1 minute", watermark="1 minute"
        )
        q = (
            out.writeStream.format("memory")
            .queryName(qn)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = (
            spark.table(qn)
            .select(
                F.col("window_start").cast("long").alias("win_start_epoch"),
                F.col("window_end").cast("long").alias("win_end_epoch"),
                "drop_reason",
                F.col("n").cast("long").alias("n"),
            )
            .orderBy("win_start_epoch", "drop_reason")
            .collect()
        )
        return spark.createDataFrame(
            rows,
            "win_start_epoch long, win_end_epoch long, "
            "drop_reason string, n long",
        )
    finally:
        try:
            spark.catalog.dropTempView(qn)
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)


Q_STREAMING_WATERMARK_SQL = """
SELECT * FROM (VALUES
  (CAST(epoch('2024-01-01 00:00:00'::TIMESTAMP) AS BIGINT),
   CAST(epoch('2024-01-01 00:01:00'::TIMESTAMP) AS BIGINT),
   'keep', CAST(2 AS BIGINT)),
  (CAST(epoch('2024-01-01 00:00:00'::TIMESTAMP) AS BIGINT),
   CAST(epoch('2024-01-01 00:01:00'::TIMESTAMP) AS BIGINT),
   'too_short', CAST(1 AS BIGINT)),
  (CAST(epoch('2024-01-01 00:01:00'::TIMESTAMP) AS BIGINT),
   CAST(epoch('2024-01-01 00:02:00'::TIMESTAMP) AS BIGINT),
   'keep', CAST(2 AS BIGINT))
) AS t(win_start_epoch, win_end_epoch, drop_reason, n)
ORDER BY win_start_epoch, drop_reason
"""



def q_pii_density_gate(spark, sf_dir):
    """[reference-core extension] PII-DENSITY gate
    (operators/scrub.py::with_pii_density + pii_density_reason_col):
    documents that are mostly PII — contact dumps, leaked CSVs — are a
    privacy hazard even scrubbed (substitution preserves the
    structure), so curation drops them instead of shipping a document
    that is 40% placeholders.  Density = DISTINCT detected values (the
    reference's mapping-dedupe semantics, ref:lib/top_secret/text.rb)
    over the word count, measured by the same single scan pass the
    detect path pays.  Planted classes on the documents spine (r % 4):
    0 no PII, 1 one email in 20 words (0.05 — keeps), 2 five emails in
    20 words (0.25 — drops), 3 eight in 20 (0.40 — drops); every count
    and ppm-quantized density is recomputed closed-form by the oracle."""
    _prep(spark)
    from .operators.scrub import pii_density_reason_col, with_pii_density

    plain = [F.lit(f"w{j}") for j in range(20)]
    email = lambda k: F.format_string(
        "u%d.d%d@example%d.com", k, F.col("doc_id"), k
    )
    def text(n_pii):
        parts = plain[: 20 - n_pii] + [email(F.lit(k)) for k in range(n_pii)]
        return F.concat_ws(" ", *parts)

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, text(0))
        .when(F.col("doc_id") % 4 == 1, text(1))
        .when(F.col("doc_id") % 4 == 2, text(5))
        .otherwise(text(8))
        .alias("transcript"),
    )
    out = with_pii_density(docs).withColumn(
        "reason", pii_density_reason_col(max_density=0.2)
    )
    return (
        out.groupBy(
            (F.col("doc_id") % 4).cast("int").alias("cls"),
            F.coalesce("reason", F.lit("keep")).alias("verdict"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_pii").cast("bigint")).alias("sum_pii"),
            F.sum(F.round(F.col("pii_density") * 1_000_000).cast("bigint"))
            .alias("sum_density_ppm"),
        )
        .orderBy("cls")
    )


Q_PII_DENSITY_SQL = """
SELECT cast(doc_id % 4 AS INTEGER) AS cls,
       CASE WHEN doc_id % 4 IN (2, 3) THEN 'pii_dense' ELSE 'keep' END
           AS verdict,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(CASE doc_id % 4 WHEN 1 THEN 1 WHEN 2 THEN 5
                                WHEN 3 THEN 8 ELSE 0 END) AS BIGINT)
           AS sum_pii,
       cast(sum(CASE doc_id % 4 WHEN 1 THEN 50000 WHEN 2 THEN 250000
                                WHEN 3 THEN 400000 ELSE 0 END) AS BIGINT)
           AS sum_density_ppm
FROM documents
GROUP BY 1, 2
ORDER BY cls
"""



def q_speaker_turns(spark, sf_dir):
    """[tier: quality_filter x audio] speaker-turn counting over stereo
    calls (operators/audio.py::with_speaker_turns, kernel
    batch_speaker_turns): a turn is a handoff of the single-voiced
    channel between consecutive single-voiced VAD blocks — silence and
    overlap neither add nor break one — giving the dialogue-vs-
    monologue density conversational-data curation ranks by.  Planted
    turn structures (sources/clips.py::turns_rows_for_range, r % 4,
    codec cycling): monologue 0, one handoff 1, strict 100 ms
    alternation 9, pause-and-overlap-interrupted alternation exactly 2.
    Spans align on VAD blocks so every count is exact; the oracle
    recomputes per-class totals from the row index."""
    _prep(spark)
    from .operators.audio import with_speaker_turns
    from .sources.clips import turns_clips_df

    out = with_speaker_turns(turns_clips_df(spark, 240, partitions=4))
    cls = (F.substring("clip_id", 4, 10).cast("int") % 4).alias("cls")
    return (
        out.groupBy(cls)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("turn_ok").cast("bigint")).alias("n_ok"),
            F.sum("n_turns").alias("sum_turns"),
        )
        .orderBy("cls")
    )


Q_SPEAKER_TURNS_SQL = """
SELECT cast(i % 4 AS INTEGER) AS cls,
       cast(count(*) AS BIGINT) AS n,
       cast(count(*) AS BIGINT) AS n_ok,
       cast(sum(CASE i % 4 WHEN 1 THEN 1 WHEN 2 THEN 9 WHEN 3 THEN 2
                           ELSE 0 END) AS BIGINT) AS sum_turns
FROM (SELECT unnest(range(0, 240)) AS i)
GROUP BY cls
ORDER BY cls
"""



def q_transcript_edit_dedup(spark, sf_dir):
    """[tier: quality_filter x audio] transcript edit-distance verify
    (operators/dedup.py::verify_pairs_levenshtein): two transcriptions
    of the same recording differ by a handful of character edits — a
    dropped filler, one misheard token — which shingle-Jaccard (q25)
    under-resolves on short strings, so the transcript-dedup family
    verifies LSH candidates with an exact edit budget instead.  Fully
    JVM-side: Catalyst ``levenshtein(a, b, threshold)`` early-exits the
    DP past the budget (O(len x k), not O(len^2)) behind a
    length-difference lower-bound prefilter; no Python anywhere.

    Planted pair classes on the documents spine (r % 4), each doc
    contributing a (base, variant) candidate pair: 0 identical
    (0 edits), 1 one substitution (1), 2 three substitutions (3 — at
    the budget boundary, survives), 3 an appended unrelated tail
    (blows the budget AND the length prefilter — must vanish).  The
    oracle recomputes the same strings in SQL and re-derives every
    edit count with DuckDB's own levenshtein — both engines must agree
    on the exact DP value, not just the verdict."""
    _prep(spark)
    from .operators.dedup import verify_pairs_levenshtein

    base = F.concat(
        F.lit("call transcript "),
        F.col("doc_id").cast("string"),
        F.lit(" the quick brown fox jumps over the lazy dog"),
    )
    variant = (
        F.when(F.col("doc_id") % 4 == 0, base)
        .when(
            F.col("doc_id") % 4 == 1,
            F.regexp_replace(base, "jumps", "bumps"),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.regexp_replace(base, "dog", "cat"),
        )
        .otherwise(F.concat(base, F.lit(" entirely different tail")))
    )
    ids = _docs(spark, sf_dir).select("doc_id")
    texts = ids.select(
        (F.col("doc_id") * 2).alias("tid"), base.alias("transcript")
    ).unionByName(
        ids.select(
            (F.col("doc_id") * 2 + 1).alias("tid"),
            variant.alias("transcript"),
        )
    )
    cand = ids.select(
        (F.col("doc_id") * 2).alias("a"), (F.col("doc_id") * 2 + 1).alias("b")
    )
    verified = verify_pairs_levenshtein(
        cand, texts, id_col="tid", text_col="transcript", max_edits=3
    )
    return (
        cand.join(verified, ["a", "b"], "left")
        .groupBy(((F.col("a") / F.lit(2)).cast("bigint") % 4).cast("int").alias("cls"))
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count("edits").alias("n_verified"),
            F.coalesce(
                F.sum(F.col("edits").cast("bigint")), F.lit(0).cast("bigint")
            ).alias("sum_edits"),
        )
        .orderBy("cls")
    )


Q_TRANSCRIPT_EDIT_SQL = """
WITH pairs AS (
  SELECT doc_id,
         'call transcript ' || doc_id ||
             ' the quick brown fox jumps over the lazy dog' AS base,
         CASE cast(doc_id % 4 AS INTEGER)
           WHEN 0 THEN 'call transcript ' || doc_id ||
               ' the quick brown fox jumps over the lazy dog'
           WHEN 1 THEN 'call transcript ' || doc_id ||
               ' the quick brown fox bumps over the lazy dog'
           WHEN 2 THEN 'call transcript ' || doc_id ||
               ' the quick brown fox jumps over the lazy cat'
           ELSE 'call transcript ' || doc_id ||
               ' the quick brown fox jumps over the lazy dog' ||
               ' entirely different tail'
         END AS variant
  FROM documents
),
scored AS (
  SELECT doc_id,
         CASE WHEN abs(length(base) - length(variant)) <= 3
                   AND levenshtein(base, variant) <= 3
              THEN levenshtein(base, variant) END AS edits
  FROM pairs
)
SELECT cast(doc_id % 4 AS INTEGER) AS cls,
       cast(count(*) AS BIGINT) AS n_candidates,
       cast(count(edits) AS BIGINT) AS n_verified,
       cast(coalesce(sum(edits), 0) AS BIGINT) AS sum_edits
FROM scored
GROUP BY cls
ORDER BY cls
"""



def q_oov_gate(spark, sf_dir):
    """[tier: quality_filter x audio] out-of-vocabulary-rate gate
    (operators/text_analysis.py::with_oov_rate + oov_reason_col): an
    ASR transcript whose words are mostly out-of-lexicon is decoder
    garbage — wrong language, hallucinated segments, byte noise — and
    it slips past perplexity when the n-gram table was fit on the same
    garbage, so curation cross-checks transcripts against an
    independent lexicon.  The lexicon here ships as ONE literal array
    constant and the per-token membership test is a Catalyst
    higher-order filter — codegen'd, zero shuffles, zero Python (the
    broadcast-join path for large lexicons is pytest-gated).

    Planted classes on the documents spine (r % 4), 10-word
    transcripts over a 10-word NATO lexicon: 0 fully in-vocab (rate
    0.0 — keeps), 1 two OOV tokens (0.2 — keeps), 2 five (0.5 —
    drops), 3 eight (0.8 — drops); gate at max_oov = 0.3.  Counts and
    ppm-quantized rates recomputed closed-form by the oracle."""
    _prep(spark)
    from .operators.text_analysis import oov_reason_col, with_oov_rate

    lexicon = [
        "alpha", "bravo", "charlie", "delta", "echo",
        "foxtrot", "golf", "hotel", "india", "juliet",
    ]
    def text(n_oov):
        words = lexicon[: 10 - n_oov] + [f"qq{k}" for k in range(n_oov)]
        return F.lit(" ".join(words))

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, text(0))
        .when(F.col("doc_id") % 4 == 1, text(2))
        .when(F.col("doc_id") % 4 == 2, text(5))
        .otherwise(text(8))
        .alias("transcript"),
    )
    out = with_oov_rate(
        docs, text_col="transcript", lexicon=lexicon, id_col="doc_id"
    ).withColumn("reason", oov_reason_col(max_oov=0.3))
    return (
        out.groupBy(
            (F.col("doc_id") % 4).cast("int").alias("cls"),
            F.coalesce("reason", F.lit("keep")).alias("verdict"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("oov_rate") * 1_000_000 + F.lit(0.5)))
            .cast("bigint")
            .alias("sum_rate_ppm"),
        )
        .orderBy("cls")
    )


Q_OOV_GATE_SQL = """
SELECT cast(doc_id % 4 AS INTEGER) AS cls,
       CASE WHEN doc_id % 4 IN (2, 3) THEN 'oov' ELSE 'keep' END AS verdict,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(CASE doc_id % 4 WHEN 1 THEN 200000 WHEN 2 THEN 500000
                                WHEN 3 THEN 800000 ELSE 0 END) AS BIGINT)
           AS sum_rate_ppm
FROM documents
GROUP BY 1, 2
ORDER BY cls
"""



def q_pitch_stats(spark, sf_dir):
    """[tier: quality_filter x audio] dominant-f0 pitch estimation
    (operators/audio.py::with_pitch, kernel/spectral.py::batch_pitch):
    normalized FFT-autocorrelation pooled per clip — the f0
    distribution speaker-diversity balancing ranks by, and the
    voiced/unvoiced triage between speech and noise.  Unbiased lag
    normalization makes period multiples tie at ~1.0, and the
    smallest-local-max rule resolves the subharmonic ambiguity — the
    harmonic-rich class exists to prove the estimator reads the
    FUNDAMENTAL, not the strongest partial.

    Planted classes (sources/clips.py::pitch_rows_for_range, r % 4):
    pure 100 Hz sine, pure 220 Hz sine, a 120 Hz harmonic stack
    (f0 + 2f + 3f), and white noise.  Tonal classes must read their
    planted f0 within 2% (lag-grid quantization) fully voiced
    (voiced_ratio >= 0.9); noise must read unvoiced (f0 = 0,
    voiced_ratio < 0.2).  Per-class counts the oracle recomputes
    from r % 4."""
    _prep(spark)
    from .operators.audio import with_pitch
    from .sources.clips import PITCH_F0, pitch_clips_df

    clips = pitch_clips_df(spark, 120, partitions=8)
    feats = with_pitch(clips)
    exp_f0 = F.when(
        F.col("transcript") == "tone100", F.lit(PITCH_F0["tone100"])
    ).when(
        F.col("transcript") == "tone220", F.lit(PITCH_F0["tone220"])
    ).when(
        F.col("transcript") == "harmonic120", F.lit(PITCH_F0["harmonic120"])
    )
    passed = (
        F.when(
            F.col("transcript") == "noise",
            F.col("pitch_ok")
            & (F.col("f0_hz") == 0.0)
            & (F.col("voiced_ratio") < 0.2),
        )
        .otherwise(
            F.col("pitch_ok")
            & (F.abs(F.col("f0_hz") - exp_f0) <= 0.02 * exp_f0)
            & (F.col("voiced_ratio") >= 0.9)
        )
    )
    return (
        feats.groupBy(F.col("transcript").alias("pitch_class"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(passed, 1)).alias("n_expected"),
        )
        .orderBy("pitch_class")
    )


Q_PITCH_STATS_SQL = """
SELECT CASE r % 4 WHEN 0 THEN 'tone100' WHEN 1 THEN 'tone220'
                  WHEN 2 THEN 'harmonic120' ELSE 'noise' END AS pitch_class,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_expected
FROM (SELECT unnest(range(0, 120)) AS r)
GROUP BY 1
ORDER BY 1
"""



def q_reverb_gate(spark, sf_dir):
    """[tier: quality_filter x audio] reverberation gate
    (operators/audio.py::with_reverb + reverb_drop_reason_col, kernel/
    spectral.py::batch_reverb): a free-decay RT60 proxy from the
    energy envelope — qualifying monotonic decay runs contribute
    per-pair dB rates, the clip's rate is their lower median, and
    rt60 = 60/rate.  A boomy room smears phone boundaries; curation
    drops heavily-reverberant clips before ASR training.  Unmeasurable
    clips (steady noise — no free decay anywhere) KEEP: unmeasurable
    is not dry, and noise is owned by the spectral/SNR gates.

    Planted classes (sources/clips.py::reverb_rows_for_range, r % 4):
    exponential burst tails at tau = 20 ms (rt60 ~ 0.14 s), 100 ms
    (~ 0.69 s), 200 ms (~ 1.38 s), and steady noise.  Expectations at
    max_rt60 = 1.0: dry + moderate measure within 25% of 6.908 tau
    and keep, reverberant measures and DROPS, steady reads
    n_decay_pairs < 6 with reason NULL.  Per-class counts the oracle
    recomputes from r % 4."""
    _prep(spark)
    from .operators.audio import reverb_drop_reason_col, with_reverb
    from .sources.clips import REVERB_TAU, reverb_clips_df

    clips = reverb_clips_df(spark, 120, partitions=8)
    feats = with_reverb(clips).withColumn(
        "reason", reverb_drop_reason_col(max_rt60_s=1.0)
    )
    exp_rt = F.when(
        F.col("transcript") == "dry", F.lit(6.908 * REVERB_TAU["dry"])
    ).when(
        F.col("transcript") == "moderate",
        F.lit(6.908 * REVERB_TAU["moderate"]),
    ).when(
        F.col("transcript") == "reverberant",
        F.lit(6.908 * REVERB_TAU["reverberant"]),
    )
    passed = (
        F.when(
            F.col("transcript") == "steady",
            F.col("reverb_ok")
            & (F.col("n_decay_pairs") < 6)
            & F.col("reason").isNull(),
        )
        .when(
            F.col("transcript") == "reverberant",
            F.col("reverb_ok")
            & (F.abs(F.col("rt60_s") - exp_rt) <= 0.25 * exp_rt)
            & (F.col("reason") == "reverb"),
        )
        .otherwise(
            F.col("reverb_ok")
            & (F.abs(F.col("rt60_s") - exp_rt) <= 0.25 * exp_rt)
            & F.col("reason").isNull()
        )
    )
    return (
        feats.groupBy(F.col("transcript").alias("reverb_class"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(passed, 1)).alias("n_expected"),
        )
        .orderBy("reverb_class")
    )


Q_REVERB_GATE_SQL = """
SELECT CASE r % 4 WHEN 0 THEN 'dry' WHEN 1 THEN 'moderate'
                  WHEN 2 THEN 'reverberant' ELSE 'steady' END
           AS reverb_class,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_expected
FROM (SELECT unnest(range(0, 120)) AS r)
GROUP BY 1
ORDER BY 1
"""



def q_voice_health(spark, sf_dir):
    """[tier: quality_filter x audio] fused speech-health stage
    (operators/audio.py::with_voice_health): pitch + reverberation +
    SNR estimate behind ONE decode boundary — composing the three
    individual operators decodes every payload three times, and at
    10^12 clips decode IS the dominant audio cost, so the fused stage
    is the shape a production gate runs.  Column semantics identical
    to the individual operators (same kernels, same defaults;
    equality pytest-gated) — this query proves the fused stage passes
    BOTH fixture families' class rules in one plan.

    Input: union of the pitch fixture (q117 classes) and the reverb
    fixture (q118 classes), 120 clips each; per-class expectation =
    that family's rule.  Per-class counts the oracle recomputes from
    r % 4 per family."""
    _prep(spark)
    from .operators.audio import reverb_drop_reason_col, with_voice_health
    from .sources.clips import (
        PITCH_F0,
        REVERB_TAU,
        pitch_clips_df,
        reverb_clips_df,
    )

    clips = pitch_clips_df(spark, 120, partitions=8).unionByName(
        reverb_clips_df(spark, 120, partitions=8)
    )
    feats = with_voice_health(clips).withColumn(
        "reason", reverb_drop_reason_col(max_rt60_s=1.0)
    )
    exp_f0 = F.when(
        F.col("transcript") == "tone100", F.lit(PITCH_F0["tone100"])
    ).when(
        F.col("transcript") == "tone220", F.lit(PITCH_F0["tone220"])
    ).when(
        F.col("transcript") == "harmonic120", F.lit(PITCH_F0["harmonic120"])
    )
    exp_rt = F.when(
        F.col("transcript") == "dry", F.lit(6.908 * REVERB_TAU["dry"])
    ).when(
        F.col("transcript") == "moderate",
        F.lit(6.908 * REVERB_TAU["moderate"]),
    ).when(
        F.col("transcript") == "reverberant",
        F.lit(6.908 * REVERB_TAU["reverberant"]),
    )
    passed = (
        F.when(
            F.col("transcript") == "noise",
            F.col("pitch_ok") & (F.col("f0_hz") == 0.0)
            & (F.col("voiced_ratio") < 0.2),
        )
        .when(
            F.col("transcript").isin("tone100", "tone220", "harmonic120"),
            F.col("pitch_ok")
            & (F.abs(F.col("f0_hz") - exp_f0) <= 0.02 * exp_f0)
            & (F.col("voiced_ratio") >= 0.9),
        )
        .when(
            F.col("transcript") == "steady",
            F.col("reverb_ok") & (F.col("n_decay_pairs") < 6)
            & F.col("reason").isNull(),
        )
        .when(
            F.col("transcript") == "reverberant",
            F.col("reverb_ok")
            & (F.abs(F.col("rt60_s") - exp_rt) <= 0.25 * exp_rt)
            & (F.col("reason") == "reverb"),
        )
        .otherwise(
            F.col("reverb_ok")
            & (F.abs(F.col("rt60_s") - exp_rt) <= 0.25 * exp_rt)
            & F.col("reason").isNull()
        )
    )
    return (
        feats.groupBy(F.col("transcript").alias("health_class"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(passed, 1)).alias("n_expected"),
        )
        .orderBy("health_class")
    )


Q_VOICE_HEALTH_SQL = """
SELECT health_class,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_expected
FROM (
  SELECT CASE r % 4 WHEN 0 THEN 'tone100' WHEN 1 THEN 'tone220'
                    WHEN 2 THEN 'harmonic120' ELSE 'noise' END
             AS health_class
  FROM (SELECT unnest(range(0, 120)) AS r)
  UNION ALL
  SELECT CASE r % 4 WHEN 0 THEN 'dry' WHEN 1 THEN 'moderate'
                    WHEN 2 THEN 'reverberant' ELSE 'steady' END
  FROM (SELECT unnest(range(0, 120)) AS r)
)
GROUP BY 1
ORDER BY 1
"""



COMPRESSION_PARA = (
    "the quick brown fox jumps over the lazy dog while the lazy dog "
    "watches the quick brown fox and wonders why the fox keeps jumping "
    "over dogs instead of chasing rabbits through the quiet meadow "
)


def q_compression_gate(spark, sf_dir):
    """[tier: quality_filter x audio] compressibility gate
    (operators/text_analysis.py::with_compression_ratio +
    compression_reason_col): zlib ratio separates three regimes one
    number at a time — template/spam compresses far below natural
    language ('repetitive'), byte noise rendered as text barely
    compresses ('incompressible'), and natural language sits between.
    The classic corpus-curation signal word-level rules each miss a
    corner of.

    Planted classes on the documents spine (r % 4): 0 a natural-ish
    600-char paragraph (ratio ~0.22 — keeps), 1 'ab ' x 200 (~0.03 —
    repetitive), 2 doc-seeded base64 noise (~0.82 — incompressible;
    per-doc content proves per-row compute), 3 empty (NULL ratio —
    keeps, the length gate owns empties).  Gate at (0.1, 0.6);
    per-class verdict counts recomputed closed-form by the oracle."""
    _prep(spark)
    from .operators.text_analysis import (
        compression_reason_col,
        with_compression_ratio,
    )

    noise = F.substring(
        F.concat(*[
            F.base64(F.unhex(F.sha2(
                F.concat(F.col("doc_id").cast("string"), F.lit(f"-{k}")),
                256,
            )))
            for k in range(14)
        ]),
        1, 600,
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0,
               F.substring(F.lit(COMPRESSION_PARA * 4), 1, 600))
        .when(F.col("doc_id") % 4 == 1, F.repeat(F.lit("ab "), 200))
        .when(F.col("doc_id") % 4 == 2, noise)
        .otherwise(F.lit(""))
        .alias("transcript"),
    )
    out = with_compression_ratio(docs).withColumn(
        "reason", compression_reason_col(min_ratio=0.1, max_ratio=0.6)
    )
    return (
        out.groupBy(
            (F.col("doc_id") % 4).cast("int").alias("cls"),
            F.coalesce("reason", F.lit("keep")).alias("verdict"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cls")
    )


Q_COMPRESSION_GATE_SQL = """
SELECT cast(doc_id % 4 AS INTEGER) AS cls,
       CASE cast(doc_id % 4 AS INTEGER)
         WHEN 1 THEN 'repetitive'
         WHEN 2 THEN 'incompressible'
         ELSE 'keep' END AS verdict,
       cast(count(*) AS BIGINT) AS n
FROM documents
GROUP BY 1, 2
ORDER BY cls
"""



def q_codec_verify(spark, sf_dir):
    """[tier: quality_filter x audio] codec-label verification
    (operators/audio.py::with_codec_verify, kernel/audio.py::
    batch_codec_family): the payload decoded under each codec-FAMILY
    hypothesis on a bounded prefix; the family whose lag-1
    autocorrelation wins by margin is detected, and a verified
    contradiction of the declared codec flags ``codec_mismatch``.  A
    crawler that labels mu-law telephony as pcm16 poisons every
    downstream decode with full-scale noise that still passes
    rate/duration audits — this check catches it BEFORE the decode
    boundary trusts the label.  Unverifiable rows are never asserted.

    Planted classes (sources/clips.py::codec_lie_rows_for_range,
    r % 4): honest pcm16, honest mu-law, mu-law bytes declared pcm16,
    pcm16 bytes declared mu-law.  Expectation: honest classes verify
    with NO mismatch, lie classes verify WITH mismatch, and the
    detected family always matches the bytes' true family.  Per-class
    counts the oracle recomputes from r % 4."""
    _prep(spark)
    from .operators.audio import codec_mismatch_reason_col, with_codec_verify
    from .sources.clips import codec_lie_clips_df

    clips = codec_lie_clips_df(spark, 120, partitions=8)
    out = with_codec_verify(clips).withColumn(
        "reason", codec_mismatch_reason_col()
    )
    true_family = F.when(
        F.col("transcript").isin("honest_pcm16", "lie_ulaw_is_pcm16"),
        F.lit("pcm16"),
    ).otherwise(F.lit("companded"))
    passed = (
        F.col("codec_verified")
        & (F.col("codec_family_detected") == true_family)
        & F.when(
            F.col("transcript").startswith("lie"),
            F.col("codec_mismatch") & (F.col("reason") == "codec_mismatch"),
        ).otherwise(~F.col("codec_mismatch") & F.col("reason").isNull())
    )
    return (
        out.groupBy(F.col("transcript").alias("codec_class"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(passed, 1)).alias("n_expected"),
        )
        .orderBy("codec_class")
    )


Q_CODEC_VERIFY_SQL = """
SELECT CASE r % 4 WHEN 0 THEN 'honest_pcm16' WHEN 1 THEN 'honest_ulaw'
                  WHEN 2 THEN 'lie_pcm16_is_ulaw'
                  ELSE 'lie_ulaw_is_pcm16' END AS codec_class,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_expected
FROM (SELECT unnest(range(0, 120)) AS r)
GROUP BY 1
ORDER BY 1
"""



def q_leakage_safe_split(spark, sf_dir):
    """[tier: quality_filter x audio] leakage-safe eval split
    (operators/sampling.py::split_by_cluster): near-dup cluster
    members land on the SAME side of the train/holdout split — a
    paraphrase of a holdout document inside the training set inflates
    eval exactly where dedup was supposed to protect it, so the split
    hashes the cluster survivor id (connected components, min-id
    rule), not the row id; singletons hash their own id.

    Planted structure on the documents spine: docs with r % 4 in
    {0, 1} form two-member near-dup families {4k, 4k+1} (the pairs
    frame is built by construction — candidate generation is q11/q36's
    job); r % 4 in {2, 3} are singletons.  holdout_fraction = 0.3.
    The oracle re-derives every decision closed-form: family key =
    doc_id - (doc_id % 4 = 1), singleton key = doc_id, then the exact
    sample_u_col hash — per-split counts and id sums must match, which
    they only can if NO family straddles the split (the straddle-free
    property is additionally pytest-gated)."""
    _prep(spark)
    from .operators.sampling import split_by_cluster

    docs = _docs(spark, sf_dir).select("doc_id")
    fam = docs.filter(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b")
    )
    # keep only pairs whose b member exists in the table (tail safety)
    fam = fam.join(docs.select(F.col("doc_id").alias("b")), "b")
    out = split_by_cluster(docs, fam, holdout_fraction=0.3)
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("doc_id").cast("bigint")).alias("sum_ids"),
            F.sum(F.col("split_key").cast("bigint")).alias("sum_keys"),
        )
        .orderBy("split")
    )


Q_LEAKAGE_SPLIT_SQL = """
WITH ids AS (SELECT doc_id FROM documents),
-- a family key only applies when BOTH members exist: a 4k row whose
-- 4k+1 partner is missing keys as its own id either way, and a 4k+1
-- row without its 4k partner must stay a singleton (the LEFT JOIN
-- mirrors the Spark side's existence filter on the pairs frame)
keyed AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 4 = 1 AND p.doc_id IS NOT NULL
              THEN d.doc_id - 1 ELSE d.doc_id END AS k
  FROM ids d LEFT JOIN ids p
    ON p.doc_id = d.doc_id - 1 AND d.doc_id % 4 = 1
),
dec AS (
  SELECT doc_id, k,
         (((xor(k >> 31, k) & 2147483647) * 2654435761)
          % 4294967296) / 4294967296.0 AS u
  FROM keyed
)
SELECT CASE WHEN u < 0.3 THEN 'holdout' ELSE 'train' END AS split,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(doc_id) AS BIGINT) AS sum_ids,
       cast(sum(k) AS BIGINT) AS sum_keys
FROM dec
GROUP BY 1
ORDER BY split
"""



def q_speech_curation_pipeline(spark, sf_dir):
    """[tier: quality_filter x audio] end-to-end speech-curation
    composition of the session-5 operators: codec-label verification
    FIRST (so no downstream decode trusts a lying label), then the
    fused voice-health stage (pitch + RT60 + SNR in one decode), then
    the verdict — codec_mismatch outranks reverb, everything else
    keeps (noise/silence are owned by the SNR/spectral gates in the
    full pipeline, q40/q59).  The whole chain is ONE Spark plan with
    exactly TWO Python boundaries (verify + fused health — the
    composition this session's fusion work exists to enable),
    map-only until the final count.

    Input: union of the codec-lie (q121), pitch (q117), and reverb
    (q118) fixture families, 120 clips each; per-class verdicts are
    fully determined, so the oracle recomputes every row closed-form."""
    _prep(spark)
    from .operators.audio import (
        codec_mismatch_reason_col,
        reverb_drop_reason_col,
        with_codec_verify,
        with_voice_health,
    )
    from .sources.clips import (
        codec_lie_clips_df,
        pitch_clips_df,
        reverb_clips_df,
    )

    clips = (
        codec_lie_clips_df(spark, 120, partitions=8)
        .unionByName(pitch_clips_df(spark, 120, partitions=8))
        .unionByName(reverb_clips_df(spark, 120, partitions=8))
    )
    verified = with_codec_verify(clips)
    health = with_voice_health(verified)
    out = health.withColumn(
        "reason",
        F.coalesce(
            codec_mismatch_reason_col(),
            reverb_drop_reason_col(max_rt60_s=1.0),
        ),
    )
    return (
        out.groupBy(
            F.col("transcript").alias("cls"),
            F.coalesce("reason", F.lit("keep")).alias("verdict"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cls", "verdict")
    )


Q_SPEECH_CURATION_SQL = """
WITH classes AS (
  SELECT CASE r % 4 WHEN 0 THEN 'honest_pcm16' WHEN 1 THEN 'honest_ulaw'
                    WHEN 2 THEN 'lie_pcm16_is_ulaw'
                    ELSE 'lie_ulaw_is_pcm16' END AS cls,
         CASE WHEN r % 4 IN (2, 3) THEN 'codec_mismatch' ELSE 'keep' END
             AS verdict
  FROM (SELECT unnest(range(0, 120)) AS r)
  UNION ALL
  SELECT CASE r % 4 WHEN 0 THEN 'tone100' WHEN 1 THEN 'tone220'
                    WHEN 2 THEN 'harmonic120' ELSE 'noise' END,
         'keep'
  FROM (SELECT unnest(range(0, 120)) AS r)
  UNION ALL
  SELECT CASE r % 4 WHEN 0 THEN 'dry' WHEN 1 THEN 'moderate'
                    WHEN 2 THEN 'reverberant' ELSE 'steady' END,
         CASE WHEN r % 4 = 2 THEN 'reverb' ELSE 'keep' END
  FROM (SELECT unnest(range(0, 120)) AS r)
)
SELECT cls, verdict, CAST(count(*) AS BIGINT) AS n
FROM classes
GROUP BY 1, 2
ORDER BY cls, verdict
"""



def q_corpus_fit_perplexity(spark, sf_dir):
    """[tier: quality_filter x audio] corpus-fit perplexity
    (operators/lm.py): the DSIR-style move the built-in scorer (q15)
    cannot make — fit the hashed char-n-gram LM ON a trusted in-domain
    corpus and score candidates against it, so low perplexity means
    "looks like OUR data", not "looks like English".  Fit shape: one
    count_ngrams pass per Arrow batch emitting non-zero (n, bucket,
    cnt) partials, ONE groupBy sum (map-side partials; in-document
    n-grams only, so partials over any partitioning sum exactly —
    pytest-gated), dimension-bounded collect (<= 3 x buckets rows at
    ANY corpus size), tables broadcast to the scoring stage.

    Planted setup: the corpus is the documents spine carrying one
    in-domain sentence per row (the fit is genuinely distributed);
    eval classes (r % 4): 0 in-domain prefix (low ppl — keeps),
    1 symbol soup (high — drops), 2 in-domain suffix (low — keeps),
    3 empty (no scorable position -> MAX_PPL — drops; the length gate
    would own it upstream).  Gate at max_ppl = 50; per-class verdict
    counts recomputed closed-form by the oracle."""
    _prep(spark)
    from .operators.lm import (
        collect_ngram_tables,
        fit_ngram_counts,
        with_perplexity_from,
    )

    corpus = _docs(spark, sf_dir).select(
        F.lit("the quick brown fox jumps over the lazy dog").alias("text")
    )
    model = collect_ngram_tables(fit_ngram_counts(corpus))
    ev = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.lit("the quick brown fox"))
        .when(F.col("doc_id") % 4 == 1, F.lit("zzz qqq www xxx vvv"))
        .when(F.col("doc_id") % 4 == 2, F.lit("jumps over the lazy dog"))
        .otherwise(F.lit(""))
        .alias("text"),
    )
    out = with_perplexity_from(ev, model).withColumn(
        "verdict",
        F.when(F.col("ppl_fit") > 50.0, F.lit("ppl")).otherwise(
            F.lit("keep")
        ),
    )
    return (
        out.groupBy(
            (F.col("doc_id") % 4).cast("int").alias("cls"), "verdict"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cls")
    )


Q_CORPUS_FIT_PPL_SQL = """
SELECT cast(doc_id % 4 AS INTEGER) AS cls,
       CASE WHEN doc_id % 4 IN (1, 3) THEN 'ppl' ELSE 'keep' END AS verdict,
       cast(count(*) AS BIGINT) AS n
FROM documents
GROUP BY 1, 2
ORDER BY cls
"""



def q_chunk_text(spark, sf_dir):
    """[tier: quality_filter x audio] sliding-window text chunking
    (operators/text_analysis.py::chunk_text) — the text twin of audio
    chunking (q47): long transcripts split into training-window chunks
    with overlap carried across the boundary so a span straddling a
    cut still appears whole in one chunk.  Pure Catalyst
    (explode(sequence) + substring), zero Python, map-only.

    Planted lengths on the documents spine (r % 4), max_chars=40,
    overlap=10 (stride 30): 0 short 25 chars (1 chunk), 1 exactly 40
    (1 chunk), 2 100 chars (3 chunks of 40/40/40 — the overlap makes
    the sum 120 > 100), 3 empty (one empty chunk — row count per doc
    is preserved).  Per-class chunk counts and summed chunk lengths
    recomputed closed-form by the oracle."""
    _prep(spark)
    from .operators.text_analysis import chunk_text

    base = F.substring(F.repeat(F.lit("abcdefghij"), 10), 1, 100)
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.substring(base, 1, 25))
        .when(F.col("doc_id") % 4 == 1, F.substring(base, 1, 40))
        .when(F.col("doc_id") % 4 == 2, base)
        .otherwise(F.lit(""))
        .alias("text"),
    )
    chunks = chunk_text(docs, max_chars=40, overlap_chars=10)
    return (
        chunks.groupBy((F.col("doc_id") % 4).cast("int").alias("cls"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.length("chunk_text").cast("bigint")).alias("sum_len"),
        )
        .orderBy("cls")
    )


Q_CHUNK_TEXT_SQL = """
SELECT cast(doc_id % 4 AS INTEGER) AS cls,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(sum(CASE doc_id % 4 WHEN 2 THEN 3 ELSE 1 END) AS BIGINT)
           AS n_chunks,
       cast(sum(CASE doc_id % 4 WHEN 0 THEN 25 WHEN 1 THEN 40
                                WHEN 2 THEN 120 ELSE 0 END) AS BIGINT)
           AS sum_len
FROM documents
GROUP BY 1
ORDER BY cls
"""


def q_hard_negatives(spark, sf_dir):
    """[tier: quality_filter x audio] hard-negative mining
    (operators/similarity.py::hard_negatives): per anchor, the top-k
    most-similar corpus vectors whose cosine lies in a [lo, hi) band —
    similar enough to be informative for contrastive training, below
    the near-dup threshold so the negative is not secretly a positive
    (hi < 1 also excludes the anchor itself).  Exact: the q13
    two-phase top-k with the band applied BEFORE the per-partition
    running top-k, so truncation can never cut a row the banded global
    ranking keeps; the one exchange carries scalar triples only.

    Real-data oracle (the q13 scheme): DuckDB recomputes every banded
    ranking with its own list_cosine_similarity over the same
    embeddings parquet — no planted classes, full value equality on
    (query_id, vec_id, rank)."""
    _prep(spark)
    from .operators.similarity import hard_negatives

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 5).collect()
    ]
    return hard_negatives(emb, queries, k=3, lo=0.1, hi=0.9).select(
        "query_id", "vec_id", "rank"
    )


Q_HARD_NEGATIVES_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding, q.qe) AS s
  FROM embeddings e, q
)
SELECT query_id, vec_id, rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, vec_id) AS rank
  FROM scored
  WHERE s >= 0.1 AND s < 0.9
) WHERE rank <= 3
"""



def q_soft_dedup_weights(spark, sf_dir):
    """[tier: quality_filter x audio] soft dedup
    (operators/sampling.py::with_dedup_weights): near-dup cluster
    members are WEIGHTED 1/cluster_size instead of dropped — each
    distinct content contributes exactly one effective sample while
    the variation across members (re-encodes, paraphrases, multiple
    speakers of one prompt) stays available to training; per-cluster
    weights sum to 1.0 by construction, so the corpus's effective size
    equals its distinct-content count.

    Planted families on the documents spine (r % 8): docs with
    r % 8 = 0 anchor a 4-member chain {8k, 8k+1, 8k+2, 8k+3}
    (weight 0.25 each, when all members exist), r % 8 in {4, 5} form
    a pair {8k+4, 8k+5} (0.5 each), r % 8 in {6, 7} are singletons
    (1.0).  The oracle re-derives every weight closed-form (partner
    existence included) and gates per-class member counts plus
    ppm-quantized weight sums."""
    _prep(spark)
    from .operators.sampling import with_dedup_weights

    docs = _docs(spark, sf_dir).select("doc_id")
    ids = docs.select(F.col("doc_id").alias("b"))
    anchors = docs.filter(F.col("doc_id") % 8 == 0)
    chain = None
    for off in (1, 2, 3):
        edge = anchors.select(
            (F.col("doc_id") + off - 1).alias("a"),
            (F.col("doc_id") + off).alias("b"),
        ).join(ids, "b").join(docs.select(F.col("doc_id").alias("a")), "a")
        chain = edge if chain is None else chain.unionByName(edge)
    pair = docs.filter(F.col("doc_id") % 8 == 4).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b")
    ).join(ids, "b")
    out = with_dedup_weights(docs, chain.unionByName(pair))
    return (
        out.groupBy((F.col("doc_id") % 8).cast("int").alias("cls"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("dedup_weight") * 1_000_000 + F.lit(0.5)))
            .cast("bigint")
            .alias("sum_weight_ppm"),
        )
        .orderBy("cls")
    )


Q_SOFT_DEDUP_SQL = """
WITH ids AS (SELECT doc_id FROM documents),
sized AS (
  SELECT d.doc_id,
         CASE
           WHEN d.doc_id % 8 <= 3 THEN (
             -- chain membership: the family is {8k .. 8k+3} clipped to
             -- ids that exist; edges link consecutive members, so the
             -- cluster is the contiguous run containing this doc
             SELECT count(*) FROM ids m
             WHERE m.doc_id - (m.doc_id % 8) = d.doc_id - (d.doc_id % 8)
               AND m.doc_id % 8 <= 3
           )
           WHEN d.doc_id % 8 = 4 THEN
             CASE WHEN EXISTS (SELECT 1 FROM ids p
                               WHERE p.doc_id = d.doc_id + 1)
                  THEN 2 ELSE 1 END
           WHEN d.doc_id % 8 = 5 THEN
             CASE WHEN EXISTS (SELECT 1 FROM ids p
                               WHERE p.doc_id = d.doc_id - 1)
                  THEN 2 ELSE 1 END
           ELSE 1
         END AS csize
  FROM ids d
)
SELECT cast(doc_id % 8 AS INTEGER) AS cls,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(CAST(floor(1000000.0 / csize + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_weight_ppm
FROM sized
GROUP BY 1
ORDER BY cls
"""



def q_spoken_form(spark, sf_dir):
    """[tier: quality_filter x audio] spoken-form normalization
    (operators/text_analysis.py::with_spoken_form): every digit and
    common symbol becomes its spoken word, digit-by-digit readout
    ("42%" -> "four two percent") — written text must match what the
    audio actually says or the alignment trains against noise, and
    readout is the deterministic convention that never invents a
    pronunciation the speaker may not have used.  Pure Catalyst: one
    codegen'd regexp_replace per mapped char + one whitespace
    collapse, zero Python.

    The oracle is STRING-EXACT: it rebuilds the same doc-seeded input
    in SQL (digits vary per doc_id) and applies the same replace
    chain — the full transformed transcript hashes into the value
    comparison, not a summary statistic."""
    _prep(spark)
    from .operators.text_analysis import with_spoken_form

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("clip "),
            F.col("doc_id").cast("string"),
            F.lit(" rated 87% & 5 + 3 @ studio"),
        ).alias("transcript"),
    ).filter(F.col("doc_id") % 7 == 0)
    return with_spoken_form(docs).select("doc_id", "spoken").orderBy(
        "doc_id"
    )


_SPOKEN_CHAIN = "'clip ' || doc_id || ' rated 87% & 5 + 3 @ studio'"
for _ch, _w in (
    ("0", "zero"), ("1", "one"), ("2", "two"), ("3", "three"),
    ("4", "four"), ("5", "five"), ("6", "six"), ("7", "seven"),
    ("8", "eight"), ("9", "nine"),
    ("%", "percent"), ("&", "and"), ("+", "plus"), ("@", "at"),
):
    _SPOKEN_CHAIN = f"replace({_SPOKEN_CHAIN}, '{_ch}', ' {_w} ')"

Q_SPOKEN_FORM_SQL = f"""
SELECT doc_id,
       trim(regexp_replace({_SPOKEN_CHAIN}, '\\s+', ' ', 'g')) AS spoken
FROM documents
WHERE doc_id % 7 = 0
ORDER BY doc_id
"""



def q_padded_clips(spark, sf_dir):
    """[tier: quality_filter x audio] fixed-length padding
    (operators/audio.py::padded_clips): every clip becomes exactly
    target_ms — longer truncates (byte slice), shorter pads with the
    codec's digital-zero code — so a training loader gets uniform
    tensors without a decode, plus n_pad_samples for loss masking.
    Pure Catalyst byte op (the time_masked_clips convention), zero
    Python, zero Exchange.

    Planted classes built in-plan on the documents spine (pcm16 @
    16 kHz, target 300 ms = 4800 samples): 0 short 1000 samples
    (pad 3800), 1 exactly 4800 (pad 0), 2 long 6000 (truncate to
    4800), 3 NULL payload (passthrough, pad_ok=false).  Output byte
    lengths and pad totals recomputed closed-form by the oracle."""
    _prep(spark)
    from .operators.audio import padded_clips

    def pcm(n_samples):
        return F.unhex(F.repeat(F.lit("abcd"), n_samples))

    clips = _docs(spark, sf_dir).select(
        F.col("doc_id"),
        F.when(F.col("doc_id") % 4 == 0, pcm(1000))
        .when(F.col("doc_id") % 4 == 1, pcm(4800))
        .when(F.col("doc_id") % 4 == 2, pcm(6000))
        .otherwise(F.lit(None).cast("binary"))
        .alias("bytes"),
        F.lit(16000).alias("sr_hz"),
        F.lit(0).alias("dur_ms"),
        F.lit("pcm16").alias("codec"),
    ).withColumn("clip_id", F.col("doc_id").cast("string"))
    out = padded_clips(clips, target_ms=300)
    return (
        out.groupBy((F.col("doc_id") % 4).cast("int").alias("cls"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.length("bytes"), F.lit(0)).cast("bigint"))
            .alias("sum_bytes"),
            F.sum(F.col("n_pad_samples").cast("bigint")).alias("sum_pad"),
            F.count(F.when(F.col("pad_ok"), 1)).alias("n_ok"),
            F.sum(F.col("dur_ms").cast("bigint")).alias("sum_dur"),
        )
        .orderBy("cls")
    )


Q_PADDED_CLIPS_SQL = """
SELECT cast(doc_id % 4 AS INTEGER) AS cls,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 9600 END) AS BIGINT)
           AS sum_bytes,
       cast(sum(CASE doc_id % 4 WHEN 0 THEN 3800 ELSE 0 END) AS BIGINT)
           AS sum_pad,
       cast(sum(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 1 END) AS BIGINT)
           AS n_ok,
       cast(sum(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 300 END) AS BIGINT)
           AS sum_dur
FROM documents
GROUP BY 1
ORDER BY cls
"""



def q_pseudonymize_ids(spark, sf_dir):
    """[reference-core extension] keyed pseudonymization
    (operators/scrub.py::pseudonym_col / with_pseudonyms): the
    metadata counterpart of the text scrub — speaker/device/clip ids
    de-identify before a corpus is shared, but stay STABLE (same
    speaker → same token) so per-speaker statistics and caps survive.
    Pure Catalyst (keyed md5 + substring, codegen'd); NULL ids stay
    NULL rather than minting a phantom shared speaker.

    The oracle is STRING-EXACT: DuckDB computes the identical keyed
    digest chain over the same derived speaker ids — every token
    hashes into the value comparison.  Stability is implied (both
    engines recompute the same mapping independently); the same-
    speaker-same-token property is additionally pytest-gated."""
    _prep(spark)
    from .operators.scrub import with_pseudonyms

    rows = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 4, F.lit(None).cast("string")
        ).otherwise(
            F.concat(F.lit("speaker-"), (F.col("doc_id") % 5).cast("string"))
        ).alias("speaker_id"),
    ).filter(F.col("doc_id") % 9 == 0)
    out = with_pseudonyms(rows, {"speaker_id": "spk"}, secret="k7")
    return out.select("doc_id", "speaker_id").orderBy("doc_id")


Q_PSEUDONYMIZE_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE 'spk_' || substring(
                   md5('k7:' || 'speaker-' || cast(doc_id % 5 AS VARCHAR)),
                   1, 16)
       END AS speaker_id
FROM documents
WHERE doc_id % 9 = 0
ORDER BY doc_id
"""


QUERIES = {
    # THE ORACLE WINDOW.  An external correctness harness records only
    # the FIRST 50 registered queries; tools/check_oracles.py gates all
    # 131 under the same protocol.  The rule for the first 50: every kernel
    # a change rewrites has its direct oracle inside the window (the
    # change that rewrites it moves the oracle in), and a query leaves
    # the window only for one that runs code it does not, and only
    # while a sibling of its own family (same operator runner or
    # decode path) stays inside.  Each displacement is noted at the
    # slot it freed.  The window opens with a core regression set (scrub
    # q03, global labels q06, minhash q11, decode q16, fused pipeline
    # q22, cluster dedup q30, checkpoint q34, audio gate q40, streaming
    # q86, WAV audit q100); displaced queries keep their names and
    # oracles below the window.
    "q03_scrub_substitution": (q_scrub_substitution, Q_SCRUB_SUBSTITUTION_SQL),
    "q06_global_labels": (q_global_labels, Q_GLOBAL_LABELS_SQL),
    "q11_minhash_neardup": (q_minhash_neardup, Q_MINHASH_SQL),
    "q16_audio_decode": (q_audio_decode, Q_AUDIO_DECODE_SQL),
    "q22_pipeline_e2e": (q_pipeline_e2e, Q_PIPELINE_E2E_SQL),
    "q30_dedup_near": (q_dedup_near, Q_DEDUP_NEAR_SQL),
    "q34_checkpointed_stage": (q_checkpointed_stage, Q_CHECKPOINTED_STAGE_SQL),
    "q40_audio_quality_gate": (q_audio_quality_gate, Q_AUDIO_GATE_SQL),
    "q86_streaming_dedup": (q_streaming_dedup, Q_STREAMING_DEDUP_SQL),
    "q100_wav_audit": (q_wav_audit, Q_WAV_AUDIT_SQL),
    # --- the 40 never-before-driver-checked slots ---
    "q51_decontaminate": (q_decontaminate, Q_DECONTAMINATE_SQL),
    "q52_split_on_silence": (q_split_on_silence, Q_SPLIT_SILENCE_SQL),
    "q53_pack_sequences": (q_pack_sequences, Q_PACK_SEQUENCES_SQL),
    "q54_clean_text": (q_clean_text, Q_CLEAN_TEXT_SQL),
    "q57_speed_perturb": (q_speed_perturb, Q_SPEED_PERTURB_SQL),
    "q58_dedup_spans": (q_dedup_spans, Q_DEDUP_SPANS_SQL),
    "q59_spectral_gate": (q_spectral_gate, Q_SPECTRAL_GATE_SQL),
    "q64_noise_mix": (q_noise_mix, Q_NOISE_MIX_SQL),
    "q65_merge_segments": (q_merge_segments, Q_MERGE_SEGMENTS_SQL),
    "q66_transcode": (q_transcode, Q_TRANSCODE_SQL),
    # q36 here and q80 below are the direct oracles of SimHash near-dup
    # and fuzzy decontamination, both rebuilt as one lazy LSH plan; they
    # took the slots of two pure-Catalyst queries (q67, q103)
    "q36_simhash_hamming": (q_simhash_hamming_neardup, Q_SIMHASH_HAMMING_SQL),
    "q69_importance_weight": (q_importance_weight, Q_IMPORTANCE_SQL),
    "q71_log_mel": (q_log_mel, Q_LOG_MEL_SQL),
    "q72_repetition_signals": (q_repetition_signals, Q_REPETITION_SQL),
    "q73_snr_estimate": (q_snr_estimate, Q_SNR_ESTIMATE_SQL),
    "q74_webdataset_manifest": (q_webdataset_manifest, Q_WEBDATASET_SQL),
    # q14 and q28 are the direct oracles of the langid and toxicity
    # kernels (index-free n-gram scoring, substring prefilter); they
    # took the slots of q84 (sibling: q59, the same spectral runner)
    # and q121 (sibling: q16, the same decode boundary)
    "q14_langid_planted": (q_langid_planted, Q_LANGID_SQL),
    "q101_wav_unwrap": (q_wav_unwrap, Q_WAV_UNWRAP_SQL),
    "q102_bloom_decontaminate": (q_bloom_decontaminate, Q_BLOOM_DECONTAMINATE_SQL),
    "q80_fuzzy_decontamination": (q_fuzzy_decontamination, Q_FUZZY_DECON_SQL),
    "q104_declip_repair": (q_declip_repair, Q_DECLIP_REPAIR_SQL),
    "q105_pack_audio": (q_pack_audio, Q_PACK_AUDIO_SQL),
    "q106_lang_consistency": (q_lang_consistency, Q_LANG_CONSISTENCY_SQL),
    "q107_cross_modal_dedup": (q_cross_modal_dedup, Q_CROSS_MODAL_DEDUP_SQL),
    "q110_incremental_audio_dedup": (q_incremental_audio_dedup, Q_INCREMENTAL_AUDIO_DEDUP_SQL),
    "q112_streaming_watermark": (q_streaming_watermark, Q_STREAMING_WATERMARK_SQL),
    "q113_pii_density_gate": (q_pii_density_gate, Q_PII_DENSITY_SQL),
    "q114_speaker_turns": (q_speaker_turns, Q_SPEAKER_TURNS_SQL),
    "q116_oov_gate": (q_oov_gate, Q_OOV_GATE_SQL),
    "q120_compression_gate": (q_compression_gate, Q_COMPRESSION_GATE_SQL),
    "q28_toxicity": (q_toxicity, Q_TOXICITY_SQL),
    "q122_leakage_safe_split": (q_leakage_safe_split, Q_LEAKAGE_SPLIT_SQL),
    "q124_corpus_fit_perplexity": (q_corpus_fit_perplexity, Q_CORPUS_FIT_PPL_SQL),
    "q127_soft_dedup_weights": (q_soft_dedup_weights, Q_SOFT_DEDUP_SQL),
    # q15 is the direct oracle of the perplexity kernel, whose normalize
    # front went batch-wise; it took q130's slot (pure Catalyst md5,
    # green in every recorded run so far, see CORRECTNESS_r05.json)
    "q15_perplexity_planted": (q_perplexity_planted, Q_PERPLEXITY_SQL),
    # direct oracles of the single-crossing pipeline and the struct-UDF
    # seam (restore, keep/drop, NER scrub via with_scrub, the streaming
    # audio gate via run_pipeline); they took the slots of five
    # pure-Catalyst sampling/masking queries (q60, q63, q75, q78, q79)
    "q04_restore_roundtrip": (q_restore_roundtrip, Q_RESTORE_ROUNDTRIP_SQL),
    "q07_keep_drop": (q_keep_drop, Q_KEEP_DROP_SQL),
    "q23_ner_scrub": (q_ner_scrub, Q_NER_SCRUB_SQL),
    "q33_ner_model_scrub": (q_ner_model_scrub, Q_NER_MODEL_SCRUB_SQL),
    "q95_streaming_audio_gate": (
        q_streaming_audio_gate,
        Q_STREAMING_AUDIO_GATE_SQL,
    ),
    # --- displaced to local-only gating (identical protocol) ---
    "q60_temperature_rebalance": (
        q_temperature_rebalance,
        Q_TEMPERATURE_REBALANCE_SQL,
    ),
    "q63_time_mask": (q_time_mask, Q_TIME_MASK_SQL),
    "q75_budget_select": (q_budget_select, Q_BUDGET_SELECT_SQL),
    "q78_repeat_epochs": (q_repeat_epochs, Q_REPEAT_EPOCHS_SQL),
    "q79_cap_per_key": (q_cap_per_key, Q_CAP_PER_KEY_SQL),
    "q84_bandwidth_gate": (q_bandwidth_gate, Q_BANDWIDTH_SQL),
    "q121_codec_verify": (q_codec_verify, Q_CODEC_VERIFY_SQL),
    "q01_email_extract": (q_email_extract, Q_EMAIL_EXTRACT_SQL),
    "q02_category_extract_counts": (q_category_extract_counts, Q_CATEGORY_EXTRACT_SQL),
    "q05_categories_present": (q_categories_present, Q_CATEGORIES_PRESENT_SQL),
    "q08_quality_signals": (q_quality_signals, Q_QUALITY_SIGNALS_SQL),
    "q09_token_counts": (q_token_counts, Q_TOKEN_COUNTS_SQL),
    "q10_dedup_exact": (q_dedup_exact, Q_DEDUP_EXACT_SQL),
    "q93_pairing_gate": (q_pairing_gate, Q_PAIRING_GATE_SQL),
    "q119_voice_health": (q_voice_health, Q_VOICE_HEALTH_SQL),
    "q130_pseudonymize_ids": (q_pseudonymize_ids, Q_PSEUDONYMIZE_SQL),
    "q98_channel_stats": (q_channel_stats, Q_CHANNEL_STATS_SQL),
    "q117_pitch_stats": (q_pitch_stats, Q_PITCH_STATS_SQL),
    "q118_reverb_gate": (q_reverb_gate, Q_REVERB_GATE_SQL),
    "q20_dictionary_scrub": (q_dictionary_scrub, Q_DICTIONARY_SCRUB_SQL),
    "q88_metadata_audit": (q_metadata_audit, Q_METADATA_AUDIT_SQL),
    "q24_embedding_neardup": (q_embedding_neardup, Q_EMBEDDING_NEARDUP_SQL),
    "q89_vad_gate": (q_vad_gate, Q_VAD_GATE_SQL),
    "q96_audio_redact": (q_audio_redact, Q_AUDIO_REDACT_SQL),
    "q27_media_decode": (q_media_decode, Q_MEDIA_DECODE_SQL),
    "q29_ivf_ann": (q_ivf_ann, Q_IVF_ANN_SQL),
    "q31_filter_composition": (q_filter_composition, Q_FILTER_COMPOSITION_SQL),
    "q131_adpcm_transcode": (q_adpcm_transcode, Q_ADPCM_TRANSCODE_SQL),
    "q90_survivor_policy": (q_survivor_policy, Q_SURVIVOR_POLICY_SQL),
    "q67_collapse_lines": (q_collapse_lines, Q_COLLAPSE_LINES_SQL),
    "q91_repeated_segments": (q_repeated_segments, Q_REPEATED_SEGMENTS_SQL),
    "q38_salted_topk": (q_salted_per_key_topk, Q_SALTED_TOPK_SQL),
    "q39_text_ann_topk": (q_text_ann_topk, Q_TEXT_ANN_SQL),
    "q41_stratified_sample": (q_stratified_sample, Q_STRATIFIED_SAMPLE_SQL),
    "q43_incremental_dedup": (q_incremental_dedup, Q_INCREMENTAL_DEDUP_SQL),
    "q44_audio_neardup": (q_audio_neardup, Q_AUDIO_NEARDUP_SQL),
    "q45_rate_consistency": (q_rate_consistency, Q_RATE_CONSISTENCY_SQL),
    "q108_denoise": (q_denoise, Q_DENOISE_SQL),
    "q109_call_pipeline": (q_call_pipeline, Q_CALL_PIPELINE_SQL),
    "q48_loudness_normalize": (q_loudness_normalize, Q_LOUDNESS_SQL),
    "q87_fuzzy_paraphrase": (
        q_fuzzy_decontamination_paraphrase,
        Q_FUZZY_PARAPHRASE_SQL,
    ),
    "q55_curation_pipeline": (q_curation_pipeline, Q_CURATION_PIPELINE_SQL),
    "q56_audio_prep_pipeline": (q_audio_prep_pipeline, Q_AUDIO_PREP_SQL),
    "q61_rule_audit": (q_rule_audit, Q_RULE_AUDIT_SQL),
    "q62_shard_by_size": (q_shard_by_size, Q_SHARD_BY_SIZE_SQL),
    "q68_top_terms": (q_top_terms, Q_TOP_TERMS_SQL),
    "q70_mixture_sample": (q_mixture_sample, Q_MIXTURE_SAMPLE_SQL),
    "q76_mfcc": (q_mfcc, Q_MFCC_SQL),
    "q77_dedup_paragraphs": (q_dedup_paragraphs, Q_DEDUP_PARAGRAPHS_SQL),
    "q103_psi_drift": (q_psi_drift, Q_PSI_DRIFT_SQL),
    "q81_corpus_diff": (q_corpus_diff, Q_CORPUS_DIFF_SQL),
    "q82_audio_export_pipeline": (q_audio_export_pipeline, Q_AUDIO_EXPORT_SQL),
    "q83_data_card": (q_data_card, Q_DATA_CARD_SQL),
    "q85_dc_removal": (q_dc_removal, Q_DC_REMOVAL_SQL),
    "q49_trim_silence": (q_trim_silence, Q_TRIM_SILENCE_SQL),
    "q50_dedup_lines": (q_dedup_lines, Q_DEDUP_LINES_SQL),
    "q21_ann_topk": (q_ann_topk, Q_ANN_TOPK_SQL),
    "q25_ngram_jaccard": (q_ngram_jaccard, Q_NGRAM_JACCARD_SQL),
    "q35_ivf_indexed": (q_ivf_indexed, Q_IVF_INDEXED_SQL),
    "q37_text_embedding_neardup": (q_text_embedding_neardup, Q_TEXT_EMBEDDING_SQL),
    "q92_strip_repeated": (q_strip_repeated, Q_STRIP_REPEATED_SQL),
    "q12_simhash_neardup": (q_simhash_neardup, Q_MINHASH_SQL),
    "q18_join_orders_per_nation": (q_join_orders_per_nation, Q_JOIN_ORDERS_SQL),
    "q19_window_latest_event": (q_window_latest_event, Q_WINDOW_LATEST_SQL),
    "q26_fingerprint_groups": (q_fingerprint_groups, Q_FINGERPRINT_SQL),
    "q17_tpch_pricing_summary": (q_tpch_pricing_summary, Q_TPCH_PRICING_SQL),
    "q13_cosine_topk": (q_cosine_topk, Q_COSINE_TOPK_SQL),
    "q42_corpus_profile": (q_corpus_profile, Q_CORPUS_PROFILE_SQL),
    "q46_resample_uniform": (q_resample_uniform, Q_RESAMPLE_UNIFORM_SQL),
    "q47_chunked_clips": (q_chunked_clips, Q_CHUNKED_CLIPS_SQL),
    "q111_restoration_lift": (q_restoration_lift, Q_RESTORATION_LIFT_SQL),
    "q94_tempo_dedup": (q_tempo_dedup, Q_TEMPO_DEDUP_SQL),
    "q97_offset_dedup": (q_offset_dedup, Q_OFFSET_DEDUP_SQL),
    "q99_downmix": (q_downmix, Q_DOWNMIX_SQL),
    "q115_transcript_edit_dedup": (q_transcript_edit_dedup, Q_TRANSCRIPT_EDIT_SQL),
    "q123_speech_curation_pipeline": (q_speech_curation_pipeline, Q_SPEECH_CURATION_SQL),
    "q125_chunk_text": (q_chunk_text, Q_CHUNK_TEXT_SQL),
    "q126_hard_negatives": (q_hard_negatives, Q_HARD_NEGATIVES_SQL),
    "q128_spoken_form": (q_spoken_form, Q_SPOKEN_FORM_SQL),
    "q129_padded_clips": (q_padded_clips, Q_PADDED_CLIPS_SQL),
    "q32_url_scrub": (q_url_scrub, Q_URL_SCRUB_SQL),
}
