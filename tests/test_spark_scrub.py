"""Spark-side scrub/restore/category operator tests.

Verifies the pandas-UDF wrapping reproduces the kernel exactly
(clip-by-clip) and the Catalyst category expressions match the kernel's
category projections.
"""

import pytest
from pyspark.sql import functions as F

from top_secret_spark.kernel.filters import RegexFilter, ScrubConfig
from top_secret_spark.kernel.scrub import filter_text
from top_secret_spark.operators.scrub import (
    categories_col,
    category_values,
    has_category,
    sensitive_col,
    with_restore,
    with_scrub,
)

TEXTS = [
    "My email address is user@example.com",
    "Cards: 4242-4242-4242-4242 and 4141414141414141",
    "Call 555-555-5555 or +1 555-555-5555",
    "SSN 123-45-6789 appears twice: 123-45-6789",
    "This sentence contains no sensitive information",
    "",
    "mixed user@example.com 4242424242424242 555.555.5555 123-45-6789",
    "dup user_1@example.com user_1@example.com user_2@example.com",
]


@pytest.fixture(scope="module")
def scrubbed(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], ["clip_id", "transcript"]
    )
    return with_scrub(df).orderBy("clip_id").collect()


def test_spark_scrub_matches_kernel(scrubbed):
    for row in scrubbed:
        exp_out, exp_map = filter_text(TEXTS[row["clip_id"]])
        assert row["scrubbed"] == exp_out
        assert [(e["key"], e["value"]) for e in row["mapping"]] == exp_map


def test_mapping_order_preserved(scrubbed):
    row = scrubbed[6]  # mixed categories — order must be filter order
    keys = [e["key"] for e in row["mapping"]]
    assert keys == ["CREDIT_CARD_1", "EMAIL_1", "PHONE_NUMBER_1", "SSN_1"]


def test_restore_roundtrip(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], ["clip_id", "transcript"]
    )
    out = (
        with_restore(with_scrub(df), text_col="scrubbed")
        .orderBy("clip_id")
        .collect()
    )
    for row in out:
        assert row["restored_text"] == TEXTS[row["clip_id"]]
        assert row["unrestored"] == []


def test_category_columns(spark):
    df = spark.createDataFrame([(0, TEXTS[6])], ["clip_id", "transcript"])
    row = (
        with_scrub(df)
        .select(
            category_values("mapping", "email").alias("emails"),
            category_values("mapping", "credit_card").alias("cards"),
            has_category("mapping", "ssn").alias("has_ssn"),
            has_category("mapping", "person").alias("has_person"),
            categories_col("mapping").alias("cats"),
            sensitive_col("mapping").alias("sensitive"),
        )
        .collect()[0]
    )
    assert row["emails"] == ["user@example.com"]
    assert row["cards"] == ["4242424242424242"]
    assert row["has_ssn"] is True and row["has_person"] is False
    assert row["cats"] == ["credit_card", "email", "phone_number", "ssn"]
    assert row["sensitive"] is True


def test_category_no_prefix_conflation(spark):
    # EMAIL_ADDRESS_1 must not appear under category "email"
    cfg = ScrubConfig(custom_filters=(RegexFilter("EMAIL_ADDRESS", r"\w+\[at\]\w+\.\w+"),))
    df = spark.createDataFrame(
        [(0, "a@b.com and user[at]example.com")], ["clip_id", "transcript"]
    )
    row = (
        with_scrub(df, cfg)
        .select(
            category_values("mapping", "email").alias("emails"),
            category_values("mapping", "email_address").alias("email_addresses"),
        )
        .collect()[0]
    )
    assert row["emails"] == ["a@b.com"]
    assert row["email_addresses"] == ["user[at]example.com"]


def test_scrub_with_entities_column(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("clip_id", T.IntegerType()),
            T.StructField("transcript", T.StringType()),
            T.StructField(
                "entities",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("text", T.StringType()),
                            T.StructField("tag", T.StringType()),
                            T.StructField("score", T.DoubleType()),
                        ]
                    )
                ),
            ),
        ]
    )
    df = spark.createDataFrame(
        [
            (0, "My name is Ralph from Boston",
             [("Ralph", "PERSON", 0.9), ("Boston", "LOCATION", 0.8)]),
            (1, "Low conf Ralph", [("Ralph", "PERSON", 0.4)]),
            (2, "No entities", None),
        ],
        schema,
    )
    rows = with_scrub(df, entities_col="entities").orderBy("clip_id").collect()
    assert rows[0]["scrubbed"] == "My name is [PERSON_1] from [LOCATION_1]"
    assert rows[1]["scrubbed"] == "Low conf Ralph"
    assert rows[2]["scrubbed"] == "No entities"


def test_no_shuffle_in_scrub_plan(spark):
    # scrub is map-only: the physical plan must contain no Exchange
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        with_scrub(df, text_col="text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_pii_density_gate(spark):
    """Density counts DISTINCT values; empty/NULL text reads 0; the
    gate fires on density or absolute count."""
    from pyspark.sql import functions as F

    from top_secret_spark.operators.scrub import (
        pii_density_reason_col,
        with_pii_density,
    )

    rows = [
        ("plain", " ".join(f"w{i}" for i in range(20))),
        # the same email mentioned twice counts once
        ("repeat", "a@b.com words here a@b.com"),
        ("dense", " ".join(f"u{i}@ex{i}.com" for i in range(5)) + " w1 w2"),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, transcript string")
    out = {r.doc_id: r for r in with_pii_density(df).withColumn(
        "reason", pii_density_reason_col(max_density=0.2)).collect()}
    assert out["plain"].n_pii == 0 and out["plain"].reason is None
    assert out["repeat"].n_pii == 1
    assert out["dense"].n_pii == 5 and out["dense"].reason == "pii_dense"
    assert out["null"].n_pii == 0 and out["null"].pii_density == 0.0


# --- keyed pseudonymization -------------------------------------------------------


def test_pseudonyms_stable_distinct_and_null_preserving(spark):
    from pyspark.sql import functions as F

    from top_secret_spark.operators.scrub import with_pseudonyms

    df = spark.createDataFrame(
        [(0, "alice", "dev1"), (1, "bob", "dev2"), (2, "alice", "dev1"),
         (3, None, "dev3")],
        ["row_id", "speaker_id", "device_id"],
    )
    out = with_pseudonyms(
        df, {"speaker_id": "spk", "device_id": "dev"}, secret="s3cr3t"
    ).collect()
    got = {r["row_id"]: (r["speaker_id"], r["device_id"]) for r in out}
    # stable: same input -> same token
    assert got[0] == got[2]
    # distinct inputs -> distinct tokens
    assert got[0][0] != got[1][0] and got[0][1] != got[1][1]
    # prefixes + NULL preserved
    assert got[0][0].startswith("spk_") and got[0][1].startswith("dev_")
    assert got[3][0] is None
    # raw values are gone from the frame
    assert all("alice" not in (v or "") for v, _ in got.values())


def test_pseudonym_secret_changes_mapping_and_is_required(spark):
    import pytest
    from pyspark.sql import functions as F

    from top_secret_spark.operators.scrub import pseudonym_col

    df = spark.createDataFrame([("alice",)], ["speaker_id"])
    a = df.select(pseudonym_col("speaker_id", "k1").alias("t")).first()["t"]
    b = df.select(pseudonym_col("speaker_id", "k2").alias("t")).first()["t"]
    assert a != b  # unkeyed rainbow tables can't invert either
    with pytest.raises(ValueError, match="secret"):
        pseudonym_col("speaker_id", "")
    with pytest.raises(ValueError, match="length"):
        pseudonym_col("speaker_id", "k", length=64)


def test_udfs_are_built_per_call(spark, monkeypatch):
    """with_text_features and with_restore build a fresh UDF on every
    call (through the seam's struct_udf): pyspark binds a UDF's JVM
    function to the first SparkContext that runs it, so a reused UDF
    object would report to a stopped context on a later one.  The
    module-level restore_udf is never bound."""
    from top_secret_spark.kernel.quality import top_bigram_frac
    from top_secret_spark.operators import scrub, seam
    from top_secret_spark.operators.features import with_text_features

    made = []

    def recording(real):
        def build(*args, **kwargs):
            made.append(real(*args, **kwargs))
            return made[-1]
        return build

    monkeypatch.setattr(seam, "pandas_udf", recording(seam.pandas_udf))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], ["clip_id", "transcript"]
    )
    scrubbed = with_scrub(df)  # one scrub UDF
    for _ in range(2):
        restored = with_restore(scrubbed).orderBy("clip_id").collect()
        assert [r["restored_text"] for r in restored] == TEXTS
        feats = with_text_features(df).orderBy("clip_id").collect()
        assert [r["top_bigram_frac"] for r in feats] == [
            top_bigram_frac(t) for t in TEXTS]
    assert len(made) == 5
    assert len({id(u) for u in made}) == 5
    assert scrub.restore_udf._unwrapped._judf_placeholder is None
