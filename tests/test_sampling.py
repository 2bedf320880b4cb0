"""Deterministic sampling: layout-independence, per-stratum rates,
disjoint splits, and the map-only plan shape."""

import warnings

import pytest
from pyspark.sql import functions as F

from top_secret_spark.operators.sampling import (
    deterministic_sample,
    sample_u_col,
    stratified_sample,
    temperature_fractions,
    temperature_sample,
    with_split,
)


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def test_sample_is_layout_independent(spark):
    """The sample must be a property of the rows, not the partitioning —
    the exact failure mode of df.sample() this operator exists to fix."""
    base = spark.range(0, 20_000)
    a = deterministic_sample(base.repartition(3), 0.3, key_col="id")
    b = deterministic_sample(base.repartition(17, "id"), 0.3, key_col="id")
    c = deterministic_sample(base.coalesce(1), 0.3, key_col="id")
    ids_a = _ids(a)
    assert ids_a == _ids(b) == _ids(c)
    assert 0.28 < len(ids_a) / 20_000 < 0.32


def test_seeds_give_independent_samples(spark):
    base = spark.range(0, 20_000)
    s0 = set(_ids(deterministic_sample(base, 0.3, "id", seed=0)))
    s1 = set(_ids(deterministic_sample(base, 0.3, "id", seed=12345)))
    assert s0 != s1
    # independent 30% samples overlap ~9%
    overlap = len(s0 & s1) / 20_000
    assert 0.05 < overlap < 0.14


def test_stratified_rates_and_default(spark):
    df = spark.range(0, 30_000).withColumn(
        "lang", F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("xx")),
                             (F.col("id") % 3 + 1).cast("int"))
    )
    samp = stratified_sample(
        df, {"en": 0.1, "de": 0.6}, strata_col="lang", key_col="id",
        default_fraction=0.0,
    )
    rates = {r["lang"]: r["n"] / 10_000 for r in
             samp.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0.08 < rates["en"] < 0.12
    assert 0.57 < rates["de"] < 0.63
    assert "xx" not in rates  # default 0.0 drops unlisted strata entirely


def test_with_split_disjoint_and_stable(spark):
    df = with_split(spark.range(0, 10_000), holdout_fraction=0.05,
                    key_col="id")
    counts = {r["split"]: r["n"] for r in
              df.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["train"] + counts["holdout"] == 10_000
    assert 300 < counts["holdout"] < 700
    # holdout membership must equal the sample at the same fraction/seed:
    # no document can drift between splits across runs
    holdout_ids = sorted(r["id"] for r in
                         df.filter("split = 'holdout'").select("id").collect())
    sampled_ids = _ids(deterministic_sample(spark.range(0, 10_000), 0.05, "id"))
    assert holdout_ids == sampled_ids


def test_fraction_validation():
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        deterministic_sample(None, 1.5)
    with pytest.raises(ValueError, match="fractions\\['en'\\]"):
        stratified_sample(None, {"en": -0.1}, "lang")


def test_sample_plan_is_map_only(spark):
    """Scale shape: the whole sample is filter-above-scan — zero
    exchanges, and the u-threshold filter is codegen'd Catalyst."""
    df = deterministic_sample(spark.range(0, 1000), 0.5, key_col="id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_u_matches_reference_values(spark):
    """Pin the hash arithmetic: these values are also what the q41
    DuckDB oracle computes — a change here silently breaks
    reproducibility for persisted splits, so it must be LOUD."""
    df = spark.createDataFrame(
        [(0,), (1,), (2147483651,), (999_999_999_999,)], "k bigint"
    )
    got = {r["k"]: r["u"] for r in
           df.select("k", sample_u_col(F.col("k")).alias("u")).collect()}
    assert got[0] == 0.0
    assert abs(got[1] - 0.6180339867714792) < 1e-15
    assert abs(got[2147483651] - 0.2360679735429585) < 1e-15
    assert abs(got[999_999_999_999] - 0.9754111650399864) < 1e-15


def test_null_keys_are_kept_not_dropped(spark):
    """NULL keys hash as key 0: a null-keyed row must not silently
    vanish from every sample (fraction 1.0 keeps the whole frame) and
    all three operators must agree on its fate."""
    from pyspark.sql import Row

    from top_secret_spark.operators.sampling import (
        deterministic_sample,
        sample_u_col,
        with_split,
    )

    df = spark.createDataFrame(
        [Row(doc_id=None, text="nullkey"), Row(doc_id=7, text="t7"),
         Row(doc_id=0, text="t0")],
        schema="doc_id bigint, text string",
    )
    assert deterministic_sample(df, 1.0).count() == 3
    us = {
        r["text"]: r["u"]
        for r in df.select(
            "text", sample_u_col(F.col("doc_id"), seed=3).alias("u")
        ).collect()
    }
    assert us["nullkey"] == us["t0"]  # NULL shares key 0's decision
    # membership at any fraction matches the u threshold exactly
    frac = us["t0"] + 1e-9
    kept = {r["text"] for r in deterministic_sample(df, frac, seed=3).collect()}
    assert "nullkey" in kept and "t0" in kept
    splits = {r["text"]: r["split"]
              for r in with_split(df, 0.5, seed=3).collect()}
    assert splits["nullkey"] == splits["t0"]


def test_temperature_fractions_invariants():
    counts = {"en": 800, "de": 200, "fr": 50}
    # alpha=1 -> identity (no rebalance)
    assert temperature_fractions(counts, 1.0) == {"en": 1.0, "de": 1.0, "fr": 1.0}
    # alpha<1 flattens: smallest stratum kept whole, head downsampled,
    # rates ordered opposite to counts
    r = temperature_fractions(counts, 0.5)
    assert r["fr"] == 1.0 and r["de"] == 0.5 and r["en"] == 0.25
    # alpha=0 -> expected post-sample counts uniform: n_i * rate_i const
    r0 = temperature_fractions(counts, 0.0)
    sizes = {k: counts[k] * v for k, v in r0.items()}
    assert max(sizes.values()) / min(sizes.values()) < 1.0001
    # alpha>1 sharpens: LARGEST stratum kept whole
    r2 = temperature_fractions(counts, 2.0)
    assert r2["en"] == 1.0 and r2["fr"] == pytest.approx(50 / 800)
    with pytest.raises(ValueError):
        temperature_fractions(counts, -0.5)
    with pytest.raises(ValueError):
        temperature_fractions({"en": 0}, 0.5)


def test_temperature_sample_flattens_and_is_deterministic(spark):
    rows = [(i, "en" if i % 10 < 8 else "fr") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    samp = temperature_sample(df, "lang", alpha=0.5, key_col="doc_id")
    got = {r["lang"]: r["n"] for r in
           samp.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # fr (smallest) kept whole; en downsampled toward sqrt scaling
    assert got["fr"] == 400
    assert got["en"] < 1600 * 0.6  # rate = (1600/400)^-0.5 = 0.5
    # same rows every run regardless of partitioning
    again = temperature_sample(df.repartition(13), "lang", alpha=0.5)
    assert sorted(r["doc_id"] for r in samp.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_temperature_sample_null_strata_and_max_strata(spark):
    df = spark.createDataFrame(
        [(0, None), (1, None), (2, "en"), (3, "en"), (4, "en"), (5, "en")],
        "doc_id long, lang string",
    )
    # NULL is its own (smallest) stratum: kept whole at alpha<1, never
    # silently dropped
    samp = temperature_sample(df, "lang", alpha=0.5)
    assert samp.filter(F.col("lang").isNull()).count() == 2
    with pytest.raises(ValueError, match="max_strata"):
        temperature_sample(df, "doc_id", alpha=0.5, max_strata=3)


def test_temperature_sample_broadcast_path_equals_case_path(spark, monkeypatch):
    """Above CASE_STRATA_MAX the rates become a broadcast join instead
    of a nested CASE (depth-N CaseWhen would overflow Catalyst tree
    traversal) — decisions must be identical, including NULL strata and
    non-string stratum types."""
    import top_secret_spark.operators.sampling as samp_mod

    rows = [(i, None if i % 11 == 0 else i % 7) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, grp int")
    a = sorted(r.doc_id for r in
               temperature_sample(df, "grp", alpha=0.5).collect())
    monkeypatch.setattr(samp_mod, "CASE_STRATA_MAX", 2)
    b = sorted(r.doc_id for r in
               temperature_sample(df, "grp", alpha=0.5).collect())
    assert a == b
    out = temperature_sample(df, "grp", alpha=0.5)
    assert set(out.columns) == {"doc_id", "grp"}  # helper cols dropped


def test_mixture_fractions_math():
    """Binding stratum keeps rate 1.0; kept masses hit the target
    ratios exactly (pre-quantization); ratio invariance to weight
    scale; budget caps total output; infeasible/invalid inputs raise."""
    import pytest as _pytest

    from top_secret_spark.operators.sampling import mixture_fractions

    counts = {"web": 1000, "code": 200, "books": 100}
    r = mixture_fractions(counts, {"web": 0.5, "code": 0.3, "books": 0.2})
    # binding stratum: min(1000/.5, 200/.3, 100/.2) = 500 -> books rate 1.0
    assert r["books"] == 1.0
    # kept masses 250/150/100 -> ratios 0.5/0.3/0.2 of 500
    assert r["web"] == _pytest.approx(0.25, abs=1e-6)
    assert r["code"] == _pytest.approx(0.75, abs=1e-6)
    # weight scale invariance
    r2 = mixture_fractions(counts, {"web": 5, "code": 3, "books": 2})
    assert r2 == r
    # budget (total rows, normalized by sum(p)=1): 250 -> B=250
    rb = mixture_fractions(
        counts, {"web": 0.5, "code": 0.3, "books": 0.2}, budget_rows=250
    )
    assert rb["web"] == _pytest.approx(0.125, abs=1e-6)
    assert rb["books"] == _pytest.approx(0.5, abs=1e-6)
    # out-of-recipe stratum dropped
    r3 = mixture_fractions({"web": 10, "junk": 99}, {"web": 1.0})
    assert r3["junk"] == 0.0 and r3["web"] == 1.0
    with _pytest.raises(ValueError, match="infeasible"):
        mixture_fractions({"web": 10}, {"web": 0.5, "missing": 0.5})
    with _pytest.raises(ValueError, match="must be >= 0"):
        mixture_fractions({"web": 10}, {"web": -0.1})
    with _pytest.raises(ValueError, match="positive"):
        mixture_fractions({"web": 10}, {"web": 0.0})
    with _pytest.raises(ValueError, match="budget_rows"):
        mixture_fractions({"web": 10}, {"web": 1.0}, budget_rows=0)


def test_mixture_sample_end_to_end(spark):
    """Achieved mix approximates the recipe, out-of-recipe strata drop
    entirely, decisions are layout-independent, binding stratum is kept
    whole."""
    from top_secret_spark.operators.sampling import mixture_sample

    rows = [(i, ["web", "code", "books", "junk"][
        0 if i % 10 < 6 else 1 if i % 10 < 8 else 2 if i % 10 < 9 else 3])
        for i in range(20000)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = mixture_sample(
        df, "src", {"web": 0.5, "code": 0.3, "books": 0.2},
        key_col="doc_id",
    )
    got = {r["src"]: r["count"] for r in out.groupBy("src").count().collect()}
    assert "junk" not in got
    # books binds: 2000 rows / 0.2 -> B = 10000; expect ~5000/3000/2000
    assert got["books"] == 2000                      # rate 1.0 — exact
    assert abs(got["web"] - 5000) / 5000 < 0.05      # hash sampling ±5%
    assert abs(got["code"] - 3000) / 3000 < 0.05
    a = {r["doc_id"] for r in mixture_sample(
        df.repartition(1), "src", {"web": 1, "code": 1},
        key_col="doc_id").collect()}
    b = {r["doc_id"] for r in mixture_sample(
        df.repartition(17), "src", {"web": 1, "code": 1},
        key_col="doc_id").collect()}
    assert a == b


def test_select_until_budget_exact_and_edges(spark):
    from top_secret_spark.operators.sampling import select_until_budget

    df = spark.createDataFrame(
        [(i, i % 5, 10 + (i % 3)) for i in range(100)],
        "doc_id long, prio long, toks long",
    )
    sel = select_until_budget(
        df, budget=250, value_col="toks",
        priority_cols=["prio", "doc_id"],
    ).collect()
    rows = sorted(((r["prio"], r["doc_id"]) for r in sel))
    # python reference: same total order, whole-row fit
    ref, cum = [], 0
    for p, i, t in sorted((i % 5, i, 10 + (i % 3)) for i in range(100)):
        if cum + t <= 250:
            ref.append((p, i))
            cum += t
    assert rows == ref
    cums = {r["doc_id"]: r["budget_cum"] for r in sel}
    # exclusive offsets: first selected row starts at 0
    first = min(ref)
    assert cums[first[1]] == 0
    # budget honored with NO straddling row
    assert max(r["budget_cum"] + (10 + (r["doc_id"] % 3)) for r in sel) <= 250


def test_select_until_budget_validation_and_zero(spark):
    import pytest as _pytest

    from top_secret_spark.operators.sampling import select_until_budget

    df = spark.createDataFrame([(1, 5)], "doc_id long, toks long")
    with _pytest.raises(ValueError, match="budget"):
        select_until_budget(df, -1, "toks", ["doc_id"])
    with _pytest.raises(ValueError, match="priority_cols"):
        select_until_budget(df, 10, "toks", [])
    assert select_until_budget(df, 0, "toks", ["doc_id"]).count() == 0
    # a row that doesn't fit whole is dropped, not truncated
    assert select_until_budget(df, 4, "toks", ["doc_id"]).count() == 0
    assert select_until_budget(df, 5, "toks", ["doc_id"]).count() == 1
    # survivors keep the input's column order, then the offset
    assert select_until_budget(
        df.select("toks", "doc_id"), 5, "toks", ["doc_id"]
    ).columns == ["toks", "doc_id", "budget_cum"]


def test_select_until_budget_partition_invariant(spark):
    from top_secret_spark.operators.sampling import select_until_budget

    df = spark.createDataFrame(
        [(i, (i * 37) % 11, 3 + (i % 7)) for i in range(200)],
        "doc_id long, prio long, toks long",
    )
    a = {(r["doc_id"], r["budget_cum"]) for r in select_until_budget(
        df.repartition(1), 300, "toks", ["prio", "doc_id"]).collect()}
    b = {(r["doc_id"], r["budget_cum"]) for r in select_until_budget(
        df.repartition(16), 300, "toks", ["prio", "doc_id"]).collect()}
    assert a == b and len(a) > 0


def test_repeat_epochs_counts_and_determinism(spark):
    from top_secret_spark.operators.sampling import (
        repeat_epochs,
        sample_u_col,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(200)],
        "doc_id long, src string",
    )
    # getItem(Column) is deprecated and warns FutureWarning on every
    # call; map[Column] is the supported form
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = repeat_epochs(df, {"a": 2.5, "b": 0.0}, strata_col="src")
    rows = out.collect()
    # stratum b (epochs 0) vanishes entirely
    assert all(r["src"] == "a" for r in rows)
    us = {r["doc_id"]: r["u"] for r in df.filter("src = 'a'").select(
        "doc_id", sample_u_col(F.col("doc_id")).alias("u")).collect()}
    from collections import Counter
    per_doc = Counter(r["doc_id"] for r in rows)
    for i, u in us.items():
        assert per_doc[i] == 2 + (1 if u < 0.5 else 0), i
    # epoch indices are exactly 0..n-1 per doc
    eps = {}
    for r in rows:
        eps.setdefault(r["doc_id"], []).append(r["epoch"])
    assert all(sorted(v) == list(range(len(v))) for v in eps.values())
    # partitioning-invariant
    again = Counter(r["doc_id"] for r in repeat_epochs(
        df.repartition(16), {"a": 2.5, "b": 0.0}, strata_col="src"
    ).collect())
    assert again == per_doc


def test_repeat_epochs_scalar_default_and_validation(spark):
    import pytest as _pytest

    from top_secret_spark.operators.sampling import repeat_epochs

    df = spark.createDataFrame(
        [(i, "x") for i in range(50)], "doc_id long, src string"
    )
    # scalar 2.0: exactly two copies of everything
    assert repeat_epochs(df, 2.0).count() == 100
    # unmapped stratum takes default_epochs
    assert repeat_epochs(
        df, {"other": 3.0}, strata_col="src", default_epochs=2.0
    ).count() == 100
    with _pytest.raises(ValueError, match="strata_col"):
        repeat_epochs(df, {"x": 2.0})
    with _pytest.raises(ValueError, match=">= 0"):
        repeat_epochs(df, -1.0)
    with _pytest.raises(ValueError, match=">= 0"):
        repeat_epochs(df, {"x": -0.5}, strata_col="src")


def test_cap_per_key_equals_plain_window_under_skew(spark):
    from pyspark.sql import Window

    from top_secret_spark.operators.sampling import cap_per_key

    # one hot key carrying 80% of rows — the regime salting exists for
    rows = [(i, "hot" if i % 5 != 4 else f"cold{i % 17}", (i * 13) % 101)
            for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, domain string, score long")
    got = {(r["doc_id"], r["rank"]) for r in cap_per_key(
        df, ["domain"], 7, [F.desc("score"), "doc_id"]).collect()}
    w = Window.partitionBy("domain").orderBy(F.desc("score"), "doc_id")
    exp = {(r["doc_id"], r["rank"]) for r in df.withColumn(
        "rank", F.row_number().over(w)).filter("rank <= 7").collect()}
    assert got == exp and len(got) > 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="n must be"):
        cap_per_key(df, ["domain"], 0, ["doc_id"])
    with _pytest.raises(ValueError, match="required"):
        cap_per_key(df, [], 3, ["doc_id"])


def test_split_by_cluster_no_family_straddles(spark):
    """The leakage guarantee itself: every near-dup family lands whole
    on one side, across fractions and seeds."""
    from pyspark.sql import functions as F

    from top_secret_spark.operators.sampling import split_by_cluster

    docs = spark.range(0, 400).select(F.col("id").alias("doc_id"))
    # chain families of 3: {6k, 6k+1, 6k+2} via two edges
    pairs = docs.filter(F.col("doc_id") % 6 == 0).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b")
    ).unionByName(
        docs.filter(F.col("doc_id") % 6 == 0).select(
            (F.col("doc_id") + 1).alias("a"), (F.col("doc_id") + 2).alias("b")
        )
    )
    for frac, seed in ((0.3, 0), (0.5, 7)):
        out = split_by_cluster(
            docs, pairs, holdout_fraction=frac, seed=seed
        )
        fam = out.filter(F.col("doc_id") % 6 <= 2).withColumn(
            "family", (F.col("doc_id") / 6).cast("bigint")
        )
        straddles = (
            fam.groupBy("family")
            .agg(F.countDistinct("split").alias("k"))
            .filter(F.col("k") > 1)
            .count()
        )
        assert straddles == 0
        # family members share the family min id as split_key
        bad_key = fam.filter(
            F.col("split_key") != F.col("family") * 6
        ).count()
        assert bad_key == 0


def test_split_by_cluster_singletons_match_with_split(spark):
    """With no pairs at all, split_by_cluster degrades to exactly
    with_split (same u, same seed)."""
    from pyspark.sql import functions as F

    from top_secret_spark.operators.sampling import (
        split_by_cluster,
        with_split,
    )

    docs = spark.range(0, 300).select(F.col("id").alias("doc_id"))
    empty = spark.createDataFrame([], "a bigint, b bigint")
    a = split_by_cluster(docs, empty, holdout_fraction=0.25, seed=3)
    b = with_split(docs, holdout_fraction=0.25, key_col="doc_id", seed=3)
    diff = a.select("doc_id", "split").exceptAll(
        b.select("doc_id", "split")
    ).count()
    assert diff == 0


def test_split_by_cluster_rejects_bad_fraction(spark):
    import pytest
    from pyspark.sql import functions as F

    from top_secret_spark.operators.sampling import split_by_cluster

    docs = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    empty = spark.createDataFrame([], "a bigint, b bigint")
    with pytest.raises(ValueError):
        split_by_cluster(docs, empty, holdout_fraction=1.5)


def test_with_dedup_weights_sums_to_distinct_content(spark):
    """Per-cluster weights sum to exactly 1.0, so the corpus's
    effective size equals its distinct-content count."""
    from pyspark.sql import functions as F

    from top_secret_spark.operators.sampling import with_dedup_weights

    docs = spark.range(0, 240).select(F.col("id").alias("doc_id"))
    pairs = docs.filter(F.col("doc_id") % 6 == 0).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b")
    ).unionByName(
        docs.filter(F.col("doc_id") % 6 == 0).select(
            (F.col("doc_id") + 1).alias("a"), (F.col("doc_id") + 2).alias("b")
        )
    )
    out = with_dedup_weights(docs, pairs)
    got = {r["doc_id"]: r["dedup_weight"] for r in out.collect()}
    assert len(got) == 240  # no row lost, no row duplicated
    for d, w in got.items():
        expect = 1.0 / 3.0 if d % 6 <= 2 else 1.0
        assert abs(w - expect) < 1e-12, (d, w)
    total = sum(got.values())
    n_distinct = 240 - 2 * 40  # each 3-family collapses to 1 effective
    assert abs(total - n_distinct) < 1e-9


def test_with_dedup_weights_no_pairs_all_ones(spark):
    from pyspark.sql import functions as F

    from top_secret_spark.operators.sampling import with_dedup_weights

    docs = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    empty = spark.createDataFrame([], "a bigint, b bigint")
    out = with_dedup_weights(docs, empty)
    assert all(r["dedup_weight"] == 1.0 for r in out.collect())


def test_with_dedup_weights_filtered_subset_still_sums_to_one(spark):
    """Cluster sizes must be counted over members PRESENT in df: when a
    quality gate dropped one member of a mined cluster, the survivors
    still sum to 1.0 (sizing from the pairs graph would leave a
    2-member cluster's lone survivor at weight 1/2)."""
    from pyspark.sql import functions as F

    from top_secret_spark.operators.sampling import with_dedup_weights

    docs = spark.range(0, 60).select(F.col("id").alias("doc_id"))
    # clusters {0,1,2}, {10,11}, singletons elsewhere
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "a bigint, b bigint"
    )
    filtered = docs.filter(~F.col("doc_id").isin(1, 11))  # gate drops 1, 11
    got = {r["doc_id"]: r["dedup_weight"]
           for r in with_dedup_weights(filtered, pairs).collect()}
    assert len(got) == 58
    assert abs(got[0] - 0.5) < 1e-12 and abs(got[2] - 0.5) < 1e-12
    assert abs(got[10] - 1.0) < 1e-12  # lone survivor of a mined pair
    assert abs(sum(got.values()) - (1.0 + 1.0 + 55)) < 1e-9
