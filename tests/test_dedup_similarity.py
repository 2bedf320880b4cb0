"""Dedup (exact / MinHash-LSH / SimHash / Jaccard) and similarity-search
operator tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the quiet green forest before the sun sets tonight")
NEAR = BASE.replace("quiet green", "quiet dark")  # one-word change
OTHER = ("completely different content about database engines and query "
         "optimizers shuffling partitions across executor nodes at scale")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                      # exact dup of 0
        (2, "  THE  quick brown fox jumps over the lazy dog and then runs far away into the quiet green forest before the sun sets tonight "),  # ws/case dup of 0
        (3, NEAR),                      # near dup of 0
        (4, OTHER),
        (5, "short one"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicate_groups(spark, docs):
    from top_secret_spark.operators.dedup import exact_duplicate_groups

    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [0, 1, 2]  # normalization folds ws/case


def test_dedup_exact_keeps_min_id(spark, docs):
    from top_secret_spark.operators.dedup import dedup_exact

    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == [0, 3, 4, 5]


def test_minhash_near_duplicates(spark, docs):
    from top_secret_spark.operators.dedup import near_duplicates_minhash

    pairs = {(r["a"], r["b"]): r["est_jaccard"]
             for r in near_duplicates_minhash(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and pairs[(0, 3)] >= 0.5  # near dup caught
    assert not any({a, b} == {0, 4} for a, b in pairs)  # unrelated not paired


def test_jaccard_verification(spark, docs):
    from top_secret_spark.operators.dedup import (
        near_duplicates_minhash,
        verify_pairs_jaccard,
    )

    cand = near_duplicates_minhash(docs, threshold=0.4).select("a", "b")
    verified = {(r["a"], r["b"]): r["jaccard"]
                for r in verify_pairs_jaccard(cand, docs, threshold=0.5).collect()}
    assert verified[(0, 1)] == 1.0
    assert 0.5 <= verified[(0, 3)] < 1.0


def test_simhash_near_duplicates(spark, docs):
    from top_secret_spark.operators.dedup import (
        hamming_distance_col,
        simhash_candidate_pairs,
        with_simhash,
    )

    sh = with_simhash(docs).select("doc_id", "simhash").cache()
    vals = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    assert vals[0] == vals[1] == vals[2]
    assert vals[0] != vals[4]
    pairs = simhash_candidate_pairs(sh, "doc_id")
    sa = sh.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    sb = sh.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    close = (pairs.join(sa, "a").join(sb, "b")
             .withColumn("ham", hamming_distance_col(F.col("ha"), F.col("hb")))
             .filter(F.col("ham") <= 6))
    got = {(r["a"], r["b"]) for r in close.collect()}
    assert (0, 1) in got and (0, 3) in got
    sh.unpersist()


def test_minhash_deterministic_across_partitioning(spark, docs):
    from top_secret_spark.operators.dedup import with_minhash

    a = {r["doc_id"]: r["minhash"] for r in with_minhash(docs).collect()}
    b = {r["doc_id"]: r["minhash"]
         for r in with_minhash(docs.repartition(5)).collect()}
    assert a == b


# --- embedding similarity -------------------------------------------------------


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _numpy_top_k(emb_rows, query, k):
    ids = np.array([r[0] for r in emb_rows])
    mat = np.array([r[1] for r in emb_rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    q = np.array(query, dtype=np.float64)
    q = q / np.linalg.norm(q)
    scores = mat @ q
    order = np.lexsort((ids, -scores))[:k]
    return [(int(ids[i]), float(scores[i])) for i in order]


def test_brute_force_top_k_matches_numpy(spark, embeddings):
    from top_secret_spark.operators.similarity import brute_force_top_k

    rows = [(r["vec_id"], r["embedding"]) for r in embeddings.collect()]
    queries = [(0, rows[7][1]), (1, rows[123][1])]
    got = brute_force_top_k(embeddings, queries, k=5).collect()
    by_query = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_query.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    for qid, qvec in queries:
        exp = _numpy_top_k(rows, qvec, 5)
        assert [v for v, _ in by_query[qid]] == [v for v, _ in exp]
        for (_, s_got), (_, s_exp) in zip(by_query[qid], exp):
            assert abs(s_got - s_exp) < 1e-5
        # self-query: the query vector itself ranks first with score 1.0
        assert by_query[qid][0][0] == (7 if qid == 0 else 123)
        assert by_query[qid][0][1] == pytest.approx(1.0, abs=1e-6)


def test_ann_top_k_finds_self_and_subsets_brute_force(spark, embeddings):
    from top_secret_spark.operators.similarity import ann_top_k, brute_force_top_k

    rows = [(r["vec_id"], r["embedding"]) for r in embeddings.collect()]
    queries = [(0, rows[42][1])]
    ann = ann_top_k(embeddings, queries, dim=64, k=5, n_bits=8, multiprobe=1)
    got = [(r["vec_id"], r["score"]) for r in ann.orderBy("rank").collect()]
    assert got[0][0] == 42 and got[0][1] == pytest.approx(1.0, abs=1e-6)
    # every ANN score must appear in the exact scoring (it's a subset search)
    bf = brute_force_top_k(embeddings, queries, k=500).collect()
    exact = {r["vec_id"]: r["score"] for r in bf}
    for vid, score in got:
        assert exact[vid] == pytest.approx(score, abs=1e-6)


def test_ivf_top_k_recall_and_determinism(spark, embeddings):
    from top_secret_spark.operators.similarity import (
        brute_force_top_k,
        ivf_top_k,
        train_ivf_centroids,
        with_ivf_cell,
    )

    cents = train_ivf_centroids(embeddings, dim=64, n_cells=16)
    cents2 = train_ivf_centroids(embeddings, dim=64, n_cells=16)
    np.testing.assert_array_equal(cents, cents2)  # deterministic training

    # cell assignment is partitioning-independent
    a = {r["vec_id"]: r["ivf_cell"]
         for r in with_ivf_cell(embeddings, cents).collect()}
    b = {r["vec_id"]: r["ivf_cell"]
         for r in with_ivf_cell(embeddings.repartition(7), cents).collect()}
    assert a == b and len(set(a.values())) > 1

    rows = [(r["vec_id"], r["embedding"]) for r in embeddings.collect()]
    queries = [(0, rows[42][1]), (1, rows[7][1])]
    got = ivf_top_k(embeddings, queries, cents, k=10, nprobe=4)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], {})[r["vec_id"]] = r["score"]
    # self-vector found with score 1.0 (its own cell is always probed)
    assert by_q[0].get(42) == pytest.approx(1.0, abs=1e-6)
    assert by_q[1].get(7) == pytest.approx(1.0, abs=1e-6)
    # subset property + decent recall vs exact top-10
    bf = brute_force_top_k(embeddings, queries, k=10).collect()
    exact_by_q = {}
    for r in bf:
        exact_by_q.setdefault(r["query_id"], {})[r["vec_id"]] = r["score"]
    bf500 = brute_force_top_k(embeddings, queries, k=500).collect()
    exact_all = {}
    for r in bf500:
        exact_all.setdefault(r["query_id"], {})[r["vec_id"]] = r["score"]
    for qid in (0, 1):
        overlap = set(by_q[qid]) & set(exact_by_q[qid])
        assert len(overlap) >= 5  # recall@10 >= 0.5 with nprobe=4/16
        for vid, score in by_q[qid].items():
            # every IVF score equals the exact cosine (subset search)
            assert exact_all[qid][vid] == pytest.approx(score, abs=1e-6)


def test_lsh_bucket_deterministic(spark, embeddings):
    from top_secret_spark.operators.similarity import with_lsh_bucket

    a = {r["vec_id"]: r["lsh_bucket"]
         for r in with_lsh_bucket(embeddings, 64).collect()}
    b = {r["vec_id"]: r["lsh_bucket"]
         for r in with_lsh_bucket(embeddings.repartition(7), 64).collect()}
    assert a == b


# --- text analysis ----------------------------------------------------------------


def test_text_analysis_columns(spark):
    from top_secret_spark.operators.text_analysis import with_text_analysis

    df = spark.createDataFrame(
        [(0, "The cat sat on the mat."), (1, ""), (2, None),
         (3, "word " * 10)],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in with_text_analysis(df).collect()}
    assert rows[0]["ws_tokens"] == 6
    assert rows[0]["bpe_tokens"] >= 6
    assert rows[0]["stopword_ratio"] > 0.2
    assert rows[1]["ws_tokens"] == 0 and rows[2]["ws_tokens"] == 0
    assert 0.0 <= rows[0]["quality_score"] <= 1.0
    assert rows[0]["fingerprint"] != rows[3]["fingerprint"]


def test_fingerprint_normalizes_whitespace_case(spark):
    from top_secret_spark.operators.text_analysis import with_text_analysis

    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, " HELLO\nWORLD ")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in with_text_analysis(df).collect()}
    assert fps[0] == fps[1] == fps[2]


def test_near_duplicates_simhash_end_to_end(spark):
    """SimHash end-to-end at Hamming ≤ 3: long repeated-base texts with
    one-token appended variants must pair up (the near-MISS regime);
    unrelated texts must not; identical texts give hamming 0."""
    from top_secret_spark.operators.dedup import near_duplicates_simhash

    long_base = (BASE + " ") * 20
    rows = [
        (0, long_base),
        (1, long_base),              # identical → hamming 0
        (2, long_base + " v2"),      # one-token variant → hamming ~1
        (3, long_base + " v3"),
        (4, (OTHER + " ") * 20),     # unrelated long text
        (5, "tiny"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    stats: dict = {}
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in near_duplicates_simhash(df, max_distance=3, stats=stats).collect()}
    assert pairs[(0, 1)] == 0
    assert {(0, 2), (1, 2), (0, 3), (1, 3), (2, 3)} <= set(pairs)
    assert all(h <= 3 for h in pairs.values())
    assert not any(4 in p or 5 in p for p in pairs)
    assert stats["n_candidate_pairs"] >= len(pairs)


def test_dedup_near_simhash_method(spark):
    """dedup_near(method='simhash') keeps one survivor per near-dup
    cluster (min id) and every unrelated doc."""
    from top_secret_spark.operators.dedup import dedup_near

    long_base = (BASE + " ") * 20
    rows = [
        (0, long_base), (1, long_base), (2, long_base + " v2"),
        (3, (OTHER + " ") * 20), (4, "tiny"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(r["doc_id"] for r in dedup_near(df, method="simhash").collect())
    assert kept == [0, 3, 4]
    with pytest.raises(ValueError, match="method"):
        dedup_near(df, method="bogus")


def test_near_duplicates_simhash_warns_on_unguaranteed_recall(spark):
    import warnings

    from top_secret_spark.operators.dedup import near_duplicates_simhash

    df = spark.createDataFrame([(0, BASE), (1, BASE)], ["doc_id", "text"])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        near_duplicates_simhash(df, max_distance=4)  # 4 >= 64/16
        assert any("recall" in str(x.message) for x in w)


def test_embed_texts_kernel_properties():
    from top_secret_spark.kernel.hashing import embed_texts

    v = embed_texts(["hello world", "hello world", OTHER, "", None, "ab"])
    assert v.shape == (6, 64) and v.dtype == np.float32
    assert np.array_equal(v[0], v[1])  # content-identical → identical
    for row, want in zip(v, (1.0, 1.0, 1.0, 0.0, 0.0, 0.0)):
        assert abs(float(np.linalg.norm(row)) - want) < 1e-6
    assert abs(float(v[0] @ v[2])) < 0.5  # unrelated texts ≪ threshold
    # normalization parity with the MinHash kernel
    w = embed_texts([" Hello\xa0WORLD \n"])
    assert np.array_equal(w[0], v[0])
    with pytest.raises(ValueError, match="power of two"):
        embed_texts(["x"], dim=48)


def test_with_text_embedding_partitioning_independent(spark, docs):
    from top_secret_spark.operators.similarity import with_text_embedding

    a = {r["doc_id"]: r["embedding"]
         for r in with_text_embedding(docs).collect()}
    b = {r["doc_id"]: r["embedding"]
         for r in with_text_embedding(docs.repartition(7)).collect()}
    assert a == b
    assert a[0] == a[1]  # exact dup docs → identical embeddings


def test_text_to_embedding_near_duplicates_end_to_end(spark, docs):
    """Raw text → with_text_embedding → embedding_near_duplicates:
    identical/normalized-identical texts pair at cos 1.0; unrelated
    texts stay out."""
    from top_secret_spark.operators.dedup import embedding_near_duplicates
    from top_secret_spark.operators.similarity import with_text_embedding

    emb = with_text_embedding(docs)
    pairs = {(r["a"], r["b"]): r["cos"]
             for r in embedding_near_duplicates(
                 emb, dim=64, threshold=0.99, id_col="doc_id").collect()}
    assert set(pairs) == {(0, 1), (0, 2), (1, 2)}
    assert all(abs(c - 1.0) < 1e-5 for c in pairs.values())


def test_pair_jaccard_matches_per_pair_sets():
    """The vectorized pair_jaccard kernel (one encode + hash pass over
    the whole batch) must agree exactly with the straightforward
    per-pair set computation it replaced, including empty/None/short
    texts and intra-text duplicate shingles."""
    import random

    import numpy as np

    from top_secret_spark.kernel.hashing import (
        encode_batch,
        ngram_hashes,
        pair_jaccard,
    )

    def ref(ta, tb, k=5, buckets=1 << 32):
        na = " ".join((ta or "").lower().split())
        nb = " ".join((tb or "").lower().split())
        da, la = encode_batch([na])
        db, lb = encode_batch([nb])
        _, ha = ngram_hashes(da, la, k, buckets)
        _, hb = ngram_hashes(db, lb, k, buckets)
        sa, sb = set(ha.tolist()), set(hb.tolist())
        union = len(sa | sb)
        return len(sa & sb) / union if union else 1.0

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    pairs = [
        ("", ""), (None, None), ("", "hello world"), ("ab", "ab"),
        ("abcd", "abcd"),  # below shingle_k → empty sets → 1.0
        ("hello hello hello world", "hello world"),
        ("The  Quick\nBrown Fox", "the quick brown fox"),
        ("identical text body", "identical text body"),
    ]
    for _ in range(60):
        ta = " ".join(rng.choices(words, k=rng.randint(0, 30)))
        tb_base = rng.choice([ta, " ".join(rng.choices(words, k=rng.randint(0, 30)))])
        tb = tb_base + (" extra tail" if rng.random() < 0.5 else "")
        pairs.append((ta, tb))
    got = pair_jaccard([p[0] for p in pairs], [p[1] for p in pairs])
    exp = np.array([ref(a, b) for a, b in pairs])
    assert np.allclose(got, exp, atol=0), list(zip(pairs, got, exp))
    # block-chunked path (batch > block) is bit-identical
    got_blocked = pair_jaccard(
        [p[0] for p in pairs], [p[1] for p in pairs], block=8
    )
    assert np.array_equal(got, got_blocked)
    assert len(pair_jaccard([], [])) == 0


def test_normalized_text_matches_kernel_unicode_whitespace(spark):
    """normalized_text_col (the fingerprint/exact-dedup canonical form)
    must agree with the MinHash kernel normalization
    " ".join(t.lower().split()) on UNICODE whitespace — Java \\s is
    ASCII-only, so 'foo\\n' vs 'foo' and NBSP-separated words used to
    fingerprint differently while MinHash called them identical
    (ADVICE r2)."""
    from top_secret_spark.operators.text_analysis import normalized_text_col

    cases = [
        "foo", "foo\n", " foo ", "foo\xa0bar", "foo bar",
        "a\x1cb", "A\tB\r\n", "", None, "x y", "trés  bien　!",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = [r[0] for r in df.select(normalized_text_col("text")).collect()]
    exp = [" ".join((c or "").lower().split()) for c in cases]
    assert got == exp


def test_fingerprint_unifies_unicode_whitespace(spark):
    from top_secret_spark.operators.text_analysis import with_text_analysis

    df = spark.createDataFrame(
        [(0, "foo bar"), (1, "foo\xa0bar"), (2, "foo bar\n")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in with_text_analysis(df).collect()}
    assert fps[0] == fps[1] == fps[2]


def test_ivf_cell_isolates_bad_rows(spark, embeddings):
    from top_secret_spark.operators.similarity import (
        train_ivf_centroids,
        with_ivf_cell,
    )

    cents = train_ivf_centroids(embeddings, dim=64, n_cells=8)
    good = embeddings.limit(20).select("vec_id", "embedding")
    bad = spark.createDataFrame(
        [(999990, None), (999991, [1.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    cells = {r["vec_id"]: r["ivf_cell"]
             for r in with_ivf_cell(good.unionByName(bad), cents).collect()}
    # bad rows get -1 (never probed); valid rows keep their true cells
    assert cells[999990] == -1 and cells[999991] == -1
    expected = {r["vec_id"]: r["ivf_cell"]
                for r in with_ivf_cell(good, cents).collect()}
    for vid, c in expected.items():
        assert cells[vid] == c and c >= 0


def test_train_ivf_rejects_wrong_dim(spark, embeddings):
    from top_secret_spark.operators.similarity import train_ivf_centroids

    with pytest.raises(ValueError, match="width mismatch"):
        train_ivf_centroids(embeddings, dim=32, n_cells=4)


def test_collapse_exact_equivalent_output(spark):
    from top_secret_spark.operators.dedup import near_duplicates_minhash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.select("doc_id", "text").limit(100)
    # 3 copies of each text → heavy exact duplication
    tripled = base.unionByName(
        base.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    ).unionByName(
        base.select((F.col("doc_id") + 20_000).alias("doc_id"), "text")
    )
    plain = {(r["a"], r["b"], r["est_jaccard"])
             for r in near_duplicates_minhash(tripled, threshold=0.8).collect()}
    collapsed = {(r["a"], r["b"], r["est_jaccard"])
                 for r in near_duplicates_minhash(
                     tripled, threshold=0.8, collapse_exact=True).collect()}
    assert plain == collapsed
    # sanity: the planted triples are present
    some_id = base.collect()[0]["doc_id"]
    assert (some_id, some_id + 10_000, 1.0) in collapsed


def _planted_minhash_corpus():
    """Families of a random-word base text: exact copies, one-word edits
    and a two-word edit, plus unrelated singletons (40 rows)."""
    rng = np.random.default_rng(11)
    vocab = [f"tok{i}" for i in range(400)]
    rows = []
    for fam in range(10):
        base = [str(w) for w in rng.choice(vocab, 50)]
        rows.append(" ".join(base))
        rows += [" ".join(base)] * (fam % 3)
        if fam % 2:
            edit = list(base)
            edit[7] = "zzz"
            rows.append(" ".join(edit))
        if fam % 5 == 0:
            edit = list(base)
            edit[20], edit[40] = "yyy", "xxx"
            rows.append(" ".join(edit))
    while len(rows) < 40:
        rows.append(" ".join(str(w) for w in rng.choice(vocab, 50)))
    return [(i * 3 + 1, t) for i, t in enumerate(rows)]


def _brute_force_minhash_pairs(rows, threshold, num_hashes=64):
    """Every id pair sharing one band slice whose estimated Jaccard
    reaches ``threshold`` — the LSH + filter contract, pair by pair."""
    import pandas as pd

    from top_secret_spark.operators.dedup import _auto_bands, make_minhash_udf

    ids = [i for i, _ in rows]
    sigs = make_minhash_udf(num_hashes).func(pd.Series([t for _, t in rows]))
    r = num_hashes // _auto_bands(num_hashes, threshold)
    out = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            sx, sy = sigs[x], sigs[y]
            if not any((sx[k:k + r] == sy[k:k + r]).all()
                       for k in range(0, num_hashes, r)):
                continue
            est = round(float((sx == sy).mean()), 6)
            if est >= threshold:
                a, b = sorted((ids[x], ids[y]))
                out.add((a, b, est))
    return out


def test_minhash_collapse_modes_equal_brute_force(spark):
    from top_secret_spark.operators.dedup import near_duplicates_minhash

    rows = _planted_minhash_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = _brute_force_minhash_pairs(rows, 0.8)
    assert any(e == 1.0 for _, _, e in want) and any(e < 1.0 for _, _, e in want)
    n_candidates = set()
    for mode in (False, True, "auto"):
        stats: dict = {}
        got = [(r["a"], r["b"], r["est_jaccard"]) for r in
               near_duplicates_minhash(df, threshold=0.8, collapse_exact=mode,
                                       stats=stats).collect()]
        assert len(got) == len(set(got)), mode  # each pair once
        assert set(got) == want, mode
        n_candidates.add(stats["n_candidate_pairs"])
    # collapsed, candidates still count document pairs, not group pairs
    assert len(n_candidates) == 1 and n_candidates.pop() >= len(want)


def test_minhash_collapse_one_large_group(spark):
    """1,500 identical documents: "auto" collapses them to one band
    representative, and their 1,124,250 pairs come out of joins on
    (rep, member) rows — no aggregate gathers a member list."""
    from top_secret_spark.operators.dedup import near_duplicates_minhash

    g = 1500
    planted = [(10_000 + i, t) for i, t in _planted_minhash_corpus()]
    rows = [(i, "the same boilerplate footer, copied onto every page")
            for i in range(g)] + planted
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats: dict = {}
    out = near_duplicates_minhash(df, threshold=0.8, collapse_exact="auto",
                                  stats=stats)
    assert stats["collapsed_exact"] is True
    assert stats["n_candidate_pairs"] >= g * (g - 1) // 2
    group = out.filter(F.col("b") < g).agg(
        F.count(F.lit(1)), F.min("est_jaccard"), F.countDistinct("a", "b")
    ).collect()[0]
    assert tuple(group) == (g * (g - 1) // 2, 1.0, g * (g - 1) // 2)
    rest = {(r["a"], r["b"], r["est_jaccard"])
            for r in out.filter(F.col("a") >= g).collect()}
    assert rest == _brute_force_minhash_pairs(planted, 0.8)
    assert out.filter((F.col("a") < g) & (F.col("b") >= g)).count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan and "Window" in plan


def _lsh_call(mode, df):
    """One call of the LSH operator ``mode`` names: MinHash near-dup
    uncollapsed (False) or collapsed (True), SimHash near-dup, or fuzzy
    decontamination against a few of ``df``'s own texts."""
    from top_secret_spark.operators import dedup as D

    if mode == "simhash":
        return D.near_duplicates_simhash(df)
    if mode == "fuzzy":
        bench = df.filter(F.col("doc_id") < 20).select("text")
        return D.flag_contaminated_fuzzy(df, bench, threshold=0.8)
    return D.near_duplicates_minhash(df, threshold=0.8, collapse_exact=mode)


@pytest.mark.parametrize("mode", [False, True, "simhash", "fuzzy"])
def test_minhash_one_plan_few_jobs_one_udf_pass(spark, tmp_path, mode):
    """One call over a parquet scan is one lazy plan: few jobs when
    collected, nothing left cached, and the sketch UDF evaluated once
    per input.  The near-dup self-joins read the second side (and,
    collapsed, every use of the by-signature shuffle) through a reused
    exchange instead of a cache, also with broadcast joins on; fuzzy
    decontamination has one ArrowEvalPython per input."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(_planted_minhash_corpus(),
                          "doc_id long, text string").write.parquet(path)
    df = spark.read.parquet(path)
    sc = spark.sparkContext
    cached_before = sc._jsc.getPersistentRDDs().size()
    group = f"lsh-one-plan-{mode}"
    sc.setJobGroup(group, "LSH operator job count")
    try:
        out = _lsh_call(mode, df)
        assert out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc._jsc.getPersistentRDDs().size() == cached_before
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    if mode == "fuzzy":
        assert n_jobs <= 6
        assert final.count("ArrowEvalPython") <= 2
    else:
        assert n_jobs <= 4
        assert final.count("ArrowEvalPython") == 1
        assert "ReusedExchange" in final


@pytest.mark.parametrize("mode", [False, "simhash", "fuzzy"])
def test_lsh_call_runs_no_job_on_exchange_input(spark, mode):
    """Deciding whether to spread the input over the cores must not run
    an input whose plan holds an exchange: the result's action would
    run that shuffle again."""
    df = (
        spark.createDataFrame(_planted_minhash_corpus(),
                              "doc_id long, text string")
        .groupBy("doc_id").agg(F.first("text").alias("text"))
    )
    sc = spark.sparkContext
    group = f"lsh-call-{mode}"
    sc.setJobGroup(group, "LSH operator call")
    try:
        _lsh_call(mode, df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


# --- near-dup cluster resolution -------------------------------------------------


def test_near_duplicate_clusters_transitive(spark):
    from top_secret_spark.operators.dedup import near_duplicate_clusters

    # a 4-chain (1-2-3-4) plus an isolated pair (10, 11): min-label must
    # propagate transitively through the chain, not just over direct edges
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["a", "b"]
    )
    got = {r["node"]: r["cluster_id"]
           for r in near_duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_near_one_survivor_per_cluster(spark, docs):
    from top_secret_spark.operators.dedup import dedup_near

    # docs: 0,1,2 identical (mod ws/case), 3 near-dup of 0, 4 and 5 unique
    # → the 0-3 family collapses to min id 0; 4 and 5 survive untouched
    survivors = sorted(
        r["doc_id"] for r in dedup_near(docs, threshold=0.7).collect()
    )
    assert survivors == [0, 4, 5]


def test_dedup_near_no_duplicates_is_identity(spark):
    from top_secret_spark.operators.dedup import dedup_near

    rows = [
        (i, f"wholly distinct document number {i} about topic {i * 37} "
            f"with unique trailing content {'x' * (i % 7)} {i ** 2}")
        for i in range(50)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    assert dedup_near(docs, threshold=0.95).count() == 50


# --- SimHash bucket self-join ----------------------------------------------------


def test_simhash_pairs_match_python_banding(spark):
    from top_secret_spark.operators.dedup import (
        simhash_candidate_pairs,
        with_simhash,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").limit(120)
    )
    tripled = docs.unionByName(
        docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    sh = with_simhash(tripled).select("doc_id", "simhash").cache()
    vals = [(r["doc_id"], r["simhash"]) for r in sh.collect()]
    # reference pair set: python banding over the collected hashes
    band_bits, mask = 16, (1 << 16) - 1
    buckets = {}
    for did, h in vals:
        for band in range(64 // band_bits):
            key = (band, (h >> (band * band_bits)) & mask)
            buckets.setdefault(key, []).append(did)
    expect = set()
    for ids in buckets.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                expect.add((min(a, b), max(a, b)))
    got = {(r["a"], r["b"])
           for r in simhash_candidate_pairs(sh, "doc_id").collect()}
    sh.unpersist()
    assert got == expect
    # the planted exact dup of every doc must be a candidate
    assert all((d, d + 10_000) in got for d, _ in vals[:5] if d < 10_000)


def test_simhash_max_bucket_accounting(spark):
    from top_secret_spark.operators.dedup import (
        simhash_candidate_pairs,
        simhash_oversize_buckets,
        with_simhash,
    )

    # 30 copies of one text → every band bucket holds 30 ids
    rows = [(i, "an identical duplicated transcript body " * 4)
            for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = with_simhash(df).select("doc_id", "simhash")
    capped = simhash_candidate_pairs(sh, "doc_id", max_bucket=10)
    assert capped.count() == 0
    oversize = simhash_oversize_buckets(sh, "doc_id", max_bucket=10)
    assert oversize.count() == 4  # 64/16 bands, one mega-bucket each
    assert all(r["n"] == 30 for r in oversize.collect())


def test_simhash_capped_keeps_pair_behind_dropped_band(spark):
    """Docs 0 and 1 share buckets in bands 0 and 2; filler docs push
    band 0's bucket over the cap.  The pair's first shared band is then
    dropped, so the capped plan must still return it from band 2."""
    from top_secret_spark.operators.dedup import simhash_candidate_pairs

    def sketch(b0, b1, b2, b3):
        return b0 | b1 << 16 | b2 << 32 | b3 << 48

    rows = [(0, sketch(7, 1, 9, 1)), (1, sketch(7, 2, 9, 2))]
    rows += [(10 + i, sketch(7, 100 + i, 200 + i, 300 + i)) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    capped = {(r["a"], r["b"]): r["hamming"]
              for r in simhash_candidate_pairs(df, max_bucket=3).collect()}
    assert set(capped) == {(0, 1)}
    assert capped[(0, 1)] == bin(sketch(7, 1, 9, 1) ^ sketch(7, 2, 9, 2)).count("1")
    # uncapped, band 0 pairs all seven docs, each pair in one row
    uncapped = [(r["a"], r["b"]) for r in simhash_candidate_pairs(df).collect()]
    assert len(uncapped) == len(set(uncapped)) == 7 * 6 // 2


# --- Catalyst fingerprint ---------------------------------------------------------


def test_fingerprint_is_pure_catalyst(spark, docs):
    from top_secret_spark.operators.dedup import with_fingerprint

    plan = (
        with_fingerprint(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "xxhash64" in plan


# --- two-phase top-k --------------------------------------------------------------


def test_brute_force_top_k_multi_partition_and_bad_rows(spark, embeddings):
    from top_secret_spark.operators.similarity import brute_force_top_k

    clean = [(r["vec_id"], r["embedding"])
             for r in embeddings.select("vec_id", "embedding").collect()]
    query = clean[7][1]
    expect = _numpy_top_k(clean, query, 5)
    # inject null / wrong-width rows and spread over many partitions:
    # two-phase per-partition top-k must still match the exact answer
    bad = spark.createDataFrame(
        [(999_990, None), (999_991, [1.0, 2.0])],
        embeddings.select("vec_id", "embedding").schema,
    )
    noisy = embeddings.select("vec_id", "embedding").unionByName(bad)
    got = (
        brute_force_top_k(noisy.repartition(13), [(0, query)], k=5)
        .orderBy("rank").collect()
    )
    assert [(r["vec_id"], round(r["score"], 6)) for r in got] == [
        (i, round(s, 6)) for i, s in expect
    ]


def test_ivf_results_independent_of_cobatching(spark, embeddings):
    from top_secret_spark.operators.similarity import (
        ivf_top_k,
        train_ivf_centroids,
    )

    rows = embeddings.select("vec_id", "embedding").limit(2).collect()
    qa, qb = [(r["vec_id"], r["embedding"]) for r in rows]
    cents = train_ivf_centroids(embeddings, dim=64, n_cells=8)
    alone = {(r["query_id"], r["vec_id"], r["score"], r["rank"])
             for r in ivf_top_k(embeddings, [qa], cents, k=5, nprobe=2).collect()}
    both = {(r["query_id"], r["vec_id"], r["score"], r["rank"])
            for r in ivf_top_k(embeddings, [qa, qb], cents, k=5, nprobe=2)
            .filter(F.col("query_id") == qa[0]).collect()}
    assert alone == both


def test_collapse_exact_auto_probe(spark):
    from top_secret_spark.operators.dedup import near_duplicates_minhash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.select("doc_id", "text").limit(80)
    tripled = base.unionByName(
        base.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    ).unionByName(
        base.select((F.col("doc_id") + 20_000).alias("doc_id"), "text")
    )
    # heavy duplication (67%) → auto collapses
    s1: dict = {}
    r1 = {(r["a"], r["b"], r["est_jaccard"]) for r in near_duplicates_minhash(
        tripled, threshold=0.8, collapse_exact="auto", stats=s1).collect()}
    assert s1["collapsed_exact"] is True and s1["exact_dup_ratio"] > 0.5
    # output identical to the explicit-collapse and plain paths
    r2 = {(r["a"], r["b"], r["est_jaccard"]) for r in near_duplicates_minhash(
        tripled, threshold=0.8, collapse_exact=True).collect()}
    assert r1 == r2
    # unique corpus → auto does NOT collapse
    uniq = spark.createDataFrame(
        [(i, f"clearly distinct text number {i} on subject {i * 31}")
         for i in range(60)], ["doc_id", "text"])
    s3: dict = {}
    near_duplicates_minhash(uniq, threshold=0.8, collapse_exact="auto",
                            stats=s3).count()
    assert s3["collapsed_exact"] is False
    # invalid value raises at plan time
    import pytest as _pytest
    with _pytest.raises(ValueError, match="collapse_exact"):
        near_duplicates_minhash(uniq, collapse_exact="yes")


def test_ivf_index_prunes_partitions_and_matches_unindexed(spark, embeddings, tmp_path):
    from top_secret_spark.operators.similarity import (
        ivf_top_k,
        ivf_top_k_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    cents = train_ivf_centroids(embeddings, dim=64, n_cells=8)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(embeddings, cents, path)

    rows = embeddings.select("vec_id", "embedding").limit(2).collect()
    queries = [(r["vec_id"], r["embedding"]) for r in rows]
    indexed = ivf_top_k_indexed(spark, path, queries, cents, k=5, nprobe=3)

    # physical partition pruning: the probed scan lists ONLY probed-cell
    # directories
    from top_secret_spark.operators.similarity import _probe_mask

    _, probe = _probe_mask(queries, cents, 3)
    pruned = spark.read.parquet(path).filter(F.col("ivf_cell").isin(*probe))
    probed_files = [
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert probed_files, "pruned scan read no files"
    import re as _re

    cells_in_files = {
        int(_re.search(r"ivf_cell=(\d+)", f).group(1)) for f in probed_files
    }
    assert cells_in_files <= set(probe)
    assert len(cells_in_files) < 8  # strictly fewer than all cells
    # and the planner records the partition filter (pruning at plan time)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan.split(
        "PartitionFilters", 1
    )[1][:200]

    # identical results to the unindexed path
    a = {(r["query_id"], r["vec_id"], r["rank"]) for r in indexed.collect()}
    b = {(r["query_id"], r["vec_id"], r["rank"])
         for r in ivf_top_k(embeddings, queries, cents, k=5, nprobe=3).collect()}
    assert a == b


def test_dedup_near_verify_exact(spark):
    from top_secret_spark.operators.dedup import dedup_near

    rows = []
    for fam in range(20):
        for m in range(4):
            rows.append((fam * 10 + m,
                         f"family {fam} shares this exact transcript body "
                         f"about topic {fam * 11} entirely"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    surv_est = sorted(r["doc_id"] for r in dedup_near(docs, threshold=0.9).collect())
    surv_ver = sorted(
        r["doc_id"]
        for r in dedup_near(docs, threshold=0.9, verify_exact=True).collect()
    )
    assert surv_est == surv_ver == [fam * 10 for fam in range(20)]


def test_near_duplicate_clusters_long_chain(spark):
    """A 200-node chain converges well inside max_iterations=30 thanks
    to pointer jumping (pure neighbor propagation would need ~200
    rounds), and every node gets the chain minimum."""
    from top_secret_spark.operators.dedup import near_duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["a", "b"]
    )
    got = {r["node"]: r["cluster_id"]
           for r in near_duplicate_clusters(pairs).collect()}
    assert len(got) == 201 and set(got.values()) == {0}


def test_dedup_lines_semantics(spark):
    """First occurrence (by id, pos) of each line survives; later copies
    removed — including WITHIN one document; fully-deduped docs become
    EMPTY (not dropped); NULL text passes through NULL; untouched
    columns survive the rebuild join."""
    from top_secret_spark.operators.dedup import dedup_lines

    rows = [
        (1, "alpha\nboiler\nbeta", "keep"),
        (2, "boiler\ngamma\ngamma", "strip"),   # cross-doc + within-doc dup
        (3, "boiler\nalpha", "empty"),           # every line seen earlier
        (4, None, "null"),
        (5, "", "blank"),                        # one empty line, first seen
        (6, "", "blank2"),                       # empty line now a dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tag string")
    got = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    assert got[1]["text"] == "alpha\nboiler\nbeta"
    assert got[1]["n_lines_removed"] == 0
    assert got[2]["text"] == "gamma"
    assert got[2]["n_lines_removed"] == 2
    assert got[3]["text"] == "" and got[3]["n_lines_removed"] == 2
    assert got[4]["text"] is None and got[4]["n_lines_removed"] == 0
    assert got[5]["text"] == "" and got[5]["n_lines_removed"] == 0
    assert got[6]["text"] == "" and got[6]["n_lines_removed"] == 1
    assert got[2]["tag"] == "strip"
    assert len(got) == 6


def test_dedup_lines_partition_independent(spark):
    """Winner selection is a global min over (id, pos) — results must not
    change with the physical layout."""
    from top_secret_spark.operators.dedup import dedup_lines

    rows = [(i, f"shared line\nunique {i}") for i in range(40)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["text"]
         for r in dedup_lines(df1.repartition(1)).collect()}
    b = {r["doc_id"]: r["text"]
         for r in dedup_lines(df1.repartition(13)).collect()}
    assert a == b
    assert a[0] == "shared line\nunique 0"
    assert all(a[i] == f"unique {i}" for i in range(1, 40))


def test_flag_contaminated_semantics(spark):
    """Full n-gram match flags; sub-n overlap does not; NULL/short texts
    never flag; hit count is DISTINCT benchmark n-grams contained;
    matching is case-insensitive; plan broadcasts the benchmark side."""
    from top_secret_spark.operators.dedup import flag_contaminated

    bench = spark.createDataFrame(
        [("the quick brown fox jumps over a lazy dog",)], ["text"]
    )  # 9 words -> two 8-grams
    docs = spark.createDataFrame(
        [
            (1, "intro words here the quick brown fox jumps over a lazy dog tail"),
            (2, "THE QUICK BROWN FOX JUMPS OVER A LAZY dog"),  # case-folded
            (3, "the quick brown fox jumps over a"),            # 7 words only
            (4, "completely unrelated text with many plain words in it today"),
            (5, None),
            (6, "the quick brown fox jumps over a lazy dog "
                "the quick brown fox jumps over a lazy dog"),   # repeats: still distinct grams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in flag_contaminated(docs, bench, n=8).collect()}
    assert got[1]["contaminated"] and got[1]["n_contaminated_ngrams"] == 2
    assert got[2]["contaminated"] and got[2]["n_contaminated_ngrams"] == 2
    assert not got[3]["contaminated"] and got[3]["n_contaminated_ngrams"] == 0
    assert not got[4]["contaminated"]
    assert not got[5]["contaminated"]
    assert got[6]["contaminated"] and got[6]["n_contaminated_ngrams"] == 2
    assert len(got) == 6
    plan = flag_contaminated(docs, bench, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_with_clean_text_semantics(spark):
    """NFC composes decomposed accents, CRLF becomes LF, C0 controls
    strip (tab/newline kept), NULL passes through; out_col appends."""
    from top_secret_spark.operators.text_analysis import with_clean_text

    rows = [
        (1, "café du monde"),
        (2, "line one\r\nline two"),
        (3, "bell\x07 and\ttab\nkept\x00"),
        (4, None),
        (5, "café already composed"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in with_clean_text(df).collect()}
    assert got[1] == "café du monde"
    assert got[2] == "line one\nline two"
    assert got[3] == "bell and\ttab\nkept"
    assert got[4] is None
    assert got[5] == "café already composed"
    both = with_clean_text(df, out_col="clean").collect()[0]
    assert "clean" in both.asDict() and "text" in both.asDict()


def test_with_clean_text_cr_and_c1_controls(spark):
    """Lone CR becomes LF (classic-Mac newline, not deleted noise); C1
    controls strip — twins differing only in these collapse."""
    from top_secret_spark.operators.text_analysis import with_clean_text

    df = spark.createDataFrame(
        [(1, "line one\rline two"), (2, "abc\x85def")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in with_clean_text(df).collect()}
    assert got[1] == "line one\nline two"
    assert got[2] == "abcdef"


def test_dedup_spans_c4_rule(spark):
    """Three-sentence spans keep their globally-first occurrence; the
    sentences of losing occurrences are removed (cross-doc AND
    within-doc); short docs untouched; NULL passes through."""
    from top_secret_spark.operators.dedup import dedup_spans

    block = "s-one\ns-two\ns-three"
    rows = [
        (1, "intro a\n" + block + "\noutro a"),   # first: keeps block
        (2, "intro b\n" + block + "\noutro b"),   # loses the 3 sentences
        (3, "A\nB\nC\nA\nB\nC"),               # within-doc repeat
        (4, "only\ntwo"),                        # < span: untouched
        (5, None),
        (6, block),                               # exact block again: loses
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_spans(df).collect()}
    assert got[1]["text"] == "intro a\n" + block + "\noutro a"
    assert got[1]["n_sentences_removed"] == 0
    assert got[2]["text"] == "intro b\noutro b"
    assert got[2]["n_sentences_removed"] == 3
    assert got[3]["text"] == "A\nB\nC"
    assert got[3]["n_sentences_removed"] == 3
    assert got[4]["text"] == "only\ntwo"
    assert got[4]["n_sentences_removed"] == 0
    assert got[5]["text"] is None and got[5]["n_sentences_removed"] == 0
    assert got[6]["text"] == "" and got[6]["n_sentences_removed"] == 3
    assert len(got) == 6


def test_dedup_lines_and_spans_null_id_passthrough(spark):
    """NULL-id rows pass through untouched (an id-keyed rebuild can
    neither group nor re-join them) and do not affect other docs'
    winner selection; span < 2 raises."""
    import pytest as _pytest

    from top_secret_spark.operators.dedup import dedup_lines, dedup_spans

    df = spark.createDataFrame(
        [(None, "shared\nprivate"), (2, "shared\nother")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    assert got[None]["text"] == "shared\nprivate"
    assert got[None]["n_lines_removed"] == 0
    # the NULL-id doc did NOT claim 'shared' — doc 2 keeps it
    assert got[2]["text"] == "shared\nother"
    sp = spark.createDataFrame(
        [(None, "a\nb\nc\nd"), (9, "a\nb\nc")],
        "doc_id long, text string",
    )
    got2 = {r["doc_id"]: r for r in dedup_spans(sp).collect()}
    assert got2[None]["text"] == "a\nb\nc\nd"
    assert got2[None]["n_sentences_removed"] == 0
    assert got2[9]["text"] == "a\nb\nc"
    with _pytest.raises(ValueError, match="span"):
        dedup_spans(sp, span=1)


def test_collapse_repeated_lines_semantics(spark):
    """Within-doc first occurrence of each line survives in order;
    blank-line runs collapse; NULL passes through; no cross-doc effect
    (doc 1 and 2 share lines, both keep their own first copy)."""
    from top_secret_spark.operators.text_analysis import (
        collapse_repeated_lines,
    )

    rows = [
        (1, "nav\nbody one\nnav\nbody two\nnav", "a"),
        (2, "nav\nnav\n\n\nnav\ntail", "b"),
        (3, "single line no newline", "c"),
        (4, None, "d"),
        (5, "", "e"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tag string")
    got = {r["doc_id"]: r for r in collapse_repeated_lines(df).collect()}
    assert got[1]["text"] == "nav\nbody one\nbody two"
    assert got[2]["text"] == "nav\n\ntail"
    assert got[3]["text"] == "single line no newline"
    assert got[4]["text"] is None
    assert got[5]["text"] == ""
    assert got[1]["tag"] == "a" and len(got) == 5
    out = {r["doc_id"]: r for r in
           collapse_repeated_lines(df, out_col="collapsed").collect()}
    assert out[1]["text"].count("nav") == 3  # original kept
    assert out[1]["collapsed"] == "nav\nbody one\nbody two"


def test_collapse_repeated_lines_matches_python_reference(spark):
    """Random repeat layouts: operator output equals the scalar
    first-seen scan, independent of partitioning."""
    import random

    from top_secret_spark.operators.text_analysis import (
        collapse_repeated_lines,
    )

    rng = random.Random(42)
    rows = []
    for i in range(60):
        lines = [f"l{rng.randrange(6)}" for _ in range(rng.randrange(0, 12))]
        rows.append((i, "\n".join(lines)))

    def ref(text):
        seen, out = set(), []
        for ln in text.split("\n"):
            if ln not in seen:
                seen.add(ln)
                out.append(ln)
        return "\n".join(out)

    for parts in (1, 7):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["text"]
               for r in collapse_repeated_lines(df.repartition(parts)).collect()}
        for i, text in rows:
            assert got[i] == ref(text), (i, text)


def test_top_terms_matches_counter(spark):
    """top_terms equals a Counter over the same tokenization for uni-
    and bigrams, ties broken (count desc, term asc), short docs yield
    no n-grams, and results are partition-independent."""
    from collections import Counter

    import pytest as _pytest

    from top_secret_spark.operators.text_analysis import top_terms

    texts = [
        "the cat sat on the mat",
        "the cat ate   the\tcanary",
        "a cat a mat a hat",
        "one",
        "",
        "  ",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]

    def ref(n, k):
        cnt = Counter()
        for _, t in rows:
            words = [w for w in t.lower().split() if w]
            cnt.update(
                " ".join(words[j:j + n]) for j in range(len(words) - n + 1)
            )
        return sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    for parts in (1, 5):
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(parts)
        for n in (1, 2, 3):
            got = [(r["term"], r["n"]) for r in top_terms(df, k=8, n=n).collect()]
            assert got == ref(n, 8), (n, parts)
    with _pytest.raises(ValueError, match="n must be"):
        top_terms(spark.createDataFrame(rows, "doc_id long, text string"), n=0)


def test_dedup_lines_paragraph_separator(spark):
    """sep='\\n\\n' removes a multi-line boilerplate PARAGRAPH whole
    (line-level would strip it line-by-line and could leave fragments
    when only some lines repeat); regex-special separators are
    rejected at plan time."""
    from top_secret_spark.operators.dedup import dedup_lines

    boiler = "follow us\non social media"
    rows = [
        (0, boiler + "\n\nunique zero"),
        (1, boiler + "\n\nunique one"),
        (2, boiler),  # boiler-only doc dedups to EMPTY
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_lines_removed"])
           for r in dedup_lines(df, sep="\n\n").collect()}
    assert got[0] == (boiler + "\n\nunique zero", 0)
    assert got[1] == ("unique one", 1)
    assert got[2] == ("", 1)

    with pytest.raises(ValueError, match="non-empty"):
        dedup_lines(df, sep="")
    # regex-special characters are treated as LITERALS (escaped for the
    # split): '.' must not match every character
    dotted = spark.createDataFrame(
        [(0, "a.b"), (1, "a.c")], "doc_id long, text string"
    )
    got_dots = {r["doc_id"]: r["text"]
                for r in dedup_lines(dotted, sep=".").collect()}
    assert got_dots == {0: "a.b", 1: "c"}  # 'a' deduped, not chars


def test_flag_contaminated_fuzzy_paraphrase_and_verbatim(spark):
    """The fuzzy probe catches a lightly-EDITED eval leak the exact
    n-gram probe would need luck for: a one-token-appended copy of a
    long benchmark doc still estimates high Jaccard.  Unrelated docs
    never flag; threshold is validated."""
    from top_secret_spark.operators.dedup import flag_contaminated_fuzzy

    base = ("the quick brown fox jumps over the lazy dog and runs "
            "into the quiet green forest before the sun sets ") * 15
    other = ("entirely different material about distributed query "
             "engines shuffling partitions and pruning scans ") * 15
    corpus = spark.createDataFrame(
        [(0, base), (1, base + " trailing edit"), (2, other), (3, "tiny")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(base,)], ["text"])
    got = {r["doc_id"]: (r["contaminated_fuzzy"], r["n_bench_near"])
           for r in flag_contaminated_fuzzy(
               corpus, bench, threshold=0.8).collect()}
    assert got[0] == (True, 1)     # verbatim leak
    assert got[1][0] is True       # paraphrased leak still flags
    assert got[2] == (False, 0)
    assert got[3] == (False, 0)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="threshold"):
        flag_contaminated_fuzzy(corpus, bench, threshold=0.0)


def test_corpus_diff_statuses_and_normalized_identity(spark):
    from top_secret_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta EDITED"), (3, "  gamma  "), (5, "new doc")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed",
                   3: "unchanged",  # whitespace-only → same fingerprint
                   4: "removed", 5: "added"}
    # fingerprints ride along for downstream joins
    row = {r["doc_id"]: r for r in corpus_diff(old, new).collect()}[4]
    assert row["old_fingerprint"] is not None
    assert row["new_fingerprint"] is None


def test_dedup_exact_keep_best_policy(spark, docs):
    """Survivorship policy: highest quality wins, tie -> lowest id,
    NULL quality loses to any scored member."""
    from top_secret_spark.operators.dedup import dedup_exact_keep_best

    scored = docs.withColumn(
        "q",
        F.when(F.col("doc_id") == 1, F.lit(9.0))    # best in the dup group
        .when(F.col("doc_id") == 2, F.lit(None))     # NULL must lose
        .when(F.col("doc_id") == 0, F.lit(3.0))
        .otherwise(F.lit(1.0)),
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_exact_keep_best(scored, "q").collect()
    )
    assert kept == [1, 3, 4, 5]  # doc 1 survives its group, not min-id 0

    # tie on quality -> deterministic lowest id
    tied = docs.withColumn("q", F.lit(1.0))
    kept_tied = sorted(
        r["doc_id"]
        for r in dedup_exact_keep_best(tied, "q").collect()
    )
    assert kept_tied == [0, 3, 4, 5]


# --- bloom-prefilter decontamination (q102) ----------------------------------


def _decon_fixture(spark):
    from pyspark.sql import functions as F

    bench = spark.range(0, 3).select(F.format_string(
        "benchmark question %d alpha bravo charlie delta echo foxtrot",
        F.col("id")).alias("text"))
    base = [F.format_string(f"t%dw{j}", F.col("id")) for j in range(12)]
    full = F.format_string(
        "benchmark question %d alpha bravo charlie delta echo foxtrot",
        F.col("id") % 3)
    docs = spark.range(0, 70).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 7 == 3,
               F.concat_ws(" ", *base[:6], full, *base[6:]))
        .otherwise(F.concat_ws(" ", *base)).alias("text"))
    return docs, bench


def test_bloom_decontaminate_equals_exact(spark):
    from top_secret_spark.operators.dedup import (
        flag_contaminated,
        flag_contaminated_bloom,
    )

    docs, bench = _decon_fixture(spark)
    cols = ["doc_id", "contaminated", "n_contaminated_ngrams"]
    exact = flag_contaminated(docs, bench, n=8).select(cols).orderBy("doc_id")
    blm = flag_contaminated_bloom(docs, bench, n=8).select(cols).orderBy("doc_id")
    assert exact.collect() == blm.collect()


def test_bloom_decontaminate_saturated_bloom_still_exact(spark):
    """A 64-bit bloom over 6 benchmark grams is heavily saturated —
    most corpus grams false-positive through it — but the verify join
    must still produce the exact verdict."""
    from top_secret_spark.operators.dedup import (
        flag_contaminated,
        flag_contaminated_bloom,
    )

    docs, bench = _decon_fixture(spark)
    cols = ["doc_id", "contaminated", "n_contaminated_ngrams"]
    exact = flag_contaminated(docs, bench, n=8).select(cols).orderBy("doc_id")
    blm = flag_contaminated_bloom(
        docs, bench, n=8, m_bits=64, k=2
    ).select(cols).orderBy("doc_id")
    assert exact.collect() == blm.collect()


def test_bloom_decontaminate_bench_size_guard(spark):
    import pytest

    from top_secret_spark.operators.dedup import flag_contaminated_bloom

    docs, bench = _decon_fixture(spark)
    with pytest.raises(ValueError, match="max_bench_grams"):
        flag_contaminated_bloom(docs, bench, n=8, max_bench_grams=1)


# --- transcript edit-distance verify ---------------------------------------------


def _lev_fixture(spark):
    texts = spark.createDataFrame(
        [
            (0, "the quick brown fox"),
            (1, "the quick brown fox"),       # identical -> 0 edits
            (2, "the quack brown fox"),       # 1 sub
            (3, "the quick brown foxes"),     # 2 inserts
            (4, "a completely different transcript entirely"),
            (5, "the quick brown f"),         # 2 deletes (within budget)
        ],
        ["tid", "transcript"],
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (0, 5)], ["a", "b"]
    )
    return texts, pairs


def test_verify_pairs_levenshtein_exact_counts(spark):
    from top_secret_spark.operators.dedup import verify_pairs_levenshtein

    texts, pairs = _lev_fixture(spark)
    out = verify_pairs_levenshtein(
        pairs, texts, id_col="tid", text_col="transcript", max_edits=3
    )
    got = {(r["a"], r["b"]): r["edits"] for r in out.collect()}
    assert got == {(0, 1): 0, (0, 2): 1, (0, 3): 2, (0, 5): 2}


def test_verify_pairs_levenshtein_budget_zero_means_exact_only(spark):
    from top_secret_spark.operators.dedup import verify_pairs_levenshtein

    texts, pairs = _lev_fixture(spark)
    out = verify_pairs_levenshtein(
        pairs, texts, id_col="tid", text_col="transcript", max_edits=0
    )
    assert [(r["a"], r["b"]) for r in out.collect()] == [(0, 1)]


def test_verify_pairs_levenshtein_rejects_negative_budget(spark):
    import pytest

    from top_secret_spark.operators.dedup import verify_pairs_levenshtein

    texts, pairs = _lev_fixture(spark)
    with pytest.raises(ValueError, match="max_edits"):
        verify_pairs_levenshtein(
            pairs, texts, id_col="tid", text_col="transcript", max_edits=-1
        )


def test_verify_pairs_levenshtein_plan_is_jvm_only(spark):
    """The verify stage must stay Catalyst: no Python evaluation node
    anywhere in the plan (levenshtein + the length prefilter are both
    codegen'd expressions)."""
    from top_secret_spark.operators.dedup import verify_pairs_levenshtein

    texts, pairs = _lev_fixture(spark)
    out = verify_pairs_levenshtein(
        pairs, texts, id_col="tid", text_col="transcript", max_edits=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


# --- OOV-rate gate ----------------------------------------------------------------


_OOV_ROWS = [
    (0, "alpha bravo charlie delta"),        # 0/4 OOV
    (1, "alpha bravo zz1 zz2"),              # 2/4
    (2, "zz1 zz2 zz3 zz4"),                  # 4/4
    (3, ""),                                 # empty -> NULL rate
    (4, "  ALPHA   Bravo  "),                # case/whitespace -> 0.0
]
_OOV_LEX = ["alpha", "bravo", "charlie", "delta", "echo"]


def _oov_expected():
    return {0: 0.0, 1: 0.5, 2: 1.0, 3: None, 4: 0.0}


def test_oov_rate_literal_path(spark):
    from top_secret_spark.operators.text_analysis import with_oov_rate

    df = spark.createDataFrame(_OOV_ROWS, ["clip_id", "transcript"])
    out = with_oov_rate(df, lexicon=_OOV_LEX)
    got = {r["clip_id"]: r["oov_rate"] for r in out.collect()}
    assert got == _oov_expected()


def test_oov_rate_join_path_matches_literal(spark):
    """Forcing the broadcast-join shape (max_literal=0) must give the
    identical rates, including the NULL for the never-exploded empty
    transcript re-attached by the left join."""
    from top_secret_spark.operators.text_analysis import with_oov_rate

    df = spark.createDataFrame(_OOV_ROWS, ["clip_id", "transcript"])
    out = with_oov_rate(df, lexicon=_OOV_LEX, max_literal=0)
    got = {r["clip_id"]: r["oov_rate"] for r in out.collect()}
    assert got == _oov_expected()


def test_oov_rate_literal_plan_has_no_python_or_exchange(spark):
    from top_secret_spark.operators.text_analysis import with_oov_rate

    df = spark.createDataFrame(_OOV_ROWS, ["clip_id", "transcript"])
    out = with_oov_rate(df, lexicon=_OOV_LEX)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_oov_reason_col_gate(spark):
    from top_secret_spark.operators.text_analysis import (
        oov_reason_col,
        with_oov_rate,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(_OOV_ROWS, ["clip_id", "transcript"])
    out = with_oov_rate(df, lexicon=_OOV_LEX).withColumn(
        "reason", oov_reason_col(max_oov=0.3)
    )
    got = {r["clip_id"]: r["reason"] for r in out.collect()}
    # NULL rate (empty transcript) keeps — the length gate owns it
    assert got == {0: None, 1: "oov", 2: "oov", 3: None, 4: None}


def test_oov_rate_requires_lexicon(spark):
    import pytest

    from top_secret_spark.operators.text_analysis import with_oov_rate

    df = spark.createDataFrame(_OOV_ROWS, ["clip_id", "transcript"])
    with pytest.raises(ValueError, match="lexicon"):
        with_oov_rate(df)


# --- compressibility gate -----------------------------------------------------


def test_compression_ratio_regimes(spark):
    from top_secret_spark.operators.text_analysis import (
        compression_reason_col,
        with_compression_ratio,
    )
    from pyspark.sql import functions as F

    para = ("natural language sits between the two failure regimes and "
            "keeps its ratio in the calibrated band for document scale ")
    rows = [
        (0, (para * 10)[:600]),
        (1, "ab " * 200),
        (2, "k9Qx" * 2),        # short: header-dominated, high ratio
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "transcript"])
    out = with_compression_ratio(df).withColumn(
        "reason", compression_reason_col(min_ratio=0.1, max_ratio=0.6)
    )
    got = {r["doc_id"]: (r["comp_ratio"], r["reason"]) for r in out.collect()}
    assert 0.1 < got[0][0] < 0.6 and got[0][1] is None
    assert got[1][0] < 0.1 and got[1][1] == "repetitive"
    assert got[2][0] > 0.6 and got[2][1] == "incompressible"
    assert got[3] == (None, None) and got[4] == (None, None)


def test_compression_ratio_matches_local_zlib(spark):
    import zlib

    from top_secret_spark.operators.text_analysis import (
        with_compression_ratio,
    )

    texts = ["alpha bravo " * 30, "x", "0123456789" * 50]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "transcript"]
    )
    got = {r["doc_id"]: r["comp_ratio"]
           for r in with_compression_ratio(df).collect()}
    for i, t in enumerate(texts):
        b = t.encode()
        assert abs(got[i] - len(zlib.compress(b, 6)) / len(b)) < 1e-12


def test_oov_rate_accepts_generator_lexicon(spark):
    """Regression: a single-pass iterable must not be exhausted by the
    size probe and silently read as an empty lexicon."""
    from top_secret_spark.operators.text_analysis import with_oov_rate

    df = spark.createDataFrame(_OOV_ROWS, ["clip_id", "transcript"])
    out = with_oov_rate(df, lexicon=(w for w in _OOV_LEX))
    got = {r["clip_id"]: r["oov_rate"] for r in out.collect()}
    assert got == _oov_expected()


# --- text chunking + hard negatives ----------------------------------------------


def test_chunk_text_reassembles_and_overlaps(spark):
    from pyspark.sql import functions as F

    from top_secret_spark.operators.text_analysis import chunk_text

    text = "".join(chr(97 + i % 26) for i in range(100))
    df = spark.createDataFrame(
        [(0, text), (1, "short"), (2, ""), (3, None)], ["doc_id", "text"]
    )
    out = chunk_text(df, max_chars=40, overlap_chars=10)
    rows = sorted(
        [(r["doc_id"], r["chunk_idx"], r["chunk_text"]) for r in out.collect()]
    )
    doc0 = [t for d, i, t in rows if d == 0]
    # stride 30: chunks [0:40], [30:70], [60:100]
    assert doc0 == [text[0:40], text[30:70], text[60:100]]
    # overlap region is carried in BOTH neighbours
    assert doc0[0][-10:] == doc0[1][:10]
    # de-overlapped reassembly equals the original
    assert doc0[0] + doc0[1][10:] + doc0[2][10:] == text
    assert [t for d, i, t in rows if d == 1] == ["short"]
    assert [t for d, i, t in rows if d == 2] == [""]
    assert [t for d, i, t in rows if d == 3] == [""]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan


def test_chunk_text_validation(spark):
    import pytest

    from top_secret_spark.operators.text_analysis import chunk_text

    df = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="max_chars"):
        chunk_text(df, max_chars=0)
    with pytest.raises(ValueError, match="overlap_chars"):
        chunk_text(df, max_chars=10, overlap_chars=10)


def test_hard_negatives_band_and_exactness(spark):
    """The banded two-phase top-k must equal a local full ranking with
    the same band — including across many partitions (the truncation
    safety the band-before-topk ordering buys)."""
    import numpy as np

    from top_secret_spark.operators.similarity import hard_negatives

    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((200, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        ["vec_id", "embedding"],
    ).repartition(8)
    queries = [(0, [float(x) for x in vecs[0]])]
    got = [
        (r["vec_id"], r["rank"])
        for r in hard_negatives(
            df, queries, k=5, lo=0.2, hi=0.9
        ).orderBy("rank").collect()
    ]
    sims = vecs @ vecs[0]
    cand = [(i, s) for i, s in enumerate(sims) if 0.2 <= s < 0.9]
    cand.sort(key=lambda t: (-t[1], t[0]))
    assert got == [(i, r + 1) for r, (i, _) in enumerate(cand[:5])]
    # the anchor (sim 1.0) is outside the band
    assert all(i != 0 for i, _ in got)


def test_hard_negatives_rejects_bad_band(spark):
    import pytest

    from top_secret_spark.operators.similarity import hard_negatives

    df = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="band"):
        hard_negatives(df, [(0, [1.0, 0.0])], lo=0.9, hi=0.5)


def test_spoken_form_readout_and_plan(spark):
    from top_secret_spark.operators.text_analysis import with_spoken_form

    rows = [
        (0, "42% & 5 + 3 @ home"),
        (1, "no digits here"),
        (2, ""),
        (3, None),
        (4, "2026-08-19"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "transcript"])
    out = with_spoken_form(df)
    got = {r["doc_id"]: r["spoken"] for r in out.collect()}
    assert got[0] == "four two percent and five plus three at home"
    assert got[1] == "no digits here"
    assert got[2] == "" and got[3] == ""
    assert got[4] == "two zero two six - zero eight - one nine"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_hard_negatives_excludes_anchor_even_at_hi_one(spark):
    """hi=1.0 is a legal band, and the anchor must STILL never return:
    a normalized self-cosine can evaluate to 0.99999999... < 1.0, so
    exclusion is by id, not by the band."""
    import numpy as np

    from top_secret_spark.operators.similarity import hard_negatives

    rng = np.random.default_rng(31)
    vecs = rng.standard_normal((60, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        ["vec_id", "embedding"],
    ).repartition(6)
    queries = [(7, [float(x) for x in vecs[7]])]
    got = hard_negatives(df, queries, k=60, lo=-1.0, hi=1.0).collect()
    assert all(r["vec_id"] != 7 for r in got)
    assert len(got) == 59  # every non-anchor row is inside [-1, 1)
