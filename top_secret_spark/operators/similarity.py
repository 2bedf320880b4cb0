"""Similarity search over embedding columns (array<float>).

Three paths:
  * brute-force cosine top-k — the exact baseline: query vectors are
    broadcast (numpy matrix inside the UDF closure), each Arrow batch is
    one matmul, global top-k = per-partition top-k then a tiny final
    sort.  Scales linearly in corpus size with zero shuffle of vectors
    (only (query_id, vec_id, score) triples move).
  * LSH-bucketed ANN — random-hyperplane signatures (Charikar 2002):
    sign-bit sketches bucket the corpus; queries probe only their bucket
    (plus multi-probe neighbors), turning top-k into a bucket-local
    matmul.  The scale path when the corpus itself is 10^11 vectors.
  * IVF (inverted-file) ANN — deterministic k-means coarse quantizer;
    queries probe the nprobe nearest cells only.  With the index table
    partitioned by cell, the probe filter becomes partition pruning at
    the scan.

All are deterministic: hyperplanes/centroid training derive from fixed
seeds and id-ordered samples.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

def _normalize_rows(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def _partial_top_k(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int,
    id_col: str,
    emb_col: str,
    cell_col: str | None = None,
    allowed: np.ndarray | None = None,
    band: tuple[float, float] | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Per-PARTITION top-k (phase one of two-phase top-k): mapInPandas
    keeps a running (score, id) top-k per query across the partition's
    Arrow batches — one matmul per batch against the broadcast query
    matrix — and emits at most k × n_queries rows per partition.  The
    downstream global window then ranks ≤ k × n_partitions rows per
    query instead of the whole corpus — the exchange carries candidate
    triples, never the corpus.

    Ties are broken (score desc, id asc) HERE as well as in the final
    window, so per-partition truncation can never cut a row the global
    top-k would have kept.  Rows with null / wrong-width embeddings are
    masked out individually (one bad row must not drop its whole batch).

    ``cell_col`` + ``allowed`` (n_queries × n_cells bool) restrict each
    query to its OWN probe cells: pooled probing filters the scan, the
    mask keeps per-query semantics exact."""
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qraw = [q[0] for q in queries]  # original ids for self-exclusion
    qmat = _normalize_rows(np.array([q[1] for q in queries], dtype=np.float64))
    n_q, dim = qmat.shape
    id_type = df.schema[id_col].dataType.simpleString()
    out_ddl = f"query_id long, {id_col} {id_type}, score double"

    def part_topk(batches):
        top_s = [np.empty(0, dtype=np.float64) for _ in range(n_q)]
        top_i = [np.empty(0, dtype=object) for _ in range(n_q)]
        for pdf in batches:
            if not len(pdf):
                continue
            vals = pdf[emb_col].tolist()
            valid = np.array(
                [v is not None and len(v) == dim for v in vals], dtype=bool
            )
            if not valid.any():
                continue
            ids = pdf[id_col].to_numpy()[valid]
            mat = np.array(
                [vals[i] for i in np.flatnonzero(valid)], dtype=np.float64
            )
            sims = qmat @ _normalize_rows(mat).T  # (n_q, n_valid)
            if cell_col is not None:
                cells = pdf[cell_col].to_numpy()[valid].astype(np.int64)
                ok = (cells >= 0) & (cells < allowed.shape[1])
                mask = np.zeros((n_q, len(cells)), dtype=bool)
                mask[:, ok] = allowed[:, cells[ok]]
                sims = np.where(mask, sims, -np.inf)
            if exclude_self:
                # drop each anchor from its OWN candidate set by id —
                # relying on a cosine band's hi < 1.0 is FP-fragile
                # (a self-dot can evaluate to 0.9999999999999998)
                for qi in range(n_q):
                    sims[qi, ids == qraw[qi]] = -np.inf
            if band is not None:
                # similarity band [lo, hi): applied BEFORE the running
                # top-k so per-partition truncation cannot cut a row the
                # banded global top-k would keep (hard-negative mining —
                # the band excludes near-dups above hi and noise below lo)
                in_band = (sims >= band[0]) & (sims < band[1])
                sims = np.where(in_band, sims, -np.inf)
            for qi in range(n_q):
                s = np.concatenate([top_s[qi], sims[qi]])
                i = np.concatenate([top_i[qi], ids])
                keep = s > -np.inf
                s, i = s[keep], i[keep]
                if len(s) > k:
                    order = np.lexsort((i, -s))[:k]
                    s, i = s[order], i[order]
                top_s[qi], top_i[qi] = s, i
        qcol, icol, scol = [], [], []
        for qi in range(n_q):
            qcol.extend([int(qids[qi])] * len(top_s[qi]))
            icol.extend(top_i[qi].tolist())
            scol.extend(top_s[qi].tolist())
        if qcol:
            yield pd.DataFrame(
                {"query_id": qcol, id_col: icol, "score": scol}
            )

    cols = [id_col, emb_col] + ([cell_col] if cell_col else [])
    return df.select(*cols).mapInPandas(part_topk, out_ddl)


def _empty_topk(df: "DataFrame", id_col: str) -> "DataFrame":
    """Typed empty result for a top-k call with zero queries — the
    top-k of no queries is the empty set, not a numpy AxisError from
    stacking an empty query matrix."""
    id_type = df.schema[id_col].dataType.simpleString()
    return df.sparkSession.createDataFrame(
        [], f"query_id long, {id_col} {id_type}, score double, rank int"
    )


def brute_force_top_k(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    cell_col: str | None = None,
    allowed: np.ndarray | None = None,
    band: tuple[float, float] | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k per query → (query_id, vec_id, score, rank).

    Two-phase: per-partition running top-k inside a mapInPandas (phase
    one, ``_partial_top_k``) → global window over ≤ k × n_partitions
    candidates per query (phase two).  At 10^11 corpus rows the single
    exchange carries k × n_queries rows per partition — scalar triples,
    never vectors, never the corpus."""
    if not queries:
        return _empty_topk(df, id_col)
    scored = _partial_top_k(
        df, queries, k, id_col, emb_col, cell_col, allowed, band,
        exclude_self,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("score", F.round("score", 6))
    )


# --- LSH-bucketed ANN -----------------------------------------------------------


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim))


def make_lsh_bucket_udf(dim: int, n_bits: int = 16, seed: int = 42):
    """Random-hyperplane signature: embedding → int bucket (n_bits sign
    bits packed).  NULL / wrong-width embeddings get a NULL bucket —
    masked per row like ``_partial_top_k``, so one ragged vector can
    neither kill the batch (the old np.array over a ragged list raised
    "inhomogeneous shape") nor land in a real bucket: NULL never equals
    NULL in the bucket self-join, and probe IN-lists never match it, so
    poison rows fall out of the candidate space observably."""
    planes = _hyperplanes(dim, n_bits, seed)
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    @pandas_udf(T.LongType())
    def bucket(embs: pd.Series) -> pd.Series:
        vals = embs.tolist()
        n = len(vals)
        valid = np.fromiter(
            (v is not None and len(v) == dim for v in vals),
            dtype=bool, count=n,
        )
        out = pd.array([None] * n, dtype="Int64")
        if valid.any():
            mat = np.array(
                [vals[i] for i in np.flatnonzero(valid)], dtype=np.float64
            )
            # non-finite components (NaN/Inf) would hash to an arbitrary
            # REAL bucket and then score NaN against every bucket-mate —
            # and Spark orders NaN above every number, so a NaN cosine
            # would pass any >= threshold filter; poison them to NULL
            # here instead
            finite = np.isfinite(mat).all(axis=1)
            codes = (
                ((mat @ planes.T) > 0) @ weights
            ).astype(np.int64)
            keep = np.flatnonzero(valid)[finite]
            out[keep] = codes[finite]
        return pd.Series(out)

    return bucket


def with_lsh_bucket(
    df: DataFrame, dim: int, emb_col: str = "embedding", n_bits: int = 16
) -> DataFrame:
    return df.withColumn("lsh_bucket", make_lsh_bucket_udf(dim, n_bits)(F.col(emb_col)))


def ann_top_k(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    dim: int,
    k: int = 10,
    n_bits: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: probe only corpus rows whose LSH bucket is
    within `multiprobe` bit flips of the query's bucket, then exact
    cosine within the probed set.

    The bucket filter is a broadcast IN-list over the UNION of all
    queries' probe sets (pooled — one scan filter serves every query),
    but scoring masks each query down to its OWN probe buckets, so a
    query never returns hits from another query's probe set and results
    do not depend on which queries are co-batched."""
    if not queries:
        return _empty_topk(df, id_col)
    planes = _hyperplanes(dim, n_bits)
    weights = 1 << np.arange(n_bits, dtype=np.int64)

    def probes(vec) -> set[int]:
        bits = (np.array(vec, dtype=np.float64) @ planes.T) > 0
        base = int(bits @ weights)
        out = {base}
        if multiprobe >= 1:
            for i in range(n_bits):
                out.add(base ^ (1 << i))
        if multiprobe >= 2:
            for i in range(n_bits):
                for j in range(i + 1, n_bits):
                    out.add(base ^ (1 << i) ^ (1 << j))
        return out

    per_query = [probes(vec) for _, vec in queries]
    pooled = sorted(set().union(*per_query))
    allowed = np.zeros((len(queries), 1 << n_bits), dtype=bool)
    for qi, pset in enumerate(per_query):
        allowed[qi, sorted(pset)] = True

    bucketed = with_lsh_bucket(df, dim, emb_col, n_bits)
    probed = bucketed.filter(F.col("lsh_bucket").isin(*[int(b) for b in pooled]))
    return brute_force_top_k(
        probed, queries, k, id_col, emb_col,
        cell_col="lsh_bucket", allowed=allowed,
    )


# --- IVF (inverted-file) ANN ----------------------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic coarse quantizer: k-means on a fixed, id-ordered
    sample (first `sample` rows by id — reproducible across partitionings
    and cluster sizes, unlike rdd.takeSample).  Lloyd iterations run on
    the driver in numpy (sample is tiny); the resulting (n_cells, dim)
    matrix is broadcast inside UDF closures.  This is the index-build
    stage of IVF: at 10^11 vectors you train once on a sample and write
    `cell` as a partition column of the index table."""
    rows = (
        df.orderBy(id_col).limit(sample).select(emb_col).collect()
    )
    vecs = [r[0] for r in rows if r[0] is not None]
    if not vecs:
        # loud refusal like the LM fit's empty-fit raise: centroids
        # from nothing would silently misfile every future vector
        raise ValueError(
            "IVF training sample is empty: corpus has no non-NULL "
            "embeddings to train centroids on"
        )
    if any(len(v) != dim for v in vecs):
        raise ValueError(
            f"embedding width mismatch: expected dim={dim}, sample contains "
            f"widths {sorted({len(v) for v in vecs})}"
        )
    mat = np.array(vecs, dtype=np.float64)
    if not np.isfinite(mat).all():
        # same loud-refusal class as the width check: one NaN/Inf vector
        # in the sample turns a centroid all-NaN on the first Lloyd
        # iteration, then np.argmax (NaN-is-max) assigns EVERY vector to
        # that cell — silent recall collapse with no error downstream
        raise ValueError(
            "IVF training sample contains non-finite embedding "
            "components (NaN/Inf); filter or repair them before "
            "training centroids"
        )
    mat = _normalize_rows(mat)
    rng = np.random.default_rng(seed)
    cents = mat[rng.choice(len(mat), size=min(n_cells, len(mat)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(mat @ cents.T, axis=1)  # cosine on unit vectors
        for c in range(len(cents)):
            members = mat[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents = _normalize_rows(cents)
    return cents


def make_ivf_cell_udf(centroids: np.ndarray):
    """embedding → nearest-centroid cell id (one matmul per Arrow batch).

    Null / wrong-width embeddings get cell -1 (never probed) rather than
    poisoning the whole batch — one bad row must not silently misfile
    every valid vector in its Arrow batch."""
    dim = centroids.shape[1]

    @pandas_udf(T.IntegerType())
    def cell(embs: pd.Series) -> pd.Series:
        vals = embs.tolist()
        valid = np.array(
            [v is not None and len(v) == dim for v in vals], dtype=bool
        )
        out = np.full(len(vals), -1, dtype=np.int32)
        if valid.any():
            mat = np.array([vals[i] for i in np.flatnonzero(valid)], dtype=np.float64)
            sims = _normalize_rows(mat) @ centroids.T
            out[valid] = np.argmax(sims, axis=1).astype(np.int32)
        return pd.Series(out)

    return cell


def with_ivf_cell(
    df: DataFrame, centroids: np.ndarray, emb_col: str = "embedding"
) -> DataFrame:
    return df.withColumn("ivf_cell", make_ivf_cell_udf(centroids)(F.col(emb_col)))


def ivf_top_k(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: score only corpus rows whose cell is among each query's
    `nprobe` nearest centroids, exact cosine within the probed cells.

    The probed-cell set is a tiny broadcast IN-list filter ahead of the
    scoring UDF; with the index table partitioned by `ivf_cell`, that
    filter becomes partition PRUNING — the scan itself skips
    (n_cells - nprobe)/n_cells of the corpus, which is the entire point
    of IVF at 10^11 vectors.  The scan filter pools every query's probe
    cells (one pruned scan serves the batch), but scoring masks each
    query to its OWN nprobe cells, so results are identical whether a
    query runs alone or co-batched."""
    if not queries:
        return _empty_topk(df, id_col)
    allowed, probe = _probe_mask(queries, centroids, nprobe)
    celled = with_ivf_cell(df, centroids, emb_col)
    probed = celled.filter(F.col("ivf_cell").isin(*probe))
    return brute_force_top_k(
        probed, queries, k, id_col, emb_col,
        cell_col="ivf_cell", allowed=allowed,
    )


def _probe_mask(
    queries: list[tuple[int, list[float]]], centroids: np.ndarray, nprobe: int
) -> tuple[np.ndarray, list[int]]:
    qmat = _normalize_rows(np.array([q[1] for q in queries], dtype=np.float64))
    sims = qmat @ centroids.T
    allowed = np.zeros((len(queries), centroids.shape[0]), dtype=bool)
    for qi, row in enumerate(sims):
        allowed[qi, np.argsort(-row)[:nprobe]] = True
    return allowed, sorted(int(c) for c in np.flatnonzero(allowed.any(axis=0)))


def write_ivf_index(
    df: DataFrame,
    centroids: np.ndarray,
    path: str,
    emb_col: str = "embedding",
) -> None:
    """Materialize the IVF index: the corpus written as parquet
    PARTITIONED BY ivf_cell.  This is the step that turns the probe
    filter into physical partition PRUNING — a subsequent
    ``ivf_top_k_indexed`` scan lists only the probed cell directories
    and never opens the other (n_cells - nprobe)/n_cells of the data.
    At 10^11 vectors this is the difference between scanning ~25% and
    100% of the corpus per query batch.  Cell assignment runs once at
    index-build time; queries pay zero assignment cost."""
    (
        with_ivf_cell(df, centroids, emb_col)
        .repartition("ivf_cell")
        .write.partitionBy("ivf_cell")
        .mode("overwrite")
        .parquet(path)
    )


def ivf_top_k_indexed(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over a ``write_ivf_index`` table: the probe filter is on
    the PARTITION column, so Spark's file index prunes non-probed cell
    directories at planning time (verify with ``.inputFiles()`` — only
    ``ivf_cell=<probed>`` paths appear).  Scoring carries the same
    per-query cell masks as ``ivf_top_k``, so results are identical to
    the unindexed path on the same data."""
    df = spark.read.parquet(path)
    if not queries:
        return _empty_topk(df, id_col)
    allowed, probe = _probe_mask(queries, centroids, nprobe)
    probed = df.filter(F.col("ivf_cell").isin(*probe))
    return brute_force_top_k(
        probed, queries, k, id_col, emb_col,
        cell_col="ivf_cell", allowed=allowed,
    )


# --- text-native embeddings -------------------------------------------------------


def make_text_embedding_udf(dim: int = 64, orders=(3, 4, 5)):
    """text → array<float> hashed char-n-gram embedding (kernel
    ``embed_texts``): one encode + hash + bincount pass per Arrow
    batch.  Deterministic across partitions/retries, so embeddings are
    stable join keys for downstream near-dup / ANN."""

    @pandas_udf(T.ArrayType(T.FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        from ..kernel.hashing import embed_texts

        vecs = embed_texts(texts.tolist(), dim, orders)
        return pd.Series(list(vecs))

    return embed


def with_text_embedding(
    df: DataFrame,
    text_col: str = "text",
    dim: int = 64,
    orders=(3, 4, 5),
    out_col: str = "embedding",
) -> DataFrame:
    """Corpus-native embeddings: every similarity/ANN operator in this
    module (and ``embedding_near_duplicates``) can now run end-to-end
    from raw text — semantic-ish dedup of a corpus that arrives WITHOUT
    a precomputed embedding table.  Map-only (no shuffle); at 100 TB
    this is one ArrowEvalPython stage fused over the scan."""
    return df.withColumn(
        out_col, make_text_embedding_udf(dim, orders)(F.col(text_col))
    )


def hard_negatives(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 1,
    lo: float = 0.3,
    hi: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-similar corpus vectors whose cosine lies in [lo, hi) —
    similar enough to be informative, below the near-duplicate
    threshold so the "negative" is not secretly a positive (the
    classic failure of random negatives on deduplicated-but-not-
    perfectly corpora).  The anchor itself is excluded BY ID (its
    query_id vs the corpus id column) before scoring — relying on
    ``hi < 1.0`` alone is floating-point-fragile, since a normalized
    self-cosine can evaluate to 0.9999999999999998 < 1.0 and leak the
    anchor back as its own rank-1 "hard negative".

    Exact and scalable: the same two-phase top-k as
    ``brute_force_top_k`` with the band applied BEFORE the running
    per-partition top-k (so truncation can never cut a row the banded
    global ranking would keep); the one exchange carries
    <= k x n_partitions scalar triples per query, never vectors."""
    if not lo < hi <= 1.0 + 1e-9:
        raise ValueError(f"band must satisfy lo < hi <= 1.0, got [{lo}, {hi})")
    return brute_force_top_k(
        df, queries, k, id_col, emb_col, band=(float(lo), float(hi)),
        exclude_self=True,
    )
