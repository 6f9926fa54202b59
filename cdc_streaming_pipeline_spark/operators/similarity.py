"""Similarity search over embedding columns (array<float>).

Three paths:

- brute-force cosine top-k (exact): the query set — small by contract —
  is collected and broadcast as a normalized numpy matrix; the corpus is
  scanned once with ``mapInPandas`` doing an Arrow-batched GEMM
  (batch × queries) and emitting per-batch top-k candidates; a tiny global
  window pass finishes the ranking. The corpus never shuffles and never
  reaches the driver — linear in corpus size at any scale.
- exact cosine near-dup pairs: the correctness BASELINE. One side is
  collected/broadcast, so it is bounded to corpora that fit a broadcast
  (~1e6 × small dim); the registered scale path is the LSH variant below.
- LSH (random hyperplanes): sign-bit bucket keys per table; candidates =
  bucket collisions; exact cosine re-rank/verify. Fully distributed —
  the 100 TB path for both top-k and near-dup.

Recall math for hyperplane LSH (used to pick defaults): a pair at angle
θ collides in one table with p = (1 - θ/π)^n_bits; recall after L tables
is 1 - (1-p)^L. With n_bits=4, L=16: cosine 0.95 → recall ≈ 1-5e-8;
cosine 0.4 → ≈ 0.94. Raise n_bits (sparser buckets, cheaper join) when
only high-similarity pairs matter. Recall is measured against the exact
baselines in tests/test_similarity_recall.py.

Hyperplanes come from a fixed numpy seed → fully deterministic.
"""

from __future__ import annotations

import math
import warnings
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_streaming_pipeline_spark.functions.vector import cosine_pd
from cdc_streaming_pipeline_spark.sources.tables import fan_out, keep


def _normalized_matrix(rows: list, dtype=np.float64) -> tuple[np.ndarray, np.ndarray]:
    """(ids, row-normalized matrix) from collected (id, vector) rows."""
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=dtype)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    return ids, mat / norms[:, None]


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    The query matrix is broadcast; each Arrow batch of the corpus computes
    its similarities in one numpy GEMM and yields only its local top-k per
    query (selection order (cosine desc, id asc) is total, so the global
    top-k is contained in the union of per-batch top-k). The final window
    ranks n_queries × k × n_batches rows — negligible.
    """
    spark = corpus.sparkSession
    q_ids, q_mat = _normalized_matrix(queries.select(id_col, vec_col).collect())
    bc = spark.sparkContext.broadcast((q_ids, q_mat))
    take = k + (1 if exclude_self else 0)

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, mat_q = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids_c = pdf[id_col].to_numpy(dtype=np.int64)
            mat_c = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat_c, axis=1)
            norms[norms == 0.0] = 1.0
            sims = np.round((mat_c / norms[:, None]) @ mat_q.T, 4)  # (batch, nq)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(ids_q):
                col = sims[:, j]
                order = np.lexsort((ids_c, -col))[:take]
                out_q.extend([qid] * len(order))
                out_n.extend(ids_c[order])
                out_s.extend(col[order])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cosine": out_s})

    cand = corpus.select(id_col, vec_col).mapInPandas(
        per_batch, "query_id long, neighbor_id long, cosine double"
    )
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def cosine_near_dup_exact(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-dup pairs (cosine ≥ threshold, id_a < id_b).

    The correctness baseline the LSH variant is measured against: the full
    (normalized) matrix is broadcast and each Arrow batch GEMMs against it.
    All pairs are examined — use only where one broadcast side fits memory;
    ``cosine_near_dup_lsh`` is the registered scale path.
    """
    spark = df.sparkSession
    ids_all, mat_all = _normalized_matrix(df.select(id_col, vec_col).collect())
    bc = spark.sparkContext.broadcast((ids_all, mat_all))

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_r, mat_r = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids_l = pdf[id_col].to_numpy(dtype=np.int64)
            mat_l = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat_l, axis=1)
            norms[norms == 0.0] = 1.0
            sims = np.round((mat_l / norms[:, None]) @ mat_r.T, 4)
            li, ri = np.nonzero((sims >= threshold) & (ids_l[:, None] < ids_r[None, :]))
            yield pd.DataFrame(
                {"id_a": ids_l[li], "id_b": ids_r[ri], "cosine": sims[li, ri]}
            )

    return df.select(id_col, vec_col).mapInPandas(
        per_batch, "id_a long, id_b long, cosine double"
    )


def cosine_near_dup_blocked(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """EXACT all-pairs cosine near-dup, fully distributed (no driver
    broadcast of the matrix) — the registered primary when the threshold is
    unselective (a large fraction of pairs are candidates, so LSH bucketing
    cannot prune; e.g. the driver embeddings where 0.4 ≈ p99.95).

    Block matrix product: rows hash into B blocks; block i is shipped to
    every pair-group (i,j) i≤j as the LEFT side and (j,i) j≤i as the RIGHT
    side, so each of the B(B+1)/2 groups GEMMs one block pair and each
    unordered row pair is examined in EXACTLY ONE group (diagonal groups
    mask id_a < id_b; off-diagonal pairs meet only in their one (i,j)
    group) — no dropDuplicates pass afterwards. Shuffle volume is (B+1)×
    input; flops are the irreducible n²d/2. Choose B ≈ sqrt(2 × desired
    tasks): compute per group shrinks as 1/B² while replication grows
    linearly, so at 100 TB-scale corpora B in the low hundreds keeps group
    GEMMs cache-sized at ~10⁴× parallelism for ~10²× shuffle.
    """
    spark = df.sparkSession
    if n_blocks is None:
        n_blocks = max(4, spark.sparkContext.defaultParallelism // 2)
    B = n_blocks
    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(B)).cast("int"))
    left = base.select(
        F.col("blk").alias("pi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("pj"),
        "_id",
        "_vec",
        F.lit(0).alias("side"),
    )
    right = base.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("pi"),
        F.col("blk").alias("pj"),
        "_id",
        "_vec",
        F.lit(1).alias("side"),
    )

    def gemm(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pi, pj = key
        lp = pdf[pdf["side"] == 0]
        rp = pdf[pdf["side"] == 1]
        if lp.empty or rp.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "cosine": np.float64}
            )
        ids_l = lp["_id"].to_numpy(dtype=np.int64)
        ids_r = rp["_id"].to_numpy(dtype=np.int64)
        mat_l = np.array(lp["_vec"].tolist(), dtype=np.float64)
        mat_r = np.array(rp["_vec"].tolist(), dtype=np.float64)
        for m in (mat_l, mat_r):
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0.0] = 1.0
            m /= norms[:, None]
        sims = np.round(mat_l @ mat_r.T, 4)
        mask = sims >= threshold
        if pi == pj:
            mask &= ids_l[:, None] < ids_r[None, :]
        li, ri = np.nonzero(mask)
        ia, ib = ids_l[li], ids_r[ri]
        return pd.DataFrame(
            {"id_a": np.minimum(ia, ib), "id_b": np.maximum(ia, ib), "cosine": sims[li, ri]}
        )

    return (
        left.unionByName(right)
        .groupBy("pi", "pj")
        .applyInPandas(gemm, "id_a long, id_b long, cosine double")
    )


def _hyperplanes(dim: int, n_bits: int, n_tables: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_bits, dim))


def _auto_lsh_params(threshold: float, target_recall: float = 0.98, max_tables: int = 24) -> tuple[int, int]:
    """(n_bits, n_tables) from the hyperplane collision formula.

    A pair at angle θ collides in one b-bit table with p₁ = (1-θ/π)^b;
    recall after L tables is 1-(1-p₁)^L. Pick the LARGEST b whose required
    L = ⌈ln(1-target)/ln(1-p₁)⌉ fits max_tables: more bits → exponentially
    sparser buckets (random-pair collision 2⁻ᵇ per table) for only linear
    extra tables, so selective thresholds get 16-20 bits while unselective
    ones (θ→π/2) fall back to 4. Guarantees recall ≥ target AT the
    threshold WHEN a configuration fits max_tables; pairs above the
    threshold collide strictly more often. For thresholds so unselective
    that even 4 bits can't reach the target within max_tables (θ near π/2,
    e.g. threshold ≈ 0), it falls back to (4, max_tables) and WARNS —
    best-effort recall, and a regime where bucketing can't prune anyway,
    so prefer the exact blocked-GEMM operator there.
    """
    p_bit = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    for b in (20, 16, 12, 10, 8, 6, 4):
        p1 = p_bit**b
        if not 0.0 < p1 < 1.0:
            continue
        n_tables = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p1))
        if n_tables <= max_tables:
            return b, max(1, n_tables)
    warnings.warn(
        f"_auto_lsh_params: no (n_bits, n_tables<={max_tables}) reaches "
        f"recall {target_recall} at threshold {threshold}; falling back to "
        f"(4, {max_tables}) with LOWER-than-target recall. This regime "
        "(unselective threshold) cannot be pruned by LSH — consider "
        "cosine_near_dup_blocked (exact, distributed) instead.",
        stacklevel=2,
    )
    return 4, max_tables


def _probe_dim(df: DataFrame, vec_col: str) -> int | None:
    first = df.select(vec_col).first()
    return None if first is None else len(first[0])


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_bits: int = 4,
    n_tables: int = 24,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH collision filter + exact
    cosine re-rank, in ONE corpus scan.

    The query side — small by contract, exactly like ``brute_force_topk`` —
    is collected, normalized, and pre-hashed into its L per-table bucket
    keys; (ids, matrix, keys) broadcast together. Each Arrow batch of the
    corpus then: (1) computes its own bucket keys with one hyperplane GEMM,
    (2) builds the collision mask against the query keys (a pair is a
    candidate iff it shares a bucket in ANY table — identical candidate
    semantics to a (tbl, key) bucket join), (3) scores ONLY candidates
    (pairwise einsum when collisions are sparse, masked GEMM when dense —
    crossover at 25% density, where gather overhead beats wasted flops),
    and (4) emits its local top-k per query. A tiny global window finishes
    the ranking over n_queries × k × n_batches rows.

    Nothing shuffles and nothing returns to the driver but the result:
    this replaces the previous bucket-join form (corpus hashed L× into an
    exploded frame, joined, dropDuplicates at candidate granularity, two
    vector re-attach joins) which measured 5× SLOWER than brute force at
    sf0.1 — all of it Spark-side candidate plumbing, none of it scoring.
    When the query side is too large to broadcast, hash BOTH sides and use
    the per-bucket-GEMM pattern of ``cosine_near_dup_lsh`` instead.

    Defaults are tuned for the hard regime where top-k neighbors sit at
    cosine ~0.25-0.5 (near-orthogonal corpora like the driver testdata):
    recall@5 vs brute force is asserted in tests/test_similarity_recall.py.
    In that regime candidate volume is necessarily ~O(n) per query — no
    sublinear ANN exists without cluster structure. On realistically
    clustered embeddings (neighbors at cosine ≥0.8) raise n_bits to 8-16:
    buckets sharpen and the candidate set collapses to near-k.

    ``dim`` defaults to the corpus's actual vector length (one-row probe);
    a wrong dim would break the hyperplane shapes, so the probe keeps the
    plane matrix honest.
    """
    if dim is None:
        dim = _probe_dim(corpus, vec_col)
        if dim is None:
            return brute_force_topk(corpus, queries, k, id_col, vec_col, exclude_self)
    spark = corpus.sparkSession
    planes = _hyperplanes(dim, n_bits, n_tables, seed)
    plane_mat = planes.reshape(n_tables * n_bits, -1)  # (L*B, D)
    weights = 1 << np.arange(n_bits, dtype=np.int64)
    q_ids, q_mat = _normalized_matrix(queries.select(id_col, vec_col).collect())
    # sign bits are scale-invariant: keys from normalized vectors == keys
    # from raw vectors, so corpus and query sides hash consistently.
    q_bits = (q_mat @ plane_mat.T) > 0
    q_keys = q_bits.reshape(len(q_ids), n_tables, n_bits) @ weights  # (nq, L)
    bc = spark.sparkContext.broadcast((plane_mat, weights, q_ids, q_mat, q_keys))
    take = k + (1 if exclude_self else 0)

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pmat, w8, ids_q, mat_q, keys_q = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids_c = pdf[id_col].to_numpy(dtype=np.int64)
            mat_c = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat_c, axis=1)
            norms[norms == 0.0] = 1.0
            mat_c /= norms[:, None]
            bits = (mat_c @ pmat.T) > 0
            keys_c = bits.reshape(len(ids_c), n_tables, n_bits) @ w8  # (n, L)
            collide = (keys_c[:, None, :] == keys_q[None, :, :]).any(-1)  # (n, nq)
            if not collide.any():
                continue
            sims = np.full(collide.shape, -np.inf)
            if collide.mean() > 0.25:  # dense: one GEMM beats gathering
                full = mat_c @ mat_q.T
                sims[collide] = full[collide]
            else:  # sparse: score only the colliding pairs
                ci, qi = np.nonzero(collide)
                sims[ci, qi] = np.einsum("ij,ij->i", mat_c[ci], mat_q[qi])
            sims = np.round(sims, 4)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(ids_q):
                col = sims[:, j]
                valid = np.nonzero(collide[:, j])[0]
                if valid.size == 0:
                    continue
                order = valid[np.lexsort((ids_c[valid], -col[valid]))[:take]]
                out_q.extend([qid] * len(order))
                out_n.extend(ids_c[order])
                out_s.extend(col[order])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cosine": out_s})

    cand = corpus.select(id_col, vec_col).mapInPandas(
        per_batch, "query_id long, neighbor_id long, cosine double"
    )
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def cosine_near_dup_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_bits: int | None = None,
    n_tables: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine via hyperplane LSH — the
    scale path for SELECTIVE thresholds (true pairs rare; buckets prune).

    Plan shape: each vector is hashed into L sign-bit bucket tables (the
    vectors travel WITH their bucket key — an L× replication of the input,
    not an all-pairs shuffle); each (table, bucket) group GEMMs its members
    locally and emits only pairs whose EXACT cosine clears the threshold;
    one final distinct removes pairs caught by several tables. So there are
    NO false positives, the per-pair verification never leaves the bucket
    task, and nothing shuffles at candidate-pair granularity — the old
    design's distinct-then-reattach-vectors joins (≈candidate_count × dim
    doubles of shuffle) are gone. Recall follows ``_auto_lsh_params``'s
    formula (≥0.98 at the threshold by construction) and is asserted vs the
    exact baseline in tests/test_similarity_recall.py.

    Skew: a bucket holding k rows costs k²d flops in one task. Buckets are
    ~2⁻ᵇ of rows for near-orthogonal data; if a corpus has a giant
    near-duplicate cluster, raise ``n_bits`` (sharper buckets) — the
    adaptive default already picks 16-20 bits for thresholds ≥0.9.
    """
    if dim is None:
        dim = _probe_dim(df, vec_col)
        if dim is None:
            return cosine_near_dup_exact(df, threshold, id_col, vec_col)
    if n_bits is None or n_tables is None:
        auto_b, auto_l = _auto_lsh_params(threshold)
        n_bits = n_bits if n_bits is not None else auto_b
        n_tables = n_tables if n_tables is not None else auto_l
    planes = _hyperplanes(dim, n_bits, n_tables, seed)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(planes)
    n_t, n_b, _ = planes.shape

    # One Arrow pass computes ALL L×b hyperplane dots per batch as a single
    # GEMM and emits the exploded (id, table, key, vec) rows directly.
    # (Emitting an array<long> keys column and exploding JVM-side measures
    # WORSE here: a Generate stage over ArrowEvalPython output costs seconds
    # of fixed per-stage overhead, while the extra Arrow payload of carrying
    # the vector through this map is linear and small.)
    def keys_with_vec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        plane_mat = bc.value.reshape(n_t * n_b, -1)
        weights = 1 << np.arange(n_b, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["_vec"].tolist(), dtype=np.float64)
            bits = (mat @ plane_mat.T) > 0
            per_table = bits.reshape(len(ids), n_t, n_b) @ weights
            yield pd.DataFrame(
                {
                    "_id": np.repeat(ids, n_t),
                    "tbl": np.tile(np.arange(n_t, dtype=np.int32), len(ids)),
                    "key": per_table.reshape(-1),
                    "_vec": np.repeat(pdf["_vec"].to_numpy(), n_t),
                }
            )

    bucketed = (
        fan_out(df)
        .select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_vec"))
        .mapInPandas(keys_with_vec, "_id long, tbl int, key long, _vec array<double>")
    )

    def bucket_gemm(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "cosine": np.float64}
            )
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        mat = np.array(pdf["_vec"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        mat /= norms[:, None]
        sims = np.round(mat @ mat.T, 4)
        li, ri = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"id_a": ids[li], "id_b": ids[ri], "cosine": sims[li, ri]})

    return (
        bucketed.groupBy("tbl", "key")
        .applyInPandas(bucket_gemm, "id_a long, id_b long, cosine double")
        .dropDuplicates(["id_a", "id_b"])
    )


def dimension_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension corpus statistics (mean / sample-stddev / min / max) —
    the feature-scaling pre-pass for quantization, whitening, and drift
    monitoring over an embedding column.

    Plan: posexplode multiplies rows × d, but partial aggregation collapses
    each task's output to d rows before the (d-row) shuffle — the scan
    dominates, the shuffle is constant-size regardless of corpus size.
    """
    exploded = df.select(
        F.posexplode(F.col(vec_col)).alias("dim", "x")
    ).select("dim", F.col("x").cast("double").alias("x"))
    return (
        exploded.groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("x"), 4).alias("mean"),
            F.round(F.stddev_samp("x"), 4).alias("stddev"),
            F.round(F.min("x"), 4).alias("min_val"),
            F.round(F.max("x"), 4).alias("max_val"),
        )
        .orderBy("dim")
    )


def pq_fit(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 8,
    seed: int = 42,
    stats: dict | None = None,
) -> np.ndarray:
    """Product-quantization codebooks: split the dimension into ``m``
    subspaces and k-means each on a bounded deterministic sample — the
    embedding-STORAGE scale path (64 float32 dims → m bytes: 32× smaller,
    scan-able entirely in memory at corpus sizes where raw vectors
    aren't). Returns (m, ks, sub_dim) codebooks. The fit is driver-side
    numpy on ≤32k sampled rows (the same bound as cluster.kmeans_fit);
    training cost is independent of corpus size."""
    from cdc_streaming_pipeline_spark.operators.sampling import md5_bucket

    sample = (
        df.withColumn("_b", md5_bucket(F.col(id_col), 1 << 16))
        .orderBy("_b", id_col)
        .limit(32768)
        .select(vec_col)
        .collect()
    )
    mat = np.array([r[0] for r in sample], dtype=np.float64)
    n, dim = mat.shape
    if stats is not None:
        # a FULL sample means the corpus is at least sample-sized — the
        # caller's cheap scale signal (ivf_pq_topk's fan-out gate)
        stats["sample_rows"] = n
    assert dim % m == 0, (dim, m)
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ks, sub))
    for j in range(m):
        x = mat[:, j * sub : (j + 1) * sub]
        cent = x[rng.choice(n, size=ks, replace=False)]
        for _ in range(iters):
            d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for c in range(ks):
                mask = assign == c
                if mask.any():
                    cent[c] = x[mask].mean(0)
        books[j] = cent
    return books


def pq_assign(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector against broadcast codebooks: one corpus scan,
    per-batch vectorized nearest-code search per subspace, emitting the
    code word and the exact reconstruction squared error. Returns
    (id_col, codes array<int>, recon_sq_err)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        m, ks, sub = books.shape
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(np.int64)
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(ids), m), dtype=np.int32)
            err = np.zeros(len(ids))
            for j in range(m):
                x = mat[:, j * sub : (j + 1) * sub]
                d = ((x[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d.argmin(1)
                err += d[np.arange(len(ids)), codes[:, j]]
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "codes": list(codes),
                    "recon_sq_err": np.round(err, 6),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, codes array<int>, recon_sq_err double"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_self: bool = True,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """ANN over PQ codes with asymmetric distance (ADC): queries keep
    their full vectors; the corpus is scanned as m-byte codes. Per query,
    one (m × ks) distance table against the codebooks turns scoring a
    candidate into m table lookups + adds — no corpus-side floats ever
    load, which is the whole 100 TB pitch (the coded corpus is 32×
    smaller than raw vectors and typically memory-resident).

    One coded-corpus scan: each Arrow batch gathers ADC distances for
    ALL queries via vectorized table lookups and emits its local top-k;
    a tiny global window finishes. Queries (small by contract) collect +
    broadcast, same as the LSH/IVF paths."""
    spark = corpus.sparkSession
    if codebooks is None:
        codebooks = pq_fit(corpus, m=m, ks=ks, vec_col=vec_col, id_col=id_col)
    coded = pq_assign(corpus, codebooks, vec_col=vec_col, id_col=id_col)
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    mm, ks_, sub = codebooks.shape
    # (nq, m, ks) distance tables: query-to-codeword squared distances
    tables = np.stack(
        [
            ((codebooks[j][None, :, :] - q_mat[:, None, j * sub : (j + 1) * sub]) ** 2).sum(-1)
            for j in range(mm)
        ],
        axis=1,
    )
    bc = spark.sparkContext.broadcast((q_ids, tables))
    take = k + (1 if exclude_self else 0)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, tabs = bc.value  # tabs: (nq, m, ks)
        for pdf in batches:
            if pdf.empty:
                continue
            ids_c = pdf[id_col].to_numpy(np.int64)
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
            # ADC distance of every row to every query: gather per
            # subspace then sum — (nq, n)
            d = np.zeros((len(ids_q), len(ids_c)))
            for j in range(codes.shape[1]):
                d += tabs[:, j, :][:, codes[:, j]]
            d = np.round(d, 6)
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(ids_q):
                order = np.lexsort((ids_c, d[qi]))[:take]
                out_q.extend([qid] * len(order))
                out_n.extend(ids_c[order])
                out_s.extend(d[qi][order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adc_dist": out_s}
            )

    cand = coded.mapInPandas(score, "query_id long, neighbor_id long, adc_dist double")
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
    )


def auto_probe_mask(
    sims: "np.ndarray", sim_hi: float = 0.75, sim_lo: float = 0.5
) -> "np.ndarray":
    """Per-query probe-cell mask from query↔centroid cosines (unit
    space) — the recall-targeted probe policy behind
    ``ivf_pq_topk(n_probe="auto")``.

    The statistic is the query's BEST centroid cosine: on a genuinely
    clustered corpus a query sits inside a tight cell (best ≈ 0.9+) and
    routing is informative, so probing 1-2 cells keeps recall; on a
    near-orthogonal corpus the best centroid is barely better than
    chance (measured 0.29-0.48 on the recall-gate worst case, vs ~0 for
    the rest) and the true neighbors' cells are uncorrelated with the
    query's — no margin rule over the SHAPE of the profile can see
    them, so the absolute level is the honest signal. Documented
    mapping: best ≥ ``sim_hi`` → probe top-2; best ≤ ``sim_lo`` →
    probe ALL cells (routing is worthless there and the PQ codes still
    bound per-row cost to m byte-lookups — giving up selectivity that
    does not exist is the correct spend); linear in between. A
    multiplicative d²-margin rule was tried first and REJECTED on
    measurement: the query's own cell is genuinely closest even on the
    worst case (it contains the query), so the margin looks
    'concentrated' exactly where probing everything is required
    (recall 0.36 vs the fixed-8's 0.84)."""
    nq, n_cells = sims.shape
    best = sims.max(axis=1)
    frac = np.clip((sim_hi - best) / max(sim_hi - sim_lo, 1e-9), 0.0, 1.0)
    n_min = min(2, n_cells)
    counts = np.ceil(n_min + frac * (n_cells - n_min)).astype(int)
    order = np.argsort(-sims, axis=1)
    mask = np.zeros((nq, n_cells), dtype=bool)
    for i in range(nq):
        mask[i, order[i, : counts[i]]] = True
    return mask


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int | str = 8,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_self: bool = True,
    n_rerank: int = 50,
    probe_sim_hi: float = 0.75,
    probe_sim_lo: float = 0.5,
    fit_memo: dict | None = None,
) -> DataFrame:
    """IVF-PQ — the production ANN composition (FAISS ``IVFx,PQy``):
    IVF routing bounds WHICH rows each query scores (n_probe/n_clusters
    of the corpus on balanced cells) while PQ codes bound WHAT a scored
    row costs (m one-byte lookups, never a raw vector load). The two
    strategies exist separately here (``cluster.ivf_topk``,
    ``pq_topk``); composed, the serving scan touches neither raw floats
    nor non-probed rows — at 100 TB the coded corpus is 32× smaller
    than the embeddings AND cell-partition-prunable (pair with
    ``cluster.write_ivf_index`` to skip non-probed bytes entirely).

    Everything lives in normalized space: spherical-k-means centroids,
    codebooks fit on unit vectors, ADC = squared L2 on unit vectors
    (monotone with cosine: d² = 2 − 2·cos). Index build is ONE corpus
    scan emitting (id, cell, m-byte codes); serving is one coded scan
    with the same sparse/dense gather crossover as ``ivf_topk``.

    ``n_rerank > 0`` adds the standard EXACT RE-RANK stage (FAISS
    refine): the ADC pass keeps a per-query shortlist of ``n_rerank``
    candidates, whose RAW vectors are then re-scored exactly and the
    true top-k re-ordered on exact cosine. The two stacked
    approximations (cell routing × code quantization) then only have to
    get the right answers INTO the shortlist, not rank them — measured
    on the near-orthogonal worst-case corpus: 0.54 (ADC-only) → 0.84
    (rerank, n_probe=8; the residual misses are CELL-ROUTING misses —
    n_probe=10/12/16 measures 0.92/0.96/1.00, so n_probe is the knob
    once rerank is on). Floor pinned ≥0.8 in
    tests/test_similarity_recall.py. Cost: the bounded shortlist
    (nq · n_rerank id pairs — parameters, never data) is broadcast
    against the corpus, so the refine adds one more column-pruned
    corpus scan and ZERO shuffle of corpus rows; output carries exact
    ``cosine``. ``n_rerank=0`` keeps the pure-ADC path (output:
    ``adc_dist``)."""
    from cdc_streaming_pipeline_spark.functions.vector import l2_norm
    from cdc_streaming_pipeline_spark.operators.cluster import kmeans_fit

    spark = corpus.sparkSession
    fit_key = (n_clusters, m, ks, seed)
    memo_hit = fit_memo is not None and fit_key in fit_memo
    if memo_hit:
        # Index-fit memo (the plans-layer ann_topk_ivf policy): an
        # IVF-PQ index is fit once and served many times in any real
        # deployment, so a caller may cache (centroids, codebooks) per
        # corpus and let repeat calls measure the SERVE path warm —
        # encode + ADC scan + exact re-rank still run in full.
        centroids, codebooks, big_corpus = fit_memo[fit_key]
    else:
        centroids = kmeans_fit(
            corpus, k=n_clusters, id_col=id_col, vec_col=vec_col, seed=seed
        )
    # JVM-side normalization with the norm BOUND to a column first (the
    # HOF re-eval trap: a lambda referencing l2_norm(col) recomputes the
    # norm per element).
    staged = corpus.select(
        id_col,
        vec_col,
        F.greatest(l2_norm(F.col(vec_col)), F.lit(1e-12)).alias("_nrm"),
    )
    normed = staged.select(
        id_col,
        F.transform(vec_col, lambda x: x.cast("double") / F.col("_nrm")).alias(
            vec_col
        ),
    )
    # The normalized corpus feeds up to THREE full passes — the codebook
    # sample sort, the encode scan, and the exact-rerank scan — so
    # keep it once (``tables.keep``; per-row values are bit-identical
    # under any partitioning). Fan the encode scan out only when the
    # corpus is at least sample-sized (pq_fit's sample tells us) and
    # ``fan_out`` finds it narrower than the core count: a Python batch stage
    # carries ~0.2 s fixed per-task overhead, so a 5k-row corpus keeps
    # its single partition while a big single-row-group scan spreads.
    # The per-batch shortlist selection composes exactly under
    # rebatching (batch top-N ⊇ global top-N members, consistent
    # (dist, id) total order), so the output is unchanged.
    normed = keep(normed)
    if not memo_hit:
        fit_stats: dict = {}
        codebooks = pq_fit(
            normed, m=m, ks=ks, vec_col=vec_col, id_col=id_col, seed=seed,
            stats=fit_stats,
        )
        big_corpus = fit_stats.get("sample_rows", 0) >= 32768
        if fit_memo is not None:
            fit_memo[fit_key] = (centroids, codebooks, big_corpus)
    encode_src = fan_out(normed) if big_corpus else normed
    bc_index = spark.sparkContext.broadcast((centroids, codebooks))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent, books = bc_index.value
        m_, _ks, sub = books.shape
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(np.int64)
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cells = np.argmax(mat @ cent.T, axis=1).astype(np.int32)
            codes = np.empty((len(ids), m_), dtype=np.int32)
            for j in range(m_):
                x = mat[:, j * sub : (j + 1) * sub]
                d = ((x[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d.argmin(1)
            yield pd.DataFrame({id_col: ids, "cell": cells, "codes": list(codes)})

    index = encode_src.mapInPandas(
        encode, f"{id_col} long, cell int, codes array<int>"
    )

    q_ids, q_mat = _normalized_matrix(queries.select(id_col, vec_col).collect())
    sims = q_mat @ centroids.T
    if n_probe == "auto":
        # Recall-targeted adaptive probe policy: per-query probe count
        # from the best centroid cosine — see auto_probe_mask's
        # docstring for the mapping and the measured rejection of the
        # margin rule. On the recall-gate worst case: recall 0.84
        # (fixed 8) → ≥0.9 floor (.benchmarks/SCALE10_r10.md has the
        # cost).
        probe_mask = auto_probe_mask(sims, probe_sim_hi, probe_sim_lo)
    else:
        n_probe = min(n_probe, n_clusters)
        order = np.argsort(-sims, axis=1)[:, :n_probe]
        probe_mask = np.zeros((len(q_ids), n_clusters), dtype=bool)
        np.put_along_axis(probe_mask, order, True, axis=1)
    mm, ks_, sub = codebooks.shape
    tables = np.stack(
        [
            (
                (codebooks[j][None, :, :] - q_mat[:, None, j * sub : (j + 1) * sub])
                ** 2
            ).sum(-1)
            for j in range(mm)
        ],
        axis=1,
    )  # (nq, m, ks)
    bc_q = spark.sparkContext.broadcast((q_ids, probe_mask, tables))
    shortlist = max(k, n_rerank)
    take = shortlist + (1 if exclude_self else 0)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, pmask, tabs = bc_q.value
        nq, m_, _ = tabs.shape[0], tabs.shape[1], tabs.shape[2]
        for pdf in batches:
            if pdf.empty:
                continue
            ids_c = pdf[id_col].to_numpy(np.int64)
            cells = pdf["cell"].to_numpy(np.int64)
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
            cand = pmask[:, cells].T  # (n, nq): row in a probed cell of q
            if not cand.any():
                continue
            d = np.full((nq, len(ids_c)), np.inf)
            if cand.mean() > 0.25:
                full = np.zeros((nq, len(ids_c)))
                for j in range(m_):
                    full += tabs[:, j, :][:, codes[:, j]]
                d[cand.T] = full[cand.T]
            else:
                ci, qi = np.nonzero(cand)
                d[qi, ci] = tabs[
                    qi[:, None], np.arange(m_)[None, :], codes[ci]
                ].sum(1)
            d = np.round(d, 6)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(ids_q):
                valid = np.nonzero(cand[:, j])[0]
                if valid.size == 0:
                    continue
                row = d[j]
                order = valid[np.lexsort((ids_c[valid], row[valid]))[:take]]
                out_q.extend([qid] * len(order))
                out_n.extend(ids_c[order])
                out_s.extend(row[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adc_dist": out_s}
            )

    cand = index.mapInPandas(score, "query_id long, neighbor_id long, adc_dist double")
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    ranked = cand.withColumn("rank", F.row_number().over(w))
    if n_rerank <= 0:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "rank", "neighbor_id", "adc_dist"
        )
    # Exact re-rank: the ADC shortlist (≤ nq·n_rerank id pairs, a
    # parameter bound) is BROADCAST against the raw corpus — one more
    # column-pruned scan, no shuffle of corpus rows — and re-scored
    # with the exact cosine (JVM zip_with/aggregate, no Python).
    short = ranked.filter(F.col("rank") <= shortlist).select(
        "query_id", "neighbor_id"
    )
    qdf = spark.createDataFrame(
        [(int(qid), [float(x) for x in qv]) for qid, qv in zip(q_ids, q_mat)],
        "query_id long, _qvec array<double>",
    )
    cvecs = normed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nvec")
    )
    joined = cvecs.join(F.broadcast(short), "neighbor_id").join(
        F.broadcast(qdf), "query_id"
    )
    dot = F.aggregate(
        F.zip_with("_qvec", "_nvec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = joined.select(
        "query_id", "neighbor_id", F.round(dot, 6).alias("cosine")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
