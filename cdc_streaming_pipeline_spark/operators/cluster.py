"""Graph/vector clustering operators: near-dup connected components,
distributed k-means (Lloyd over DataFrames), and IVF approximate
nearest-neighbor search.

Connected components turns pairwise near-duplicate edges (from
operators/dedup.py or operators/similarity.py) into dedup CLUSTERS —
the form a training-data pipeline actually consumes ("keep one doc per
cluster"). Implemented as iterative min-label propagation: each round
every node adopts the smallest label among itself and its neighbors;
converges in O(max cluster diameter) rounds, which for near-dup graphs
is small (dup clusters are dense). Each round is one join + one groupBy
on the edge list; frames are persisted across rounds and the loop exits
on a zero-changed count. For graphs with giant components, swap the
round body for the large-star/small-star rewrite (Kiveris et al.,
"Connected Components in MapReduce and Beyond") — same driver loop.

IVF: k-means centroids (distributed Lloyd: assignment is an Arrow-batched
GEMM against broadcast centroids, the update is a tiny per-cluster
partial-sum reduce) then search only the clusters nearest each query.
Unlike LSH, the index adapts to the data's cluster structure.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_streaming_pipeline_spark.operators.graph import _truncate_lineage
from cdc_streaming_pipeline_spark.sources.tables import fan_out


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "vec_id",
    max_iters: int = 20,
    driver_threshold_edges: int = 1_000_000,
) -> DataFrame:
    """(id, cluster_id) for every node; cluster_id = min node id reachable
    via ``edges`` (columns id_a/id_b). Singletons keep their own id.

    Hybrid strategy keyed on the size of the ACTIVE subgraph — singletons
    (nodes touching no edge) can never change label, so only the edge
    endpoints ever iterate, and for near-dup graphs that subgraph is
    typically orders of magnitude smaller than the corpus:

    - edge list ≤ ``driver_threshold_edges``: collect the (distributed-
      computed) id pairs and run union-find on the driver — microseconds,
      versus ~1 s of scheduling overhead PER ROUND for a Spark loop that
      measured 11 rounds on a 920-edge graph. 1M edges ≈ 16 MB on the
      driver: a bounded collect by contract, like the k-means sample —
      NOT a collect of the corpus (the edges were already reduced
      distributed, upstream).
    - bigger: distributed label propagation over the endpoints only, with
      shuffle width sized to the endpoint count, ``localCheckpoint`` per
      round (persist alone leaves the plan growing — Catalyst re-analysis
      measured exponential: round 3 ≈ 1 s, round 6 ≈ 145 s), and pointer
      jumping (label := label(label)) for O(log diameter) rounds.

    Both paths end by unioning singletons back with their own id; both are
    exact and deterministic (verified against each other and against the
    recursive-CTE oracle in tests).
    """
    id_type = nodes.schema[id_col].dataType.simpleString()
    if id_type not in {"tinyint", "smallint", "int", "bigint"}:
        # a lossy cast would silently NULL every label; refuse instead —
        # callers with string ids should hash them (e.g. xxhash64) first
        raise TypeError(
            f"connected_components: id column {id_col!r} is {id_type}; "
            "labels are min-reduced as longs, so ids must be integral "
            "(hash non-numeric ids to long first)"
        )
    spark = edges.sparkSession
    # checkpoint the edge list before mirroring/collecting it: both
    # consumers would otherwise recompute the (possibly expensive)
    # upstream pair-generation plan
    edges = edges.select("id_a", "id_b").localCheckpoint(eager=True)
    if edges.count() <= driver_threshold_edges:
        return _cc_driver_union_find(spark, edges, nodes, id_col)
    sym = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    endpoints = sym.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    n_active = endpoints.count()  # reads the checkpointed blocks — cheap
    width = max(1, min(spark.sparkContext.defaultParallelism, n_active // 100_000 + 1))
    sym = sym.repartition(width, "src").localCheckpoint(eager=True)
    labels = (
        endpoints.select("node", F.col("node").cast("long").alias("label"))
        .repartition(width, "node")
        .localCheckpoint(eager=True)
    )
    changed = 0
    for it in range(max_iters):
        prop = sym.join(labels, sym["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        stepped = labels.unionByName(prop).groupBy("node").agg(F.min("label").alias("label"))
        # pointer jump: label := label(label) (labels are always node ids,
        # so the self-join hit is guaranteed; left join guards regardless)
        l2 = stepped.select(F.col("node").alias("pj_node"), F.col("label").alias("pj_label"))
        # lazy checkpoint: the changed-count below materializes it, so each
        # round costs ONE Spark action, not a checkpoint action plus a count
        new_labels = (
            stepped.join(l2, stepped["label"] == l2["pj_node"], "left")
            .select("node", F.coalesce("pj_label", "label").alias("label"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # `stepped` references `labels` twice (union + pointer-jump
        # self-join), so chained Dataset checkpoints compose their
        # retained origin plans EXPONENTIALLY in round depth — the
        # Spark 4.1.2 behavior measured in graph.py:_truncate_lineage
        # (explosion knee ~12 rounds). Pointer jumping needs
        # O(log2 diameter) rounds, usually < 10, so the cheap Dataset
        # checkpoint carries the common case; beyond round 8 the state
        # is hard-truncated, which RESETS the origin-chain depth.
        if it >= 8:
            new_labels = _truncate_lineage(new_labels)
        labels = new_labels
        if changed == 0:
            break
    if changed > 0:
        # pointer jumping converges in O(log diameter) rounds; exhausting
        # max_iters means the labels returned are NOT a fixed point
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters"
        )
    return _with_singletons(labels, nodes, id_col)


def _with_singletons(labels: DataFrame, nodes: DataFrame, id_col: str) -> DataFrame:
    """Union endpoint labels with the untouched nodes (own id = own label)."""
    labels = labels.select(
        F.col("node").cast("long").alias("node"), F.col("label").cast("long").alias("label")
    )
    singles = (
        nodes.select(F.col(id_col).cast("long").alias("node"))
        .join(labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("label"))
    )
    return labels.unionByName(singles).select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def _cc_driver_union_find(
    spark, edges: DataFrame, nodes: DataFrame, id_col: str
) -> DataFrame:
    """Union-find with min-id roots over a collected edge list (the
    small-active-subgraph fast path of ``connected_components``)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in edges.collect():
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min id becomes the root

    rows = [(v, find(v)) for v in parent]
    labels = spark.createDataFrame(rows, "node long, label long")
    return _with_singletons(labels, nodes, id_col)


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return ids, mat


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    return mat / norms[:, None]


def kmeans_fit(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means centroids via distributed Lloyd iterations.

    Init: k-means++-style seeding on a deterministic md5-ordered sample
    (driver-side — the sample is ~32k vectors regardless of corpus size).
    Each Lloyd round: broadcast centroids; every Arrow batch GEMMs its
    rows against them, assigns argmax-cosine, and emits ONE partial
    (cluster, sum-vector, count) row per cluster per batch — the collect
    is k × n_batches rows, never the data. Centroid update happens on the
    driver (k × dim floats). Rounds are O(iters) scans; nothing shuffles.
    """
    from cdc_streaming_pipeline_spark.operators.sampling import md5_bucket

    spark = df.sparkSession
    sample = df.withColumn("_b", md5_bucket(F.col(id_col), 1 << 16)).orderBy(
        "_b", id_col
    ).limit(32768)
    _, smat = _collect_matrix(sample, id_col, vec_col)
    smat = _normalize(smat)

    # The Lloyd rounds below are ``iters`` sequential full passes over the
    # SAME vector column — re-scanning (and re-decoding) the source per
    # round wastes iters-1 passes, so persist ONCE; every action here
    # completes inside this function, so the cache is dropped before
    # returning. Fan out only when the corpus is at least sample-sized
    # (the sample collect just told us) AND narrower than the core count:
    # a Python batch stage carries ~0.2 s of fixed per-task overhead
    # (profiled — 32-way rounds on a 5k-row corpus cost MORE wall than
    # one task), so a tiny corpus keeps its single partition while a
    # big-but-single-row-group scan spreads. Rebatching changes only the
    # ORDER the per-batch partial sums merge in (f64 addition is not
    # associative) — a ~1e-15 centroid perturbation of the same class the
    # replay oracle already absorbs (tools/py_oracles.py:_kmeans_replay
    # sums members once vs Spark's per-batch partials).
    vecs = df.select(vec_col)
    if len(smat) >= 32768:
        vecs = fan_out(vecs)
    vecs = vecs.persist()

    # k-means++ seeding (deterministic RNG) on the sample.
    rng = np.random.default_rng(seed)
    centroids = [smat[rng.integers(len(smat))]]
    for _ in range(1, k):
        d2 = 1.0 - np.max(smat @ np.array(centroids).T, axis=1)  # cosine distance
        d2 = np.maximum(d2, 0.0)
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(smat), 1.0 / len(smat))
        centroids.append(smat[rng.choice(len(smat), p=probs)])
    cent = np.array(centroids)

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cent)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = _normalize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
                assign = np.argmax(mat @ c.T, axis=1)
                out_c, out_s, out_n = [], [], []
                for ci in np.unique(assign):
                    members = mat[assign == ci]
                    out_c.append(int(ci))
                    out_s.append(members.sum(axis=0))
                    out_n.append(len(members))
                yield pd.DataFrame({"cluster": out_c, "vsum": out_s, "n": out_n})

        agg = vecs.mapInPandas(
            partials, "cluster int, vsum array<double>, n long"
        ).collect()
        sums = np.zeros_like(cent)
        counts = np.zeros(k)
        for r in agg:
            sums[r["cluster"]] += np.array(r["vsum"])
            counts[r["cluster"]] += r["n"]
        nonempty = counts > 0
        cent[nonempty] = _normalize(sums[nonempty] / counts[nonempty, None])
    vecs.unpersist(blocking=False)
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_self: bool = True,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign the corpus to k-means cells, then each
    query scores only rows in its ``n_probe`` nearest cells.

    ONE corpus scan, no shuffle: the query set (small by contract) is
    collected, its probed-cell sets precomputed and broadcast with the
    centroids; each Arrow batch assigns its rows to cells (one GEMM
    against the centroids), builds the (row, query) candidate mask
    (row's cell ∈ query's probe set), scores only candidates (pairwise
    einsum when sparse, masked GEMM when dense — same crossover as
    ``similarity.lsh_ann_topk``), and emits its local top-k per query; a
    tiny global window finishes the ranking. Fraction of pairs scored ≈
    n_probe / n_clusters on balanced cells (the recall/cost dial) — at
    100 TB that, not the scan, is the win, and a persisted cell-partitioned
    corpus (bucketBy cell) would skip even the non-probed bytes.
    """
    spark = corpus.sparkSession
    if centroids is None:
        centroids = kmeans_fit(corpus, k=n_clusters, id_col=id_col, vec_col=vec_col, seed=seed)
    q_ids, q_mat = _collect_matrix(queries, id_col, vec_col)
    q_mat = _normalize(q_mat)
    probe_sims = q_mat @ centroids.T
    n_probe = min(n_probe, len(centroids))
    probed = np.argsort(-probe_sims, axis=1)[:, :n_probe]  # (nq, n_probe)
    bc = spark.sparkContext.broadcast((centroids, q_ids, q_mat, probed))
    take = k + (1 if exclude_self else 0)

    def probe_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent, ids_q, mat_q, probed_ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids_c = pdf[id_col].to_numpy(np.int64)
            mat_c = _normalize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            cells = np.argmax(mat_c @ cent.T, axis=1)  # (n,)
            # candidate mask: row i scores for query j iff cell_i ∈ probe_j
            cand = (cells[:, None, None] == probed_[None, :, :]).any(-1)  # (n, nq)
            if not cand.any():
                continue
            sims = np.full(cand.shape, -np.inf)
            if cand.mean() > 0.25:
                full = mat_c @ mat_q.T
                sims[cand] = full[cand]
            else:
                ci, qi = np.nonzero(cand)
                sims[ci, qi] = np.einsum("ij,ij->i", mat_c[ci], mat_q[qi])
            sims = np.round(sims, 4)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(ids_q):
                valid = np.nonzero(cand[:, j])[0]
                if valid.size == 0:
                    continue
                col = sims[:, j]
                order = valid[np.lexsort((ids_c[valid], -col[valid]))[:take]]
                out_q.extend([qid] * len(order))
                out_n.extend(ids_c[order])
                out_s.extend(col[order])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cosine": out_s})

    cand = corpus.select(id_col, vec_col).mapInPandas(
        probe_batch, "query_id long, neighbor_id long, cosine double"
    )
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster the
    embedding space with k-means, then drop every item whose cosine to a
    LOWER-id item in the SAME cluster exceeds ``threshold``.

    The clustering is the scalability move: instead of the n² all-pairs GEMM
    (see ``similarity.cosine_near_dup_blocked``), pairwise work happens only
    inside each cluster — sum over clusters of |c|² flops, i.e. ~n²/k on
    balanced clusters, and the approximation loss is exactly the cross-cluster
    pairs (recall vs the exact dedup is pytest-gated). Assignment is one
    Arrow-batched GEMM per partition against broadcast centroids (no
    shuffle); the per-cluster dedup is one shuffle on cluster id. For a
    mega-cluster that outgrows one task, nest the block decomposition from
    ``cosine_near_dup_blocked`` inside the cluster key — same semantics.

    Output: one row per input vector — (id, cluster, kept). kept=false means
    a lower-id same-cluster item covers it at >= threshold cosine. Seeded
    k-means (not SQL-expressible) → rows-only in the oracle gate; precision/
    recall vs the exact pair set is asserted in tests/test_similarity_recall.py.
    """
    spark = df.sparkSession
    cent = kmeans_fit(
        df, k=n_clusters, iters=iters, id_col=id_col, vec_col=vec_col, seed=seed
    )
    bc = spark.sparkContext.broadcast(cent)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _normalize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(np.int64),
                    "cluster": np.argmax(mat @ c.T, axis=1).astype(np.int32),
                    vec_col: pdf[vec_col],
                }
            )

    assigned = df.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, cluster int, {vec_col} array<float>"
    )

    def dedup_cluster(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy(np.int64)
        mat = _normalize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
        sims = np.round(mat @ mat.T, 4)
        np.fill_diagonal(sims, 0.0)
        # kept[j] = no i < j (in id order) with sims[i, j] >= threshold
        covered = np.triu(sims >= threshold, k=1).any(axis=0)
        return pd.DataFrame(
            {id_col: ids, "cluster": np.int32(key[0]), "kept": ~covered}
        )

    return assigned.groupBy("cluster").applyInPandas(
        dedup_cluster, f"{id_col} long, cluster int, kept boolean"
    )


def coverage_sample(
    df: DataFrame,
    n_clusters: int = 16,
    per_cell: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Semantic coverage sampling: the diversity-aware selection step of a
    training-data pipeline — pick the ``per_cell`` most REPRESENTATIVE
    items from every k-means cell, so the sample spans the embedding
    space instead of oversampling its dense modes (the failure of uniform
    sampling under skewed semantic density).

    One corpus scan after the k-means fit: broadcast centroids, each
    Arrow batch assigns its rows (one GEMM) and emits (id, cell,
    centrality = cosine to own centroid); a window ranks per cell —
    shuffle on the cell key only, output bounded by k × per_cell. Ties
    break on id, so the selection is deterministic given the seeded fit.
    Returns (id_col, cell, centrality, cell_rank, n_in_cell).
    """
    spark = df.sparkSession
    cent = kmeans_fit(df, k=n_clusters, id_col=id_col, vec_col=vec_col, seed=seed)
    bc = spark.sparkContext.broadcast(cent)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(np.int64)
            mat = _normalize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            sims = mat @ c.T
            cells = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "cell": cells.astype(np.int32),
                    "centrality": np.round(sims[np.arange(len(ids)), cells], 4),
                }
            )

    assigned = df.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, cell int, centrality double"
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("centrality").desc(), F.col(id_col).asc()
    )
    return (
        assigned.withColumn("cell_rank", F.row_number().over(w))
        .withColumn("n_in_cell", F.count("*").over(Window.partitionBy("cell")))
        .filter(F.col("cell_rank") <= per_cell)
        .select(id_col, "cell", "centrality", "cell_rank", "n_in_cell")
    )


def embedding_outliers(
    df: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-space outlier scoring — the quality filter that catches
    mis-embedded / corrupted / off-distribution vectors before they
    poison retrieval or training: each vector's cosine distance to its
    OWN k-means centroid, z-scored against its cell's distance
    distribution (a global z-score would flag every small cell instead).

    Two corpus scans after the fit: one assignment pass (batch GEMM
    against broadcast centroids) and one re-join against the per-cell
    moment aggregates (k rows, broadcast). Returns
    (id_col, cell, dist, cell_dist_mean, outlier_z)."""
    spark = df.sparkSession
    cent = kmeans_fit(df, k=n_clusters, id_col=id_col, vec_col=vec_col, seed=seed)
    bc = spark.sparkContext.broadcast(cent)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(np.int64)
            mat = _normalize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            sims = mat @ c.T
            cells = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "cell": cells.astype(np.int32),
                    "dist": np.round(1.0 - sims[np.arange(len(ids)), cells], 6),
                }
            )

    assigned = df.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, cell int, dist double"
    )
    stats = assigned.groupBy("cell").agg(
        F.avg("dist").alias("cell_dist_mean"),
        F.stddev_pop("dist").alias("_sd"),
    )
    return (
        assigned.join(F.broadcast(stats), "cell")
        .select(
            id_col,
            "cell",
            "dist",
            F.round("cell_dist_mean", 6).alias("cell_dist_mean"),
            F.round(
                (F.col("dist") - F.col("cell_dist_mean"))
                / F.when(F.col("_sd") > 0, F.col("_sd")).otherwise(F.lit(1.0)),
                4,
            ).alias("outlier_z"),
        )
    )


# ----------------------------------------------------- persisted IVF index --
def _assign_cells(
    df: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, cell) with cell = argmax cosine against the broadcast
    centroids — the shared assignment kernel of the index write and the
    incremental append (assignment is a pure function of the frozen
    centroids, which is what makes append-then-serve == rebuild)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _normalize(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["cell"] = np.argmax(mat @ cent.T, axis=1).astype("int32")
            yield pdf

    return df.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, {vec_col} array<double>, cell int"
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: the corpus written cell-PARTITIONED (one
    parquet partition per k-means cell) plus the centroid table alongside
    it. This turns ``ivf_topk``'s compute saving (score only probed
    cells) into an I/O saving — a serving query reads ONLY its probed
    cells' files via partition pruning, so at 100 TB the scan cost is
    ~n_probe/n_clusters of the corpus, not all of it. Fit the centroids
    once (``kmeans_fit``), write once, serve many."""
    spark = corpus.sparkSession
    assigned = _assign_cells(corpus, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    # Arrow path (pandas): one batch = one partition, so the single-file
    # write never sequentially evaluates 32 empty Python partitions the
    # way coalesce(1)-over-a-parallelized-list does (~3.8 s on local[32])
    cent_pdf = pd.DataFrame(
        {
            "cell": [int(i) for i in range(len(centroids))],
            "centroid": [[float(v) for v in c] for c in centroids],
        }
    )
    spark.createDataFrame(cent_pdf, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path.rstrip('/')}._centroids")


def append_to_ivf_index(
    new_rows: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally maintain a persisted IVF index: assign ``new_rows``
    against the index's FROZEN centroids and append them into their
    cells' partitions — no retrain, no rewrite of existing cells; the
    write cost is the batch, not the corpus. Because assignment is a
    pure function of the stored centroids, serving after an append is
    OUTPUT-IDENTICAL to rebuilding the whole index over old ∪ new with
    the same centroids (pinned in tests/test_ivf_index.py). Centroid
    drift under sustained appends degrades cell balance, not
    correctness — recall gates stay the guard; refit + rewrite is the
    periodic compaction, exactly the posture of the search index's
    serve-time df recount (operators/search.py)."""
    spark = new_rows.sparkSession
    centroids = load_ivf_centroids(spark, path)
    assigned = _assign_cells(new_rows, centroids, id_col, vec_col)
    assigned.write.mode("append").partitionBy("cell").parquet(path)


def load_ivf_centroids(spark, path: str) -> np.ndarray:
    """Load the centroid table written by ``write_ivf_index`` back into
    the (n_clusters, dim) matrix, row order = cell id."""
    rows = spark.read.parquet(f"{path.rstrip('/')}._centroids").collect()
    rows.sort(key=lambda r: r["cell"])
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Serve IVF top-k from a persisted index: compute each query's probe
    cells against the stored centroids, read ONLY those cells' partitions
    (``cell IN (...)`` is a partition filter — pruned at planning time,
    non-probed files never open), and run the same masked scoring as the
    in-memory path. Output-identical to ``ivf_topk`` with the same
    centroids: rows outside the probed cells can never score for any
    query, so pruning them from the SCAN changes bytes read, not results
    (pinned in tests/test_ivf_index.py)."""
    centroids = load_ivf_centroids(spark, path)
    _, q_mat = _collect_matrix(queries, id_col, vec_col)
    q_mat = _normalize(q_mat)
    n_probe = min(n_probe, len(centroids))
    probed = np.argsort(-(q_mat @ centroids.T), axis=1)[:, :n_probe]
    cells = sorted({int(c) for row in probed for c in row})
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(cells)).select(
        id_col, vec_col
    )
    return ivf_topk(
        pruned,
        queries,
        k=k,
        n_clusters=len(centroids),
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=exclude_self,
        centroids=centroids,
    )
