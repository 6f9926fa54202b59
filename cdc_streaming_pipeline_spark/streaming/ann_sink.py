"""Streaming ANN index ingestion — the live half of the persisted IVF
family (operators/cluster.py): an embedding stream lands in an
IVF-partitioned vector store built on the engine's own transactional
tables, exactly once, so continuous ingestion gets the storage layer's
whole contract (atomic snapshots, txn-tagged replay no-ops, compaction,
vacuum, time travel) instead of the bare parquet appends of
``append_to_ivf_index`` (which double-append under a replayed
micro-batch — fine for batch jobs, wrong under a streaming
checkpoint).

State = two txlog tables:

- ``cells`` (cell → centroid): written ONCE by the bootstrap batch —
  centroids are fit on the first micro-batch with the same seeded
  distributed Lloyd as the batch path (``kmeans_fit``), then FROZEN.
  Later batches assign against the committed centroids, which is what
  makes stream-then-serve output-identical to a batch build with the
  same centroids (assignment is a pure function of them). Centroid
  drift under sustained ingest degrades cell balance, not correctness
  — refit + rewrite is the periodic compaction, the batch path's
  documented posture.
- ``vectors`` (vec_id → embedding, cell): every micro-batch MoR-merges
  its assigned rows (O(batch) appended bytes, zero bucket rewrites —
  the id bloom prunes the stored-image scan for novel ids), and the
  maintenance fold range-clusters buckets ON ``cell``
  (``cluster_cols``), so folded files become cell-pure and the serving
  read's ``cell IN (probes)`` prunes on per-file dictionaries/stats —
  the txlog equivalent of the batch index's partition pruning: a query
  reads ~n_probe/k_cells of the store, not all of it.

Exactly-once without a coordinator: both tables' commits carry
``txn=(writer, batch_id)``. A crash between the bootstrap's two
commits replays into a tagged no-op on ``cells`` and the vectors
landing proceeds from the SAME committed centroids; a replayed later
batch no-ops entirely.

Serving (``ivf_topk_stream_store``): probe cells from the committed
centroids (k rows driver-side), ``read_state_where_in("cell", probes)``
for the candidate slice, then the batch path's masked-GEMM scoring —
output-identical to ``ivf_topk`` over the full store with the same
centroids (rows outside probed cells can never score, so pruning the
SCAN changes bytes read, not results — the ivf_topk_from_index
argument, pinned in tests/test_ann_stream.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.sources.txlog import ConcurrentWriteError
from cdc_streaming_pipeline_spark.streaming.sink_util import (
    cdc_shape,
    land_mor,
    maintain,
    open_table,
)


class IvfStreamSink:
    """foreachBatch body: bootstrap fits + commits the centroids, every
    batch assigns against the committed centroids and MoR-lands into
    the vector store. Holds only paths and policy — a restarted query
    reconstructs the sink from the checkpoint + the logs."""

    def __init__(
        self,
        spark: SparkSession,
        cells_path: str,
        vectors_path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k_cells: int = 16,
        kmeans_iters: int = 5,
        seed: int = 42,
        n_buckets: int = 16,
        writer_id: str = "ivf_stream",
        bloom_bits: int = 1 << 17,
        max_files_per_bucket: int | None = 8,
        vacuum_every: int | None = None,
        vacuum_retain_versions: int = 10,
        vacuum_min_age_seconds: float = 3600.0,
        centroids=None,
    ):
        """``centroids`` (optional (k, dim) array-like) bootstraps the
        cells table from a PRE-TRAINED codebook instead of fitting on
        the first micro-batch — the production shape when the first
        batch may be unrepresentative (a trickle, one skewed source);
        fit offline with ``kmeans_fit`` over a real sample, hand the
        matrix to the sink. Ignored once the cells table exists — the
        committed centroids always win (frozen-codebook contract)."""
        self.spark = spark
        self.cells_path, self.vectors_path = cells_path, vectors_path
        self.centroids = centroids
        self.id_col, self.vec_col = id_col, vec_col
        self.k_cells, self.kmeans_iters, self.seed = k_cells, kmeans_iters, seed
        self.n_buckets = n_buckets
        self.writer_id = writer_id
        self.bloom_bits = bloom_bits
        self.max_files_per_bucket = max_files_per_bucket
        self.vacuum_every = vacuum_every
        self.vacuum_retain_versions = vacuum_retain_versions
        self.vacuum_min_age_seconds = vacuum_min_age_seconds

    def _tables(self):
        cells = open_table(
            self.spark, self.cells_path, key_cols=["cell"], n_buckets=1
        )
        vectors = open_table(
            self.spark,
            self.vectors_path,
            key_cols=[self.id_col],
            n_buckets=self.n_buckets,
            bloom_cols=[self.id_col],
            bloom_bits=self.bloom_bits,
            stats_cols=["cell"],
        )
        return cells, vectors

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from cdc_streaming_pipeline_spark.operators.cluster import (
            _assign_cells,
            kmeans_fit,
        )

        if batch.isEmpty():
            return
        cells, vectors = self._tables()
        tag = (self.writer_id, int(batch_id))
        if cells.latest_version() is None:
            # bootstrap: a pre-trained codebook wins; otherwise fit on
            # the first batch (seeded Lloyd, the batch path's exact
            # kernel). Either way the committed centroids are frozen.
            if self.centroids is not None:
                import numpy as np

                cent = np.asarray(self.centroids, dtype=np.float64)
            else:
                cent = kmeans_fit(
                    batch,
                    k=self.k_cells,
                    iters=self.kmeans_iters,
                    id_col=self.id_col,
                    vec_col=self.vec_col,
                    seed=self.seed,
                )
            cent_df = self.spark.createDataFrame(
                [(int(i), [float(v) for v in c]) for i, c in enumerate(cent)],
                "cell int, centroid array<double>",
            )
            try:
                cells.init_from_events(cdc_shape(cent_df, batch_id), txn=tag)
            except ConcurrentWriteError:
                # a lost version-0 race (external writer, duplicate
                # concurrent query) must not kill the stream: like
                # land_mor, serve the COMMITTED centroids (the bootstrap
                # stays frozen).
                cent = _stored_centroids(cells)
        else:
            cent = _stored_centroids(cells)
        assigned = _assign_cells(batch, cent, self.id_col, self.vec_col)
        land_mor(vectors, assigned, batch_id, tag)
        maintain(
            vectors,
            batch_id,
            self.max_files_per_bucket,
            self.vacuum_every,
            self.vacuum_retain_versions,
            self.vacuum_min_age_seconds,
            cluster_cols=["cell"],  # folded files become cell-pure
        )


def _stored_centroids(cells_table):
    """(k, dim) centroid matrix from the committed cells table — k rows
    driver-side, row order = cell id."""
    import numpy as np

    rows = cells_table.read_state().collect()
    rows.sort(key=lambda r: r["cell"])
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def ivf_topk_stream_store(
    spark: SparkSession,
    cells_path: str,
    vectors_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Serve IVF top-k from the stream-built store: probe cells against
    the committed centroids, read ONLY the probed cells' slice through
    the skipping layer (after the maintenance folds, files are
    cell-pure, so ``cell IN (...)`` prunes on per-file dictionaries —
    before a fold the read is conservative but still exact), and score
    with the batch path's masked GEMM."""
    import numpy as np

    from cdc_streaming_pipeline_spark.operators.cluster import (
        _collect_matrix,
        _normalize,
        ivf_topk,
    )
    from cdc_streaming_pipeline_spark.sources.txlog import BucketedTxLogTable

    cells = BucketedTxLogTable(spark, cells_path)
    vectors = BucketedTxLogTable(spark, vectors_path)
    cent = _stored_centroids(cells)
    _, q_mat = _collect_matrix(queries, id_col, vec_col)
    q_mat = _normalize(q_mat)
    n_probe = min(n_probe, len(cent))
    probed = np.argsort(-(q_mat @ cent.T), axis=1)[:, :n_probe]
    probe_cells = sorted({int(c) for row in probed for c in row})
    cand, _, _ = vectors.read_state_where_in("cell", probe_cells)
    return ivf_topk(
        cand.select(id_col, vec_col),
        queries,
        k=k,
        n_clusters=len(cent),
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=exclude_self,
        centroids=cent,
    )


def ann_stream_sink(
    stream_df: DataFrame,
    checkpoint_path: str,
    available_now: bool = False,
    processing_time: str | None = None,
    **sink_kwargs,
):
    """Attach the IVF ingest sink to a streaming DataFrame and start the
    query. ``sink_kwargs`` construct ``IvfStreamSink`` (spark is taken
    from the stream)."""
    spark = stream_df.sparkSession
    body = IvfStreamSink(spark, **sink_kwargs)
    writer = stream_df.writeStream.foreachBatch(body).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
