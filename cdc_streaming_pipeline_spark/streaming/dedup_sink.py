"""Streaming corpus ingestion with ONLINE dedup — the missing live
half of the batch dedup family (operators/dedup.py): a document stream
lands in a txlog corpus table with duplicates filtered per micro-batch
against everything already landed, exactly once, with the dedup state
ITSELF stored as bucketed txlog tables so the probe side rides the
engine's own skipping layer (bloom sidecars) instead of rescanning the
corpus.

Two modes, mirroring the batch operators:

- ``exact``: md5-of-normalized-text fingerprints
  (``incremental_exact_dedup``'s semantics). The corpus table carries
  a ``fp`` column with a BLOOM sidecar; each batch's novelty probe is
  ``read_state_where_in("fp", batch_fps)`` — at 100 TB the probe reads
  only the files whose sidecars may hold those fingerprints, so a
  trickle batch costs O(batch) metadata + a few file scans, never a
  corpus scan. Batches above ``probe_cap`` distinct fingerprints fall
  back to the full ids-only anti-join (the bulk-backfill shape, same
  plan as the batch operator).

- ``minhash``: banded MinHash LSH (``minhash_lsh_pairs``' semantics,
  exact-Jaccard verified). Dedup state = two txlog tables: ``index``
  (band, bucket, doc_id — bloom on bucket) and ``sigs`` (doc_id →
  shingle-hash set). Per batch: within-batch LSH dedup, then the
  batch's band keys probe the index (bloom-pruned), candidates verify
  with EXACT Jaccard against the stored shingle sets, survivors land.

Exactly-once across all tables without a coordinator: every merge is
tagged ``txn=(writer, batch_id)``, and the table the DETECTION reads
commits LAST — a crash between commits replays the batch, the
detection re-reads unchanged state, recomputes the SAME novel set, and
the already-committed merges no-op on their tags (pinned with a
mid-batch crash in tests/test_dedup_stream.py).

The LANDING is merge-on-read (``merge_cdc_batch_mor``: the merge
kernel with no bucket folded), so the write side is O(batch) like the
probe side: novel rows append as bucket-pure files and NO existing
bucket file is rewritten — the fold-every-touched-bucket rule of
``merge_cdc_batch`` would rewrite O(corpus) per trickle batch once ids
spread across all buckets. The
MoR stored-image scan is ALSO O(batch): every state table blooms its
leading key column, and a novel id's sidecar lookup prunes every
candidate file, so a pure-insert merge reads zero stored files. What
keeps a forever-stream bounded is the MAINTENANCE that rides the same
foreachBatch (the ``streaming/pipeline.py`` cadence): any bucket whose
file count grew past ``max_files_per_bucket`` folds to one file after
the batch's commits, and ``vacuum_every`` reclaims dead files on a
batch-count cadence — per-bucket file count (and hence probe plan
size) stays flat over an unbounded run."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from cdc_streaming_pipeline_spark.streaming.sink_util import (
    cdc_shape as _cdc_shape,
    land_mor as _land_mor,
    maintain as _maintain,
    open_table as _open_table,
)


class ExactDedupSink:
    """foreachBatch body for ``mode='exact'``. Holds only paths and
    policy — all state is in the corpus table, so a restarted query
    reconstructs the sink from the checkpoint + the log."""

    def __init__(
        self,
        spark: SparkSession,
        corpus_path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_buckets: int = 16,
        probe_cap: int = 4096,
        writer_id: str = "dedup_stream",
        bloom_bits: int = 1 << 17,
        max_files_per_bucket: int | None = 8,
        vacuum_every: int | None = None,
        vacuum_retain_versions: int = 10,
        vacuum_min_age_seconds: float = 3600.0,
    ):
        self.spark = spark
        self.corpus_path = corpus_path
        self.text_col, self.id_col = text_col, id_col
        self.n_buckets = n_buckets
        self.probe_cap = probe_cap
        self.writer_id = writer_id
        self.bloom_bits = bloom_bits
        self.max_files_per_bucket = max_files_per_bucket
        self.vacuum_every = vacuum_every
        self.vacuum_retain_versions = vacuum_retain_versions
        self.vacuum_min_age_seconds = vacuum_min_age_seconds

    def _corpus(self):
        # bloom on fp (the novelty probe) AND on the key itself — the
        # id bloom is what makes the MoR landing's stored-image scan
        # O(batch): novel ids prune every candidate file.
        return _open_table(
            self.spark,
            self.corpus_path,
            key_cols=[self.id_col],
            n_buckets=self.n_buckets,
            bloom_cols=["fp", self.id_col],
            bloom_bits=self.bloom_bits,
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from cdc_streaming_pipeline_spark.functions.textfn import normalize_ws

        if batch.isEmpty():
            return
        fp = F.md5(normalize_ws(F.col(self.text_col)))
        # within-batch: lowest-id representative per fingerprint, full row
        w = batch.withColumn("fp", fp)
        reps = w.join(
            w.groupBy("fp").agg(F.min(self.id_col).alias(self.id_col)),
            ["fp", self.id_col],
            "left_semi",
        ).dropDuplicates([self.id_col])

        corpus = self._corpus()
        tag = (self.writer_id, int(batch_id))
        if corpus.latest_version() is None:
            corpus.init_from_events(_cdc_shape(reps, batch_id), txn=tag)
            return
        # novelty probe: bloom-pruned point-IN read when the batch is
        # small (files_read ∝ probe hits, never corpus size); ids-only
        # anti-join fallback for bulk batches
        fps = [r["fp"] for r in reps.select("fp").distinct().limit(self.probe_cap + 1).collect()]
        if len(fps) <= self.probe_cap:
            seen_df, _, _ = corpus.read_state_where_in("fp", fps)
            seen = seen_df.select("fp").distinct()
        else:
            seen = corpus.read_state().select("fp").distinct()
        novel = reps.join(seen, "fp", "left_anti")
        # O(batch) landing: MoR appends the novel rows as bucket-pure
        # files; no existing file is read (id blooms prune the stored-
        # image scan) or rewritten. Maintenance keeps the append trail
        # folded so the probe plan stays flat over an unbounded run.
        _land_mor(corpus, novel, batch_id, tag)
        _maintain(
            corpus,
            batch_id,
            self.max_files_per_bucket,
            self.vacuum_every,
            self.vacuum_retain_versions,
            self.vacuum_min_age_seconds,
        )


class MinHashDedupSink:
    """foreachBatch body for ``mode='minhash'``: banded-LSH candidate
    probe against the persisted index, EXACT-Jaccard verify against the
    persisted shingle sets, survivors land in corpus + sigs + index
    (index LAST — it is what detection reads, so a crash replay
    recomputes the same novel set and the earlier commits no-op)."""

    def __init__(
        self,
        spark: SparkSession,
        corpus_path: str,
        index_path: str,
        sigs_path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        shingle_size: int = 3,
        num_hashes: int = 16,
        bands: int = 4,
        jaccard_threshold: float = 0.5,
        n_buckets: int = 16,
        probe_cap: int = 8192,
        writer_id: str = "minhash_stream",
        bloom_bits: int = 1 << 17,
        max_files_per_bucket: int | None = 8,
        vacuum_every: int | None = None,
        vacuum_retain_versions: int = 10,
        vacuum_min_age_seconds: float = 3600.0,
    ):
        self.spark = spark
        self.paths = (corpus_path, index_path, sigs_path)
        self.text_col, self.id_col = text_col, id_col
        self.shingle_size, self.num_hashes, self.bands = (
            shingle_size,
            num_hashes,
            bands,
        )
        self.jaccard_threshold = jaccard_threshold
        self.n_buckets = n_buckets
        self.probe_cap = probe_cap
        self.writer_id = writer_id
        self.bloom_bits = bloom_bits
        self.max_files_per_bucket = max_files_per_bucket
        self.vacuum_every = vacuum_every
        self.vacuum_retain_versions = vacuum_retain_versions
        self.vacuum_min_age_seconds = vacuum_min_age_seconds

    def _tables(self):
        # Every table blooms its LEADING key column so the MoR landing's
        # stored-image scan prunes to zero files for novel keys; the
        # index keys lead with doc_id for exactly that reason (band has
        # ~4 distinct values — useless as a bloom), while its bucket
        # bloom serves the detection probe (read_state_where_in).
        corpus = _open_table(
            self.spark,
            self.paths[0],
            key_cols=[self.id_col],
            n_buckets=self.n_buckets,
            bloom_cols=[self.id_col],
            bloom_bits=self.bloom_bits,
        )
        index = _open_table(
            self.spark,
            self.paths[1],
            key_cols=[self.id_col, "band", "bucket"],
            n_buckets=self.n_buckets,
            bloom_cols=[self.id_col, "bucket"],
            bloom_bits=self.bloom_bits,
        )
        sigs = _open_table(
            self.spark,
            self.paths[2],
            key_cols=[self.id_col],
            n_buckets=self.n_buckets,
            bloom_cols=[self.id_col],
            bloom_bits=self.bloom_bits,
        )
        return corpus, index, sigs

    def _sig_frame(self, df: DataFrame) -> DataFrame:
        from cdc_streaming_pipeline_spark.operators.dedup import (
            _shingle_hash_frame,
            minhash_signature_from_hashes,
        )

        return _shingle_hash_frame(
            df, self.text_col, self.id_col, self.shingle_size
        ).withColumn(
            "sig", minhash_signature_from_hashes(F.col("sh_h"), self.num_hashes)
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from cdc_streaming_pipeline_spark.operators.dedup import (
            _banded_buckets,
            _verify_jaccard,
        )

        if batch.isEmpty():
            return
        rows_per_band = self.num_hashes // self.bands
        base = self._sig_frame(batch).persist()
        try:
            banded = _banded_buckets(base, self.bands, rows_per_band)

            # ---- within-batch LSH dedup: lower id survives
            cand = (
                banded.alias("a")
                .join(
                    banded.alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a._id") < F.col("b._id")),
                )
                .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
                .dropDuplicates(["id_a", "id_b"])
            )
            dup_in_batch = (
                _verify_jaccard(
                    cand, base.select("_id", "sh_h"), self.jaccard_threshold
                )
                .select(F.col("id_b").alias("_id"))
                .distinct()
            )
            survivors = base.join(dup_in_batch, "_id", "left_anti")

            corpus, index, sigs = self._tables()
            if index.latest_version() is not None:
                # ---- vs corpus: batch band keys probe the INDEX
                # (bloom on bucket prunes to the colliding files)
                sb = _banded_buckets(survivors, self.bands, rows_per_band)
                buckets = [
                    r["bucket"]
                    for r in sb.select("bucket")
                    .distinct()
                    .limit(self.probe_cap + 1)
                    .collect()
                ]
                if len(buckets) <= self.probe_cap:
                    idx_df, _, _ = index.read_state_where_in("bucket", buckets)
                else:
                    idx_df = index.read_state()
                cand_c = (
                    sb.join(
                        idx_df.select(
                            "band",
                            "bucket",
                            F.col(self.id_col).alias("_corpus_id"),
                        ),
                        ["band", "bucket"],
                    )
                    .select(F.col("_id").alias("id_a"), F.col("_corpus_id").alias("id_b"))
                    .dropDuplicates(["id_a", "id_b"])
                )
                # exact verify against the PERSISTED shingle sets —
                # pruned to the candidates' ids (bloom on doc_id) when
                # the candidate set is small
                cids = [
                    r["id_b"]
                    for r in cand_c.select("id_b")
                    .distinct()
                    .limit(self.probe_cap + 1)
                    .collect()
                ]
                if cids and len(cids) <= self.probe_cap:
                    sigs_df, _, _ = sigs.read_state_where_in(self.id_col, cids)
                elif not cids:
                    sigs_df = None
                else:
                    sigs_df = sigs.read_state()
                if sigs_df is None:
                    sh_corpus = None
                else:
                    sh_corpus = sigs_df.select(
                        F.col(self.id_col).alias("_id"), "sh_h"
                    )
                if sh_corpus is not None:
                    both = survivors.select("_id", "sh_h").unionByName(sh_corpus)
                    dup_vs_corpus = (
                        _verify_jaccard(cand_c, both, self.jaccard_threshold)
                        .select(F.col("id_a").alias("_id"))
                        .distinct()
                    )
                    survivors = survivors.join(dup_vs_corpus, "_id", "left_anti")

            novel_ids = survivors.select(F.col("_id").alias(self.id_col))
            novel_docs = batch.join(novel_ids, self.id_col, "left_semi")
            novel_sigs = survivors.select(
                F.col("_id").alias(self.id_col), "sh_h"
            )
            novel_index = _banded_buckets(
                survivors, self.bands, rows_per_band
            ).select(F.col("_id").alias(self.id_col), "band", "bucket")

            # commit order: detection reads INDEX (and sigs for verify,
            # but only for ids the index yielded) — index lands LAST.
            # Each landing is MoR (O(batch) appended bytes, zero bucket
            # rewrites); maintenance folds AFTER all three commits so a
            # crash mid-maintenance still replays into tagged no-ops.
            tag = (self.writer_id, int(batch_id))
            tables = ((corpus, novel_docs), (sigs, novel_sigs), (index, novel_index))
            for t, df in tables:
                _land_mor(t, df, batch_id, tag)
            for t, _ in tables:
                _maintain(
                    t,
                    batch_id,
                    self.max_files_per_bucket,
                    self.vacuum_every,
                    self.vacuum_retain_versions,
                    self.vacuum_min_age_seconds,
                )
        finally:
            base.unpersist()


def dedup_stream_sink(
    stream_df: DataFrame,
    checkpoint_path: str,
    mode: str = "exact",
    available_now: bool = False,
    processing_time: str | None = None,
    **sink_kwargs,
):
    """Attach the dedup sink to a streaming DataFrame and start the
    query. ``sink_kwargs`` construct ``ExactDedupSink`` /
    ``MinHashDedupSink`` (spark is taken from the stream)."""
    spark = stream_df.sparkSession
    if mode == "exact":
        body = ExactDedupSink(spark, **sink_kwargs)
    elif mode == "minhash":
        body = MinHashDedupSink(spark, **sink_kwargs)
    else:
        raise ValueError(f"mode must be 'exact' or 'minhash', got {mode!r}")
    writer = stream_df.writeStream.foreachBatch(body).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
