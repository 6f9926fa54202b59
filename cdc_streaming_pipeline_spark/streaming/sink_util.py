"""The one landing path for the engine's streaming CDC state: the merge
sink and the pipeline's latest state (pipeline.py), the feed replica
(feed_source.py), and the dedup and ANN sinks (dedup_sink.py,
ann_sink.py). It CDC-shapes a micro-batch for a txlog merge, opens
state tables whose recorded layout wins over the sink's preferred one,
lands a batch with txn-tagged exactly-once and lost-race retries, and
runs the post-commit maintenance cadence (compaction fold, deletion-
vector debt fold, vacuum) that keeps an unbounded stream's
probe plans flat."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: times a sink re-runs a batch's landing after losing it to a writer
#: outside the stream. Each re-run re-derives the merge from the new
#: head, and the txn tag keeps it exactly-once.
LAND_RETRIES = 5


def cdc_shape(df: DataFrame, batch_id: int) -> DataFrame:
    """Stamp the CDC bookkeeping columns a txlog merge expects."""
    from cdc_streaming_pipeline_spark.schemas import pad_lsn

    return (
        df.withColumn("_op", F.lit("c"))
        .withColumn("_lsn", pad_lsn(F.lit(int(batch_id))))
        .withColumn("_deleted", F.lit(None).cast("string"))
    )


def open_table(spark: SparkSession, path: str, key_cols: list[str], **kw):
    """Open/create a state table with the sink's preferred key layout;
    an EXISTING table's recorded layout wins (a stream resumed over a
    table created by an older sink version must not die on a key
    reorder — bucketing is a table property)."""
    from cdc_streaming_pipeline_spark.sources.txlog import (
        BucketedTxLogTable,
        LayoutMismatchError,
    )

    try:
        return BucketedTxLogTable(spark, path, key_cols=key_cols, **kw)
    except LayoutMismatchError as exc:
        # retry ONLY the recorded-n_buckets mismatch (the sink opened an
        # existing table with a different default) — any
        # other constructor error (key/order mismatch, missing layout) is
        # real misconfiguration and must propagate, not get silently
        # retried under the table's recorded layout. Typed exception, not
        # message matching: a reworded error must not flip the handling.
        if exc.field != "n_buckets":
            raise
        kw.pop("n_buckets", None)
        return BucketedTxLogTable(spark, path, **kw)


def land(table, batch: DataFrame, txn: tuple[str, int], merge) -> None:
    """Land one CDC-shaped batch: ``init_from_events`` on an empty table,
    ``merge(batch, txn=txn)`` after. A landing lost to an EXTERNAL
    writer (a manual compaction window, another maintenance process)
    runs again, up to ``LAND_RETRIES`` times: the merge re-resolves from
    the new base and the txn tag keeps even a
    retried-after-partial-visibility batch exactly-once — the stream
    must not die on a losable race."""
    from cdc_streaming_pipeline_spark.sources.txlog import ConcurrentWriteError

    for attempt in range(LAND_RETRIES + 1):
        try:
            if table.latest_version() is None:
                table.init_from_events(batch, txn=txn)
            else:
                merge(batch, txn=txn)
            return
        except ConcurrentWriteError:
            if attempt == LAND_RETRIES:
                raise


def land_mor(table, df: DataFrame, batch_id: int, txn: tuple[str, int]) -> None:
    """Land one table's new rows O(batch): bootstrap on first batch,
    merge-on-read after — appended bucket-pure files, zero bucket
    rewrites, and (keys being novel + leading-key blooms) a stored-image
    scan the sidecars prune to nothing. Lost races retry as ``land``
    says."""
    land(table, cdc_shape(df, batch_id), txn, table.merge_cdc_batch_mor)


def maintain(
    table,
    batch_id: int,
    max_files_per_bucket: int | None,
    vacuum_every: int | None,
    vacuum_retain_versions: int = 10,
    vacuum_min_age_seconds: float = 3600.0,
    cluster_cols: list[str] | None = None,
    max_dv_fraction: float | None = None,
) -> None:
    """Post-commit maintenance, in order (``bucketed_merge_stream_sink``
    documents each knob; ``None`` skips a step): fold buckets holding
    more than ``max_files_per_bucket`` files, fold the buckets holding
    a file over ``max_dv_fraction`` deletion-vector debt (one metadata
    snapshot decides; the MoR merge folds its own debt, so this finds
    only ``delete_where``/``update_where`` vectors in buckets no batch
    rewrote), vacuum every ``vacuum_every`` batches. A fold lost to an
    external commit is left to the next batch.
    Maintenance commits are untagged: a replayed batch no-ops its merge
    via the txn tag, and re-running maintenance is a logical no-op."""
    from cdc_streaming_pipeline_spark.sources.txlog import (
        ConcurrentWriteError,
        dv_debt_files,
        snapshot,
        vacuum,
    )

    n = int(batch_id) + 1

    def fold(**kw) -> None:
        try:
            table.compact_buckets(cluster_cols=cluster_cols, **kw)
        except ConcurrentWriteError:
            pass  # raced an external commit: the next batch folds

    if max_files_per_bucket is not None:
        fold(min_files=max_files_per_bucket + 1)
    if max_dv_fraction is not None:
        snap = snapshot(table)
        debt = {
            f: snap.dvs[f]["n"]
            for f in snap.files
            if f in snap.dvs and f in snap.buckets
        }
        dirty = {
            snap.buckets[f] for f in dv_debt_files(debt, snap.nulls, max_dv_fraction)
        }
        if dirty:
            fold(buckets=sorted(dirty), min_files=1)
    if vacuum_every and n % vacuum_every == 0:
        vacuum(
            table,
            retain_versions=vacuum_retain_versions,
            min_age_seconds=vacuum_min_age_seconds,
        )
