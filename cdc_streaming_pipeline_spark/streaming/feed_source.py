"""The change feed as a REAL Structured Streaming source:
``ChangeFeedSource``'s poll/advance hand loop re-expressed under
Spark's own trigger, checkpoint and recovery machinery via the Spark 4
Python Data Source API — the broker-less stand-in for the
reference's Debezium→Kafka spine (reference:
airflow/dags/cdc_pipeline_dag.py consumes exactly such a feed), now
with the CURSOR IN THE CHECKPOINT instead of a side file.

Design: the streaming SOURCE is deliberately metadata-only — it streams
one row per committed log version (offset = the version cursor, stored
in Spark's offset WAL). The EVENT derivation (``table_changes`` over
the versions' touched files) is a distributed Spark computation, so it
runs where the SparkSession lives: in the micro-batch's
``foreachBatch``, which derives the slice and lands it with the
batch's top version as the txn epoch. The Python data source's
``read()`` executes in session-less worker processes and must stay
pure Python — pushing the feed derivation into it would serialize a
distributed join through one task; streaming versions keeps each
micro-batch's heavy work on the cluster.

Exactly-once composition (the streaming-checkpoint contract):

- Spark's checkpoint owns the cursor: a crash before the batch commits
  replays the SAME version range from the offset WAL;
- the landing merge is tagged ``txn=(writer_id, top_version)``, and a
  replayed range re-derives the same events and NO-OPS on its tag
  (epochs are monotone because versions are);
- so every committed version lands exactly once, across kills,
  restarts, and duplicated triggers.
"""

from __future__ import annotations

import json
import os
from glob import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


class TxlogVersionsDataSource(DataSource):
    """Streaming source over a txlog table's commit log: one row per
    committed version, schema ``(version long, mode string)``.

    Options:
    - ``path`` (required): the table root (the reader probes
      ``<path>/_txlog`` directly — pure file metadata, no table
      handle, no Spark session).
    - ``maxVersionsPerTrigger`` (default 100): rate limit — each
      micro-batch advances the cursor by at most this many versions.
      The first trigger after a restart is bounded by
      commits-since-checkpoint instead (the reader learns the restored
      cursor only when the batch is planned).

    Register once per session (idempotent) and read:

    >>> spark.dataSource.register(TxlogVersionsDataSource)
    >>> spark.readStream.format("txlog_versions").option("path", p).load()
    """

    @classmethod
    def name(cls) -> str:
        return "txlog_versions"

    def schema(self) -> str:
        return "version long, mode string"

    def streamReader(self, schema):
        return _VersionsStreamReader(self.options)


def _opt(options, name: str, default=None):
    """Python data source options arrive with case-preserved keys on
    some paths and lowercased on others — read both."""
    if name in options:
        return options[name]
    return options.get(name.lower(), default)


class _VersionsStreamReader(DataSourceStreamReader):
    """Driver-side cursor manager. Offsets are ``{"version": v}`` —
    the greatest version PLANNED so far; a batch covers the dense
    range (start, end]. Committed versions are dense consecutive
    integers (every writer races for latest+1), so min/max of a batch
    fully describes it."""

    def __init__(self, options):
        path = _opt(options, "path") or _opt(options, "table_path")
        if not path:
            raise ValueError("txlog_versions needs option 'path'")
        self.log_dir = os.path.join(path, "_txlog")
        self.max_per_trigger = int(_opt(options, "maxVersionsPerTrigger", 100))
        start = _opt(options, "startVersion")
        self._start = int(start) if start is not None else -1
        self._last_planned: int | None = None

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def _latest_committed(self) -> int:
        names = (
            os.path.basename(p)[:-5]
            for p in glob(os.path.join(self.log_dir, "*.json"))
        )
        vs = [int(n) for n in names if n.isdigit()]
        return max(vs) if vs else -1

    def latestOffset(self) -> dict:
        latest = self._latest_committed()
        if self._last_planned is not None:
            latest = min(latest, self._last_planned + self.max_per_trigger)
            latest = max(latest, self._last_planned)  # never regress
        self._last_planned = latest
        return {"version": latest}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["version"], end["version"]
        self._last_planned = hi
        return [
            InputPartition(json.dumps({"log_dir": self.log_dir, "v": v}))
            for v in range(lo + 1, hi + 1)
        ]

    def read(self, partition):
        spec = json.loads(partition.value)
        with open(os.path.join(spec["log_dir"], f"{spec['v']:08d}.json")) as f:
            e = json.load(f)
        yield (spec["v"], e.get("mode"))

    def commit(self, end: dict) -> None:
        pass  # the offset WAL is the durable cursor; nothing to ack


def feed_replication_stream(
    spark: SparkSession,
    source_path: str,
    dest_path: str,
    checkpoint_path: str,
    key_cols: list[str],
    n_buckets: int = 16,
    writer_id: str = "feed_stream",
    max_versions_per_trigger: int = 100,
    available_now: bool = False,
    processing_time: str | None = None,
    dest_kwargs: dict | None = None,
):
    """Table A → change feed → table B as ONE streaming query: the
    broker-less replication loop under Spark's trigger/recovery
    machinery. Each micro-batch receives the newly committed version
    rows, derives their feed slice with the REAL distributed
    ``table_changes`` + ``feed_as_cdc_events``, and merges into the
    destination tagged ``txn=(writer_id, top_version)`` — the
    exactly-once recipe ``ChangeFeedSource`` documents, with the
    cursor-in-checkpoint half now owned by Spark. Returns the
    ``StreamingQuery``.

    Batches land through ``sink_util.land`` with ``merge_cdc_batch``,
    the merge kernel folding every touched bucket (copy-on-write): the
    first non-empty slice bootstraps B (an empty slice into an empty B
    lands nothing), and a merge lost to an external writer re-runs from
    the new head. ``bucketed_merge_stream_sink`` is the sink that lands
    with the deletion-vector rule. Kill/restart mid-stream is pinned in
    tests/test_feed_stream.py: the replayed range no-ops on its txn tag
    and B converges to A exactly."""
    from cdc_streaming_pipeline_spark.sources.txlog import (
        BucketedTxLogTable,
        feed_as_cdc_events,
        table_changes,
    )
    from cdc_streaming_pipeline_spark.streaming.sink_util import land

    spark.dataSource.register(TxlogVersionsDataSource)
    versions = (
        spark.readStream.format("txlog_versions")
        .option("path", source_path)
        .option("maxVersionsPerTrigger", str(max_versions_per_trigger))
        .load()
    )

    def land_slice(batch_df: DataFrame, batch_id: int) -> None:
        vs = [r["version"] for r in batch_df.select("version").collect()]
        if not vs:
            return
        lo, hi = min(vs), max(vs)
        src = BucketedTxLogTable(spark, source_path)
        events = feed_as_cdc_events(table_changes(src, lo - 1, hi))
        dest = BucketedTxLogTable(
            spark,
            dest_path,
            key_cols=key_cols,
            n_buckets=n_buckets,
            **(dest_kwargs or {}),
        )
        if dest.latest_version() is None and events.isEmpty():
            return
        land(dest, events, (writer_id, hi), dest.merge_cdc_batch)

    writer = (
        versions.writeStream.foreachBatch(land_slice)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
