"""JDBC polling-incremental source — SURVEY S1's second native approach to
database change capture (SURVEY.md:151).

The reference captures Postgres changes log-based via a Debezium connector
(reference: docker-compose.yml:40-99, kafka/connect/Dockerfile:4-7,
postgres/Dockerfile:5 enables logical WAL). The polling alternative needs no
WAL access at all: one full snapshot, then periodic reads of rows whose
``updated_at`` exceeds the last high watermark. That maps directly onto
Spark's JDBC relation:

- **snapshot** — ``spark.read.jdbc`` with ``partitionColumn/lowerBound/
  upperBound/numPartitions`` so the initial read is N parallel range
  queries against the source, not one connection dragging the whole table
  (the 100 TB lever: a 10⁹-row table snapshots as hundreds of concurrent
  range scans, each a vanilla indexed SELECT).
- **poll** — the watermark predicate is expressed as a DataFrame filter;
  the JDBC relation pushes it down into the remote WHERE clause, so each
  poll ships only the delta over the wire.

Emitted batches are CDC-envelope-shaped (``_op``/``_table``/``_lsn`` per
schemas.py) so the entire downstream chain — ``latest_state``,
``scd2_history``, time partitioning, landing — is byte-identical to the
Debezium path: op ``r`` for snapshot reads, ``u`` for polled changes
(polling cannot distinguish insert from update; latest-row-wins downstream
makes the distinction irrelevant). ``_lsn`` is the zero-padded epoch-micros
of the watermark column — monotone per key exactly like a WAL LSN.

Known, documented gap vs log-based CDC: **polling cannot observe hard
DELETEs** (a vanished row emits no event). Soft-delete columns work
naturally (the UPDATE that sets the flag is captured; pass
``soft_delete_col`` to rewrite it to op 'd'). This is the same trade every
polling connector makes.

Watermark safety: polls read strictly-greater-than ``watermark -
lookback``. With lookback 0 a row committed with the *same* timestamp as
the current watermark after the poll ran would be missed; a positive
lookback re-reads the overlap window and downstream latest-row-wins makes
the re-read idempotent. The watermark itself is a single scalar — persist
it wherever the pipeline checkpoints (it is returned from every batch).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.schemas import DELETED_COL, LSN_COL, OP_COL, TABLE_COL
from cdc_streaming_pipeline_spark.sources.tables import keep

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"  # ships in Spark's jars


def jdbc_reader(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound: Any | None = None,
    upper_bound: Any | None = None,
) -> DataFrame:
    """Configured JDBC relation. With a partition column + bounds the scan
    is ``num_partitions`` parallel range queries; bounds not supplied are
    fetched with one min/max aggregate pushed to the source."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        reader = reader.option("driver", driver)
    if partition_column:
        if lower_bound is None or upper_bound is None:
            # one 1-row agg on the remote side; generated SQL is pushed down
            bounds_df = (
                spark.read.format("jdbc")
                .option("url", url)
                .option(
                    "dbtable",
                    f'(SELECT MIN("{partition_column}") AS lo, '
                    f'MAX("{partition_column}") AS hi FROM {table}) t',
                )
                .options(**({"driver": driver} if driver else {}))
                .load()
            )
            row = bounds_df.collect()[0]
            lower_bound = row[0] if lower_bound is None else lower_bound
            upper_bound = row[1] if upper_bound is None else upper_bound
        if lower_bound is None or upper_bound is None:
            # empty source table: bounds are NULL; fall back to serial read
            return reader.load()
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or spark.sparkContext.defaultParallelism))
        )
    return reader.load()


def as_cdc_events(
    df: DataFrame,
    table: str,
    op: str,
    watermark_col: str = "updated_at",
    soft_delete_col: str | None = None,
) -> DataFrame:
    """Wrap a polled/snapshotted frame in the flat CDC envelope
    (schemas.py:23-35): ``_op``, ``_table``, ``_lsn`` (zero-padded epoch
    micros of the watermark column — monotone per key, same contract as the
    Debezium ``_lsn``), ``_deleted``. A soft-delete flag column, when
    given, rewrites the op to 'd' + ``_deleted='true'`` so downstream
    ``latest_state`` drops the row exactly like a log-captured delete."""
    op_col = F.lit(op)
    deleted = F.lit(None).cast("string")
    if soft_delete_col is not None and soft_delete_col in df.columns:
        is_del = F.coalesce(F.col(soft_delete_col).cast("boolean"), F.lit(False))
        op_col = F.when(is_del, F.lit("d")).otherwise(op_col)
        deleted = F.when(is_del, F.lit("true")).otherwise(deleted)
    return (
        df.withColumn(OP_COL, op_col)
        .withColumn(TABLE_COL, F.lit(table))
        .withColumn(
            LSN_COL,
            F.lpad(F.unix_micros(F.col(watermark_col).cast("timestamp")), 20, "0"),
        )
        .withColumn(DELETED_COL, deleted)
    )


@dataclass
class JdbcIncrementalSource:
    """Snapshot + polling-incremental reader over one source table.

    >>> src = JdbcIncrementalSource(spark, url, "customer", driver=DERBY_DRIVER)
    >>> snap = src.snapshot()        # op='r' rows, watermark initialized
    >>> batch = src.poll()           # rows with updated_at > watermark, op='u'

    State is one scalar (``watermark``) — checkpoint it alongside the
    pipeline's other offsets (catalog.py stream metrics) to resume.
    """

    spark: SparkSession
    url: str
    table: str
    driver: str | None = None
    watermark_col: str = "updated_at"
    partition_column: str | None = None
    num_partitions: int | None = None
    soft_delete_col: str | None = None
    lookback_seconds: float = 0.0
    watermark: Any = None

    def _read(self) -> DataFrame:
        return jdbc_reader(
            self.spark,
            self.url,
            self.table,
            driver=self.driver,
            partition_column=self.partition_column,
            num_partitions=self.num_partitions,
        )

    def _advance(self, df: DataFrame) -> DataFrame:
        """Materialize the batch's max watermark (one tiny agg) and advance
        the stored scalar. Kept (``tables.keep``) so the consumer's action
        does not re-poll the source with a now-stale predicate, and a
        poller that runs forever holds a bounded number of batches."""
        df = keep(df)
        row = df.agg(F.max(self.watermark_col).alias("wm")).collect()[0]
        if row["wm"] is not None and (self.watermark is None or row["wm"] > self.watermark):
            self.watermark = row["wm"]
        return df

    def snapshot(self) -> DataFrame:
        """Full parallel snapshot, op='r' (Debezium's snapshot phase emits
        the same op — reference connector config snapshot.mode=initial)."""
        batch = self._advance(self._read())
        return as_cdc_events(
            batch, self.table, "r", self.watermark_col, self.soft_delete_col
        )

    def poll(self) -> DataFrame:
        """Rows changed since the last watermark, op='u'. The filter is
        pushed down into the remote WHERE clause by the JDBC relation."""
        if self.watermark is None:
            return self.snapshot()
        cutoff = F.lit(self.watermark).cast("timestamp")
        if self.lookback_seconds:
            cutoff = cutoff - F.expr(
                f"INTERVAL {float(self.lookback_seconds)} SECONDS"
            )
        batch = self._advance(
            self._read().filter(F.col(self.watermark_col).cast("timestamp") > cutoff)
        )
        return as_cdc_events(
            batch, self.table, "u", self.watermark_col, self.soft_delete_col
        )
