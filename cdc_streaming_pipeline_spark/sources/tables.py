"""Batch table loading over the driver-provided parquet testdata.

Parquet is the engine's native analytical format (columnar, predicate
pushdown, column pruning) — the reference's landed JSON-over-HDFS with
Hive schema-on-read maps to ``spark.read.schema(...).json`` and is kept
in sources/event_log.py for compatibility; analytical tables are parquet.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
from collections import OrderedDict
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_FIXTURES: dict[tuple[str, str, str], object] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver's events table stores INT64 TIMESTAMP(NANOS), which the
    # vectorized parquet reader rejects; read nanos as long and convert to
    # microsecond timestamps (integer division — no double round-trip).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Spark 4 defaults to inferring parquet timestamps without timezone
    # metadata as TIMESTAMP_NTZ, which unix_micros()/time arithmetic reject.
    # Pin at RUNTIME (not just session build) so callers that construct
    # their own SparkSession — like the correctness driver — get TIMESTAMP.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Belt-and-braces: if a cached relation or an engine default still
    # yields TIMESTAMP_NTZ, normalize to TIMESTAMP (session-local instant
    # semantics are identical here — testdata is generated timezone-naive).
    for col_name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    # NOTE: these files are single-row-group parquet (unsplittable), so
    # scans are single-partition. A blanket repartition here measured as a
    # net LOSS — tiny tables feeding Arrow/GEMM paths fragment into
    # overhead-dominated micro-batches. Operators whose per-row compute is
    # genuinely heavy fan out themselves (``fan_out`` below).
    return df


def fixture(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[str], Any]
) -> Any:
    """Build a query fixture once per (session, sf_dir, name) and return
    what ``build(root)`` returned: a table path, a tuple of facts about
    it, a fitted model. ``root`` is a scratch directory owned by this
    fixture alone; it is resolved per call, so a repointed ``TMPDIR``
    takes effect. Every build starts from an empty root, and a build that
    raises is neither memoized nor left on disk, so the next call
    rebuilds from scratch instead of serving a half-built table."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _FIXTURES:
        digest = hashlib.md5(f"{key[0]}:{sf_dir}".encode()).hexdigest()[:8]
        root = os.path.join(tempfile.gettempdir(), f"fixture-{name}-{digest}")
        shutil.rmtree(root, ignore_errors=True)
        try:
            _FIXTURES[key] = build(root)
        except BaseException:
            shutil.rmtree(root, ignore_errors=True)
            raise
    return _FIXTURES[key]


def fan_out(df: DataFrame) -> DataFrame:
    """Spread ``df`` over ``defaultParallelism`` partitions when its
    estimated natural width is below that, else return it unchanged.

    Partition count must follow COMPUTE cost before CPU-heavy per-row
    work (tokenize/shingle, deletion variants, Arrow batches): a small
    table arrives as ONE scan partition and would serialize that work
    onto one core. An explicit ``repartition(n)`` is not AQE-coalescible,
    so a wide input keeps its own partitioning instead of being shuffled
    DOWN to the core count. The width is estimated from the optimized
    plan — ``sizeInBytes / spark.sql.files.maxPartitionBytes`` — never
    read through ``.rdd``, which would run a shuffled input's shuffle as
    a hidden eager job; this fires no Spark job."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return df.repartition(par) if -(-size // split) < par else df


# Frames that outlive the call that built them (a shingle frame several
# dedup operators share, the id pairs a returned plan reads), in
# least-recently-kept-or-hit order. The cap holds every distinct frame
# one full registry pass at sf0.1 keeps (17, counted in bench.py order),
# so no frame is evicted within a pass. The lock serializes callers on a
# stream's foreachBatch thread with the main thread.
_KEPT: OrderedDict[tuple[str, int, str], DataFrame] = OrderedDict()
_KEPT_LOCK = threading.Lock()
KEEP_MAX = 17


def keep(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the plans that read it after this call returns,
    and return the frame to use: the one already kept for a semantically
    equal plan, or ``df`` itself, now persisted. Catalyst's cache manager
    serves every later plan over a kept frame, or over a plan semantically
    equal to it, from the frame's ``InMemoryRelation``, so reuse across
    calls needs no key beyond the plan's own. Past
    ``KEEP_MAX`` the least recently kept-or-hit frame is unpersisted
    without blocking; a plan still reading it only recomputes it from
    its lineage. The schema is part of the key because ``semanticHash``
    erases output names."""
    app = df.sparkSession.sparkContext.applicationId
    key = (app, df.semanticHash(), df.schema.simpleString())
    with _KEPT_LOCK:
        kept = _KEPT.pop(key, None)
        if kept is None:
            kept = df.persist()
        _KEPT[key] = kept
        while len(_KEPT) > KEEP_MAX:
            _KEPT.popitem(last=False)[1].unpersist(blocking=False)
    return kept


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view (for spark.sql use)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
