"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the config keys chosen here are the ones
that matter identically on a 1000-executor cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting).
- Shuffle partitions sized to the environment (cores locally; on a real
  cluster you'd size to ~2-3x total cores or let AQE coalesce from a high
  initial number).
- UTC session timezone (oracle comparability; never depend on host TZ).
- Arrow enabled for any pandas interchange (vectorized Python boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))


def _default_driver_memory() -> str:
    """``spark.driver.memory`` unless $SPARK_GRAFT_DRIVER_MEM sets it: half
    of physical memory, in whole GiB (at least 1). In local mode the
    driver JVM is the whole engine, and it also carries off-heap memory
    (metaspace, code cache, network buffers) next to the Python process
    and its workers; a heap cap above physical memory lets the JVM grow
    until the kernel kills it instead of collecting garbage."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 >> 30)}g"


def _default_local_dir() -> str | None:
    """Scratch dir for shuffle files / spills (``spark.local.dir``).

    OPT-IN ONLY via $SPARK_GRAFT_LOCAL_DIR (r16 made tmpfs the default
    whenever /dev/shm was writable — i.e. on every Linux host — and the
    r16 driver run showed why that was wrong twice over: (a) at scale it
    is an inversion — spill exists to RELIEVE memory (guide §5), so
    spilling into RAM-backed tmpfs consumes the same RAM and a
    half-of-RAM tmpfs cap turns big shuffles into ENOSPC job death; (b)
    even locally the measured win did not survive ground truth — the
    32-core driver suite regressed broadly with it on while the 8-core
    run did not, i.e. tmpfs shuffle under 32-way write concurrency is at
    best neutral and intermittently pathological. Deployments with a
    dedicated NVMe scratch array set the env var; the safe default is
    Spark's own (disk-backed) local dir."""
    return os.environ.get("SPARK_GRAFT_LOCAL_DIR") or None


def get_spark(
    app_name: str = "cdc_streaming_pipeline_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults.

    On a real cluster, drop the ``master`` call and submit with
    ``spark-submit``; every other config below is cluster-appropriate.
    """
    cpus = str(cpus or _DEFAULT_CPUS)
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Whole-stage-codegen class cache (static conf, default 100
        # entries): a many-query session — the 267-query bench, a long
        # analytics notebook, an executor serving a mixed workload —
        # evicts constantly at 100, so re-running a query pays janino
        # compilation again (observed as every task of a stage blocking
        # ~0.2 s on the codegen cache loader lock). Compiled-class cache,
        # not data/result caching; a few thousand entries is a few tens
        # of MB of JVM metaspace.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Spark 4 reads parquet timestamp[us] columns (no timezone metadata)
        # as TIMESTAMP_NTZ by default, which unix_micros/unix_timestamp/
        # watermark expressions reject. The session TZ is pinned to UTC above,
        # so LTZ reads preserve the exact instants the oracle (DuckDB) sees.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    local_dir = _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
