"""The frame-lifetime helper and the width rule in sources/tables.py:
``keep`` (one LRU registry of persisted frames over Spark's cache
manager) and ``fan_out`` (job-free compute fan-out)."""

from __future__ import annotations

import sys
import threading
from collections import OrderedDict

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.sources import tables
from cdc_streaming_pipeline_spark.sources.tables import fan_out, keep


def _cached(df) -> bool:
    """Whether Spark's cache manager holds ``df``'s plan."""
    return df.storageLevel != StorageLevel.NONE


@pytest.fixture
def registry(monkeypatch):
    """A fresh, small registry; frames it still holds are released after."""
    kept: OrderedDict = OrderedDict()
    monkeypatch.setattr(tables, "_KEPT", kept)
    monkeypatch.setattr(tables, "KEEP_MAX", 3)
    yield kept
    for df in kept.values():
        df.unpersist()


def test_keep_past_the_cap_unpersists_the_least_recent(spark, registry):
    frames = [keep(spark.range(100).filter(F.col("id") > i)) for i in range(4)]
    assert list(registry.values()) == frames[1:]
    assert not _cached(frames[0])
    assert all(_cached(df) for df in frames[1:])


def test_keep_hit_refreshes_recency(spark, registry):
    a, b, c = (keep(spark.range(100).filter(F.col("id") > i)) for i in range(3))
    assert keep(spark.range(100).filter(F.col("id") > 0)) is a
    keep(spark.range(100).filter(F.col("id") > 3))
    assert _cached(a) and not _cached(b) and _cached(c)


def test_keep_returns_the_kept_frame_for_a_fresh_read(spark, registry, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(50).withColumn("v", F.col("id") * 2).write.parquet(path)

    def build():
        return spark.read.parquet(path).select("id", (F.col("v") + 1).alias("w"))

    first = keep(build())
    assert keep(build()) is first
    assert len(registry) == 1
    # semanticHash erases output names: a renamed column is its own frame
    renamed = keep(build().withColumnRenamed("w", "x"))
    assert renamed is not first and renamed.columns == ["id", "x"]


def test_keep_from_many_threads_returns_one_frame_per_plan(spark, registry, monkeypatch):
    """Threads that keep equal plans at once all get the same kept frame."""
    monkeypatch.setattr(tables, "KEEP_MAX", 8)
    got: list[list] = [[] for _ in range(4)]
    errors = []

    def worker():
        try:
            for i in range(4):
                got[i].append(keep(spark.range(100).filter(F.col("id") > i)))
        except Exception as exc:  # noqa: BLE001 — reported by the assert below
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(registry) == 4
    for frames in got:
        assert len(frames) == 8 and all(df is frames[0] for df in frames)
        assert _cached(frames[0])


def test_dedup_operators_share_one_shingle_frame(spark, registry, monkeypatch):
    """ngram_jaccard_pairs and ngram_containment_pairs both build the plain
    shingle frame of one corpus; the second reads the first's from cache."""
    from cdc_streaming_pipeline_spark.operators import dedup

    monkeypatch.setattr(tables, "KEEP_MAX", 8)
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "a completely different sentence about cdc pipelines",
        "the quick brown fox jumps over the lazy dog again",
    ]
    corpus = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    jac = dedup.ngram_jaccard_pairs(corpus, jaccard_threshold=0.1)
    assert jac.count() > 0
    kept_after_jaccard = list(registry.values())
    cont = dedup.ngram_containment_pairs(corpus, containment_threshold=0.1)
    assert cont.count() > 0
    # the containment call kept no frame the Jaccard call had not kept
    assert all(any(df is k for k in kept_after_jaccard) for df in registry.values())
    cached_plan = cont._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" in cached_plan


def test_fanout_fires_no_job_on_a_shuffled_input(spark):
    sc = spark.sparkContext
    shuffled = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    sc.setJobGroup("fan-out-probe", "fan_out on a shuffled input")
    try:
        fan_out(shuffled)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("fan-out-probe")) == []


def test_fanout_spreads_a_one_partition_input(spark):
    one = spark.range(0, 100, 1, 1)
    assert one.rdd.getNumPartitions() == 1
    spread = fan_out(one)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_fanout_keeps_an_input_estimated_wider_than_the_cores(spark):
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        df = spark.range(0, 1000, 1, 1)  # 8000 B estimate → 500 splits
        assert fan_out(df) is df
    finally:
        spark.conf.set(key, before)
