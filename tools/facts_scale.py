"""Fact-resolution scale evidence: metadata cost stays FLAT as a table
AGES (r13 verdict item 4).

Every skipping/correctness fact (stats, dicts, nulls, blooms, deletion
vectors, bucket tags, layouts, byte sizes) is folded by ONE
``snapshot`` replay: the newest checkpoint plus the post-checkpoint log
suffix. Checkpoints restrict every fact map to LIVE files, so
resolution cost is O(live files + commits-since-checkpoint) —
independent of how many commits the table has accumulated. This tool
PROVES that shape the way SCALE10_r11 proved it for vacuum/compact: age
the log to 500 and then 5,000 commits (live-file count held CONSTANT —
each synthetic commit adds one file and removes one, the steady-state
CDC shape) with a checkpoint every 10 commits, and time the snapshot
build, and all ten ``resolve_*`` reads on top of it, from a FRESH
handle at both ages; the log-metadata GETs of one build are counted at
the blob seam. Flat wall + flat GETs + flat bytes-read = no fold is
O(age).

Synthetic commits exercise the resolution path only (entries carry real
fact payloads; no data bytes move) — resolution is pure metadata, so
this measures exactly what a 100 TB deployment pays per operation.

Usage: python tools/facts_scale.py [ages...]   (default 500 5000)
Prints one JSON line per age.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.blob import PosixBlobStore
from cdc_streaming_pipeline_spark.session import get_spark
from cdc_streaming_pipeline_spark.sources import txlog
from cdc_streaming_pipeline_spark.sources.txlog import (
    BucketedTxLogTable,
    TxLogTable,
    _checkpoint_path,
    _last_checkpoint_version,
    snapshot,
    write_checkpoint,
)

AGES = [int(a) for a in sys.argv[1:]] or [500, 5000]
N_BUCKETS = 64


def _synth_commit(t: BucketedTxLogTable, i: int, window: list[str]) -> None:
    """One steady-state CDC commit: add one file, retire the one that
    leaves the 64-file live window, with the full fact complement a
    stats+bloom handle would record."""
    v = t.latest_version() + 1
    f = os.path.join(t.data_dir, "synth", f"{i:07d}.parquet")
    removes = [window.pop(0)] if len(window) >= N_BUCKETS else []
    window.append(f)
    entry = {
        "version": v,
        "mode": "merge",
        "adds": [f],
        "removes": removes,
        "n_files": 1,
        "file_buckets": {f: i % N_BUCKETS},
        "file_layout_n": {f: N_BUCKETS},
        "file_bytes": {f: 8 << 20},
        "file_stats": {f: {"amount": [float(i), float(i) + 1000.0]}},
        "file_nulls": {f: {"amount": [0, 31250]}},
        "file_dicts": {f: {"status": ["open", "closed", "shipped"]}},
        "file_blooms": {
            f: {"customer": {"path": f + ".bf", "m": 131072, "k": 5, "dtype": "bigint"}}
        },
    }
    if i % 7 == 0:
        entry["file_dvs"] = {f: {"path": f + ".dv", "n": 3}}
    assert t._try_commit(v, entry)
    if v % 10 == 0:
        write_checkpoint(t, v)


RESOLVERS = [
    "resolve_snapshot_state", "resolve_with_checkpoint", "resolve_table_meta",
    "resolve_file_stats", "resolve_file_bytes", "resolve_file_layouts",
    "resolve_file_dicts", "resolve_file_nulls", "resolve_file_blooms",
    "resolve_file_dvs",
]


class _CountingStore(PosixBlobStore):
    def __init__(self):
        self.gets = 0
        self.bytes_read = 0

    def get(self, path: str) -> bytes:
        data = super().get(path)
        self.gets += 1
        self.bytes_read += len(data)
        return data


def _min_ms(path: str, fn) -> float:
    walls = []
    for _ in range(5):
        t = TxLogTable(None, path)  # fresh handle: no caches
        t0 = time.perf_counter()
        fn(t)
        walls.append(time.perf_counter() - t0)
    return round(1000 * min(walls), 2)


def _measure(path: str) -> dict:
    out: dict = {
        "snapshot_ms": _min_ms(path, snapshot),
        "resolve_all_ms": _min_ms(
            path, lambda t: [getattr(txlog, name)(t) for name in RESOLVERS]
        ),
    }
    store = _CountingStore()
    t = TxLogTable(None, path, blob_backend=store)
    snap = snapshot(t)
    out["log_gets"] = store.gets
    out["log_bytes_read"] = store.bytes_read
    ckv = _last_checkpoint_version(t)
    out["checkpoint_bytes"] = os.path.getsize(_checkpoint_path(t, ckv))
    out["entries_after_checkpoint"] = snap.version - ckv
    out["live_files"] = len(snap.files)
    return out


def main() -> None:
    spark = get_spark("facts_scale")
    root = tempfile.mkdtemp(prefix="factscale-")
    try:
        path = os.path.join(root, "t")
        t = BucketedTxLogTable(
            spark, path, key_cols=["id"], n_buckets=N_BUCKETS,
            stats_cols=["amount"], checkpoint_interval=10,
        )
        seed = spark.range(100_000).select(
            "id",
            (F.col("id") % 1000).cast("double").alias("amount"),
            F.lit("open").alias("status"),
            F.lit("r").alias("_op"),
            F.lpad(F.col("id").cast("string"), 12, "0").alias("_lsn"),
            F.lit(None).cast("string").alias("_deleted"),
        )
        t.init_from_events(seed)
        window: list[str] = []
        done = 0
        for age in sorted(AGES):
            t0 = time.time()
            for i in range(done, age):
                _synth_commit(t, i, window)
            done = age
            aging_wall = time.time() - t0
            row = {"age_commits": t.latest_version(), "aging_wall_s": round(aging_wall, 1)}
            row.update(_measure(path))
            print(json.dumps(row))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
