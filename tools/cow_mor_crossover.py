#!/usr/bin/env python
"""Copy-on-write vs merge-on-read cost of a trickle CDC merge, by bucket size.

Usage:
    python tools/cow_mor_crossover.py [--sizes-kib 256,1024,4096,16384]
        [--merges 4] [--keys 16] [--cpus 4]

For each per-bucket size it builds two 4-bucket tables of the same rows
(a SHA-256 hex padding column, so the parquet bytes track the size asked
for) and applies the same trickle batches (``--keys`` updates of random
stored keys, spread over every bucket) to each:

- ``cow``: ``merge_cdc_batch`` rewrites every touched bucket;
- ``mor``: ``merge_cdc_batch_mor(max_dv_fraction=0.3)`` on a handle with
  ``target_file_bytes=1`` scans and vectors every touched bucket, with the
  DV-debt fold the stream sink runs.

Per mode it prints the median process-tree CPU seconds (the Spark JVM
included) and wall seconds of one merge (the first, warm-up merge of each
table untimed), the bytes one merge adds under the table directory, and
the CPU seconds of one full state read after the merges (a merge-on-read
table pays the vectors' anti-join on every read).
The size at which ``mor`` merge CPU drops below ``cow`` is the crossover
the merge's copy-on-write half should sit at.
"""

from __future__ import annotations

import argparse
import os
import random
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

S = "id bigint, amount double, g string, _op string, _lsn string, _deleted string"
ROW_BYTES = 88  # ~parquet bytes per row of the padded schema; the real size is printed


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def measure(spark, root: str, kib: int, mode: str, merges: int, keys: int) -> dict:
    from pyspark.sql import functions as F

    from cdc_streaming_pipeline_spark.sources.txlog import BucketedTxLogTable
    from perfbench.harness import tree_cpu_s

    n = kib * 1024 * 4 // ROW_BYTES
    t = BucketedTxLogTable(
        spark, os.path.join(root, f"{mode}_{kib}"), key_cols=["id"], n_buckets=4,
        stats_cols=["amount"], bloom_cols=["id"],
    )
    t.init_from_events(
        spark.range(n).select(
            "id",
            F.col("id").cast("double").alias("amount"),
            F.sha2(F.col("id").cast("string"), 256).alias("g"),
            F.lit("r").alias("_op"),
            F.format_string("%012d", "id").alias("_lsn"),
            F.lit(None).cast("string").alias("_deleted"),
        )
    )
    live = dir_bytes(t.data_dir) // 4
    if mode == "mor":
        t.target_file_bytes = 1
    rng = random.Random(kib)
    cpu, wall, wrote = [], [], []
    for step in range(merges + 1):
        batch = spark.createDataFrame(
            [
                (k, float(step), "u", "u", f"9{step:011d}", None)
                for k in rng.sample(range(n), keys)
            ],
            S,
        )
        c0, w0, b0 = tree_cpu_s(), time.perf_counter(), dir_bytes(t.path)
        if mode == "cow":
            t.merge_cdc_batch(batch)
        else:
            t.merge_cdc_batch_mor(batch, max_dv_fraction=0.3)
        if step:  # the first merge warms the plan and code caches
            cpu.append(tree_cpu_s() - c0)
            wall.append(time.perf_counter() - w0)
            wrote.append(dir_bytes(t.path) - b0)
    c0 = tree_cpu_s()
    t.read_state().agg(F.sum("amount")).collect()
    return {
        "bucket_bytes": live,
        "merge_cpu_s": statistics.median(cpu),
        "merge_wall_s": statistics.median(wall),
        "merge_bytes": statistics.median(wrote),
        "read_cpu_s": tree_cpu_s() - c0,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sizes-kib", default="256,1024,4096,16384")
    p.add_argument("--merges", type=int, default=4)
    p.add_argument("--keys", type=int, default=16)
    p.add_argument("--cpus", type=int, default=4)
    args = p.parse_args(argv)

    from cdc_streaming_pipeline_spark.session import get_spark

    spark = get_spark(
        "cow_mor_crossover", cpus=args.cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1000).count()  # JVM warm-up outside the timed merges
    with tempfile.TemporaryDirectory() as root:
        for kib in (int(s) for s in args.sizes_kib.split(",")):
            for mode in ("cow", "mor"):
                r = measure(spark, root, kib, mode, args.merges, args.keys)
                print(
                    f"bucket {r['bucket_bytes'] / 1024:9.0f} KiB {mode}: merge cpu "
                    f"{r['merge_cpu_s']:6.2f} s wall {r['merge_wall_s']:6.2f} s "
                    f"writes {r['merge_bytes'] / 1024:9.0f} KiB; "
                    f"read cpu {r['read_cpu_s']:6.2f} s",
                    flush=True,
                )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
