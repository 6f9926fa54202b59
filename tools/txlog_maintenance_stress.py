"""Maintenance-path metadata cost vs table age (r10 verdict #1).

The maintenance paths resolve through the same checkpoint-bounded
``snapshot`` as the hot path. A from-zero replay instead — ``vacuum``
replaying once per retained version (O(retain x age)),
``compact``/``commit(mode="overwrite")`` replaying their removes from
zero — pays, at the CDC design point (~500k commits/year), a daily
replay wall that grows with the table's age.

This is a DRIVER-ONLY stress (no Spark session, no data files): it
synthesizes a bucket-shaped log — version 0 adds 64 files, every later
commit replaces one — with checkpoints every 10 commits, then at each
age milestone measures:

- ``vacuum`` wall (ONE checkpoint-bounded snapshot at the horizon +
  the retained suffix's adds),
- the from-zero shape (a full replay per retained version),
- ``compact``'s removes resolution (``snapshot(...).files``) vs a
  from-zero replay.

Every measured call runs on a FRESH handle, so no cached entry or
snapshot flatters either shape.

Run:  python tools/txlog_maintenance_stress.py [max_commits]
Emits a markdown table for .benchmarks/SCALE10_r11.md.
"""

from __future__ import annotations

import json
import sys
import time

from cdc_streaming_pipeline_spark.sources.txlog import (
    TxLogTable,
    snapshot,
    vacuum,
    write_checkpoint,
)


def _mk_table(path: str) -> TxLogTable:
    # spark is unused by every metadata-only path exercised here
    return TxLogTable(spark=None, path=path)


def _replay_from_zero(t: TxLogTable, version: int) -> list[str]:
    """The live files at ``version`` by parsing every entry from 0."""
    files: list[str] = []
    for v in range(version + 1):
        e = json.loads(t.blob.get_text(t._entry_path(v)))
        removed = set(e.get("removes", []))
        files = [f for f in files if f not in removed] + e.get("adds", [])
    return files


def _commit_entry(t: TxLogTable, version: int, adds, removes) -> None:
    ok = t._put_if_absent(
        t._entry_path(version),
        json.dumps(
            {
                "version": version,
                "mode": "merge",
                "adds": adds,
                "removes": removes,
                "n_files": len(adds),
                "file_buckets": {f: i % 64 for i, f in enumerate(adds)},
                "schema": {"type": "struct", "fields": []},
            }
        ),
    )
    assert ok


def _min_of(fn, n=5) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> int:
    import tempfile

    max_commits = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    milestones = [m for m in (500, 1000, 2500, 5000) if m <= max_commits]
    root = tempfile.mkdtemp(prefix="txlog_maint_")
    t = _mk_table(f"{root}/t")
    files0 = [f"{t.data_dir}/stage-init/b{i}.parquet" for i in range(64)]
    _commit_entry(t, 0, files0, [])
    write_checkpoint(t, 0)

    print("| accumulated commits | vacuum wall (new, retain=5) | "
          "old shape (per-version from-zero replay) | compact removes "
          "(new) | compact removes (old) |")
    print("|---|---|---|---|---|")
    v = 0
    for target in milestones:
        while v < target:
            v += 1
            old_f = f"{t.data_dir}/stage-init/b{(v - 1) % 64}.parquet" if v <= 64 else (
                f"{t.data_dir}/stage-{v - 64:06d}/b0.parquet"
            )
            _commit_entry(t, v, [f"{t.data_dir}/stage-{v:06d}/b0.parquet"], [old_f])
            if v % 10 == 0:
                write_checkpoint(t, v)

        latest = t.latest_version()
        horizon = max(latest - 5 + 1, 0)
        new_vac = _min_of(
            lambda: vacuum(_mk_table(t.path), retain_versions=5, min_age_seconds=0.0)
        )

        def old_shape():
            live: set[str] = set()
            for rv in range(horizon, latest + 1):
                live.update(_replay_from_zero(t, rv))
            return live

        old_vac = _min_of(old_shape, n=3)
        new_cmp = _min_of(lambda: snapshot(_mk_table(t.path), latest).files)
        old_cmp = _min_of(lambda: _replay_from_zero(t, latest), n=3)
        # the two shapes agree on the live set (correctness of the fast path)
        fast = set(snapshot(t, horizon).files)
        for rv in t._versions_between(horizon + 1, latest):
            fast.update(t._read_entry(rv).get("adds", []))
        assert fast == old_shape(), "live-set mismatch between shapes"
        print(
            f"| {target} | {new_vac * 1e3:.2f} ms | {old_vac * 1e3 / 3 * 3:.0f} ms "
            f"| {new_cmp * 1e3:.2f} ms | {old_cmp * 1e3:.0f} ms |"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
