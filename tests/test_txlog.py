"""TxLogTable (sources/txlog.py): commit/read roundtrip, time travel,
snapshot isolation, optimistic-concurrency conflict rules, compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.sources.txlog import ConcurrentWriteError, TxLogTable
from tests.txlog_replay import replayed_files


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def _vals(df):
    return sorted(r["k"] for r in df.collect())


def test_append_read_roundtrip_and_versions(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    assert t.latest_version() is None
    v0 = t.commit(_df(spark, 0, 5))
    v1 = t.commit(_df(spark, 5, 8))
    assert (v0, v1) == (0, 1)
    assert _vals(t.read()) == list(range(8))
    assert [e["mode"] for e in t.history()] == ["append", "append"]


def test_time_travel_pins_old_versions(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 5))
    t.commit(_df(spark, 5, 8))
    t.commit(_df(spark, 100, 103), mode="overwrite")
    assert _vals(t.read(0)) == list(range(5))
    assert _vals(t.read(1)) == list(range(8))
    assert _vals(t.read()) == [100, 101, 102]


def test_snapshot_isolation_across_concurrent_commit(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 5))
    reader = t.read()  # resolved file list = version 0
    t.commit(_df(spark, 100, 200), mode="overwrite")
    # the pinned reader still sees version 0's rows, post-overwrite
    assert _vals(reader) == list(range(5))


def test_append_retries_past_lost_race(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3))
    # simulate a concurrent writer landing version 1 between resolve+commit
    steal = t._entry_path(1)
    with open(steal, "w") as f:
        f.write('{"version": 1, "mode": "append", "adds": [], "removes": []}')
    v = t.commit(_df(spark, 3, 6))
    assert v == 2  # blind append re-resolves and wins the next slot
    assert _vals(t.read()) == list(range(6))


def test_overwrite_conflict_raises(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 3))
    # this writer derived its overwrite FROM version 0; a concurrent
    # append lands first, so the declared base is stale
    with open(t._entry_path(1), "w") as f:
        f.write('{"version": 1, "mode": "append", "adds": [], "removes": []}')
    with pytest.raises(ConcurrentWriteError):
        t.commit(_df(spark, 60, 63), mode="overwrite", base=0)
    # the same race is SAFE for a blind append (retries to slot 2)
    assert t.commit(_df(spark, 3, 6)) == 2


def test_compact_shrinks_files_keeps_content_and_history(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.commit(_df(spark, i * 10, i * 10 + 3).repartition(3))
    pre_files = len(replayed_files(t))
    pre_vals = _vals(t.read())
    v = t.compact()
    assert len(replayed_files(t)) == 1 < pre_files
    assert _vals(t.read()) == pre_vals  # logical no-op
    assert _vals(t.read(v - 1)) == pre_vals  # pre-compaction still readable
    assert _vals(t.read(0)) == [0, 1, 2]  # deep history intact
    assert t.history()[-1]["mode"] == "compact"


def test_schema_evolution_merges_on_read(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 2))
    t.commit(_df(spark, 2, 4).withColumn("extra", F.lit(7)))
    df = t.read()
    assert set(df.columns) == {"k", "extra"}
    vals = {r["k"]: r["extra"] for r in df.collect()}
    assert vals[0] is None and vals[3] == 7


def test_txn_tag_makes_commits_idempotent(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    v1 = t.commit(_df(spark, 0, 5), txn=("writer", 7))
    v2 = t.commit(_df(spark, 0, 5), txn=("writer", 7))  # replay
    assert v1 == v2 and t.latest_version() == v1
    assert _vals(t.read()) == list(range(5))  # landed once
    # a different epoch is a genuinely new commit
    v3 = t.commit(_df(spark, 5, 8), txn=("writer", 8))
    assert v3 == v1 + 1
    assert t.txn_version(("writer", 7)) == v1
    assert t.txn_version(("writer", 99)) is None


def test_append_replayed_with_an_older_absent_epoch_lands_nothing(spark, tmp_path):
    """Every txn-tagged write shares one idempotence rule: an epoch at or
    below the writer's recorded one is already applied (epochs are
    monotonic per writer), even when no entry carries that exact epoch.
    An append replayed with such an epoch writes nothing and returns
    the recorded version, exactly as a merge does."""
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 2), txn=("w", 3))
    v = t.commit(_df(spark, 2, 4), txn=("w", 5))
    assert t.commit(_df(spark, 2, 4), txn=("w", 4)) == v  # epoch 4 never landed alone
    assert t.latest_version() == v
    assert _vals(t.read()) == list(range(4))


def test_streaming_sink_exactly_once_through_restart(spark, tmp_path):
    """File-source stream -> txlog sink; a second run with the same
    checkpoint must land only new input, and a manually replayed batch
    commit is a no-op."""
    import json as _json

    from cdc_streaming_pipeline_spark.streaming.pipeline import txlog_stream_sink

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def put(name, lo, hi):
        with open(src / name, "w") as f:
            for i in range(lo, hi):
                f.write(_json.dumps({"k": i}) + "\n")

    def run():
        stream = spark.readStream.schema("k bigint").json(str(src))
        q = txlog_stream_sink(stream, table_path, ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)

    put("a.json", 0, 10)
    run()
    t = TxLogTable(spark, table_path)
    assert _vals(t.read()) == list(range(10))

    put("b.json", 10, 15)
    run()  # same checkpoint: only the new file lands
    assert _vals(t.read()) == list(range(15))

    # simulate the crash-replay: re-commit an already-landed batch id
    last = t.history()[-1]
    writer, epoch = last["txn"]
    v = t.commit(_df(spark, 10, 15), txn=(writer, epoch))
    assert v == last["version"]
    assert _vals(t.read()) == list(range(15))  # still exactly once


def test_merge_cdc_batch_copy_on_write(spark, tmp_path):
    """On a one-bucket table every merge rewrites the whole table:
    upsert + delete semantics land as one atomic version; the pre-merge
    snapshot stays readable; a stale concurrent overwrite fails."""
    from cdc_streaming_pipeline_spark.sources.txlog import BucketedTxLogTable

    t = BucketedTxLogTable(spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=1)
    S = "id bigint, status string, _op string, _lsn string, _deleted string"
    seed = spark.createDataFrame(
        [(1, "a", "r", "0000", None), (2, "b", "r", "0000", None), (3, "c", "r", "0000", None)],
        S,
    )
    t.init_from_events(seed)
    batch = spark.createDataFrame(
        [
            (2, "B", "u", "0001", None),          # update key 2
            (3, "c", "d", "0002", "true"),        # delete key 3
            (4, "d", "c", "0003", None),          # insert key 4
        ],
        S,
    )
    v, _ = t.merge_cdc_batch(batch)
    got = {r["id"]: r["status"] for r in t.read_state().collect()}
    assert got == {1: "a", 2: "B", 4: "d"}
    # copy-on-write: the merge replaced every file of the table
    assert sorted(t._read_entry(v)["removes"]) == sorted(replayed_files(t, v - 1))
    # pre-merge state intact under the previous version
    pre = {r["id"]: r["status"] for r in t.read_state(v - 1).collect()}
    assert pre == {1: "a", 2: "b", 3: "c"}
    # a second writer merging against the now-stale base conflicts
    with pytest.raises(ConcurrentWriteError):
        t.commit(seed, mode="overwrite", base=v - 1)


def _assert_snapshot_is_fold(table, version):
    """Every Snapshot field at ``version``, resolved on a FRESH handle
    (nothing cached), equals the from-zero fold of the raw entries.
    Fact maps agree on every live file; facts a checkpoint dropped with
    their dead files may be missing, but any that are kept are the
    log's. The ``resolve_*`` functions return the same values."""
    from cdc_streaming_pipeline_spark.sources import txlog
    from tests.txlog_replay import ENTRY_FACTS, fold_log

    fresh = txlog.TxLogTable(table.spark, table.path, blob_backend=table.blob)
    snap = txlog.snapshot(fresh, version)
    want = fold_log(table, version)
    assert snap.version == want["version"] == version
    assert snap.files == want["files"]
    for name in ("buckets", "txns", "schema", "table_meta"):
        assert getattr(snap, name) == want[name], (version, name)
    live = set(snap.files)
    for name in ENTRY_FACTS.values():
        got = getattr(snap, name)
        assert {f: m for f, m in got.items() if f in live} == {
            f: m for f, m in want[name].items() if f in live
        }, (version, name)
        assert all(want[name].get(f) == m for f, m in got.items()), (version, name)
    assert txlog.resolve_snapshot_state(fresh, version) == (
        snap.files, snap.buckets, snap.txns
    )
    for name, fn in (
        ("stats", txlog.resolve_file_stats),
        ("bytes", txlog.resolve_file_bytes),
        ("layouts", txlog.resolve_file_layouts),
        ("dicts", txlog.resolve_file_dicts),
        ("nulls", txlog.resolve_file_nulls),
        ("blooms", txlog.resolve_file_blooms),
        ("dvs", txlog.resolve_file_dvs),
    ):
        assert fn(fresh, version) == getattr(snap, name)
    assert txlog.resolve_with_checkpoint(fresh, version) == snap.files
    assert txlog.resolve_table_meta(fresh, version) == snap.table_meta
    assert txlog._resolve_schema_json(fresh, version) == snap.schema
    return snap


def test_checkpoint_resolution_equals_full_replay(spark, tmp_path):
    import json
    import os as _os

    from cdc_streaming_pipeline_spark.sources.txlog import (
        BucketedTxLogTable,
        analyze_table,
        resolve_with_checkpoint,
        write_checkpoint,
    )

    t = TxLogTable(spark, str(tmp_path / "t"))
    for i in range(5):
        t.commit(_df(spark, i * 10, i * 10 + 3))
    write_checkpoint(t, 2)
    # checkpoint + tail replay == full replay, at and past the checkpoint
    for v in (2, 3, 4, None):
        assert resolve_with_checkpoint(t, v) == replayed_files(t, v)
    # below the checkpoint: full replay path still exact
    assert resolve_with_checkpoint(t, 1) == replayed_files(t, 1)
    # torn checkpoint is ignored, not fatal
    with open(_os.path.join(t.log_dir, "00000099.checkpoint.json"), "w") as f:
        f.write("{not json")
    assert resolve_with_checkpoint(t, 4) == replayed_files(t, 4)

    # A bucketed lifecycle touching every fact map: every version's
    # Snapshot equals the from-zero fold, whichever checkpoint it
    # starts from
    s = "id bigint, amount double, g string, _op string, _lsn string, _deleted string"
    b = BucketedTxLogTable(
        spark, str(tmp_path / "b"), key_cols=["id"], n_buckets=4,
        checkpoint_interval=0, bloom_cols=["id"],
    )
    b.init_from_events(spark.createDataFrame(
        [(i, float(i), "abc"[i % 3], "r", f"{i:06d}", None) for i in range(40)], s
    ), txn=("w", 0))                                                    # v0
    b.merge_cdc_batch_mor(spark.createDataFrame(
        [(3, 300.0, "z", "u", "000100", None), (50, 5.0, "n", "c", "000100", None)], s
    ), txn=("w", 1))                                                    # v1
    b.merge_cdc_batch_mor(spark.createDataFrame(
        [(4, None, None, "d", "000200", "true")], s
    ), txn=("w", 2), max_dv_fraction=0.0)                               # v2: fused fold
    assert b._read_entry(2)["removes"]
    b.delete_where(F.col("id") < 2)                                     # v3
    b.update_where(F.col("id").between(10, 12), {"amount": F.lit(-1.0)})  # v4
    b.rebucket(8, rewrite=False)                                        # v5
    b.rename_column("g", "grp")                                         # v6
    assert analyze_table(b, ["amount"]) == 7                            # v7
    b.merge_cdc_batch_mor(spark.createDataFrame(
        [(20, 2.0, "q", "u", "000300", None)], s
    ).withColumnRenamed("g", "grp"), txn=("w", 3), max_dv_fraction=0.0)  # v8: fold
    assert b.latest_version() == 8 and b._read_entry(8)["removes"]
    # removes land in both checkpoint suffixes (v2 after 1, v8 after 5)
    write_checkpoint(b, 1)
    write_checkpoint(b, 5)  # the pointer names 5
    ck_of = {v: None if v < 1 else 1 if v < 5 else 5 for v in range(9)}
    for v in range(9):  # v < 5: the pointer overshoots, probe downward
        assert _assert_snapshot_is_fold(b, v).checkpoint_version == ck_of[v]
    # a torn checkpoint behind the pointer: replay falls back to 5
    with open(_os.path.join(b.log_dir, "00000007.checkpoint.json"), "w") as f:
        f.write("{not json")
    with open(_os.path.join(b.log_dir, "_last_checkpoint"), "w") as f:
        json.dump({"version": 7}, f)
    for v in range(9):
        assert _assert_snapshot_is_fold(b, v).checkpoint_version == ck_of[v]
    # resolving past the head is an error, not a silent clamp
    with pytest.raises(ValueError, match="past the head"):
        _assert_snapshot_is_fold(b, 9)


def test_vacuum_reclaims_only_unreachable_files(spark, tmp_path):
    from cdc_streaming_pipeline_spark.sources.txlog import vacuum

    t = TxLogTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 5))            # v0
    t.commit(_df(spark, 100, 103), mode="overwrite")  # v1: v0 files unreferenced
    t.commit(_df(spark, 103, 106))        # v2
    pre = _vals(t.read())
    deleted = vacuum(t, retain_versions=2, min_age_seconds=0)  # retain v1, v2
    assert deleted  # v0's files actually reclaimed
    # every retained version still reads exactly
    assert _vals(t.read()) == pre
    assert _vals(t.read(1)) == [100, 101, 102]
    # pre-horizon time travel is gone by contract
    import pytest as _pytest

    with _pytest.raises(Exception):
        t.read(0).collect()


def test_read_changes_tails_appends_only(spark, tmp_path):
    t = TxLogTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 5))        # v0
    t.commit(_df(spark, 5, 8))        # v1
    cursor = t.latest_version()
    caught_up = t.read_changes(cursor)  # caught up: EMPTY frame, table schema
    assert caught_up.count() == 0
    assert caught_up.columns == t.read().columns
    t.commit(_df(spark, 8, 12))       # v2
    t.commit(_df(spark, 12, 14))      # v3
    got = t.read_changes(cursor)
    assert sorted(r["k"] for r in got.collect()) == list(range(8, 14))
    # a rewrite poisons the append-only cursor loudly, not silently
    t.commit(_df(spark, 0, 2), mode="overwrite")
    with pytest.raises(ValueError, match="rewrites"):
        t.read_changes(cursor)


def test_data_skipping_prunes_files_and_stays_exact(spark, tmp_path):
    """Per-file min/max stats in the log: a range read must skip
    non-intersecting files, read conservatively where stats are absent,
    and return exactly the full-scan answer either way."""
    t = TxLogTable(spark, str(tmp_path / "t"))
    # four single-file commits over disjoint key ranges, stats on k
    for lo in (0, 100, 200, 300):
        t.commit(_df(spark, lo, lo + 50).coalesce(1), stats_cols=["k"])
    df, read, total = t.read_where("k", 120, 130)
    assert (read, total) == (1, 4)  # only the [100,150) file
    assert _vals(df) == list(range(120, 131))

    df, read, total = t.read_where("k", 140, 210)  # straddles two files
    assert (read, total) == (2, 4)
    assert _vals(df) == list(range(140, 150)) + list(range(200, 211))

    df, read, total = t.read_where("k", 5000, 6000)  # nothing intersects
    assert (read, total) == (0, 4)
    assert df.count() == 0

    # a commit WITHOUT stats is conservatively read
    t.commit(_df(spark, 1000, 1010).coalesce(1))
    df, read, total = t.read_where("k", 120, 130)
    assert (read, total) == (2, 5)  # stats file + the statless one
    assert _vals(df) == list(range(120, 131))


def test_vacuum_age_guard_spares_fresh_staged_files(spark, tmp_path):
    """A concurrent commit() stages parquet BEFORE racing for the log
    entry; vacuum must not reclaim those fresh, not-yet-referenced
    files (they become live the instant the commit wins)."""
    import os

    from cdc_streaming_pipeline_spark.sources.txlog import vacuum

    t = TxLogTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 5))
    t.commit(_df(spark, 100, 103), mode="overwrite")
    t.commit(_df(spark, 103, 106))
    # simulate an in-flight writer: staged files, no log entry yet
    staged = t._stage(_df(spark, 500, 505))
    assert all(os.path.exists(p) for p in staged)
    # default window: nothing this young is touched — neither the
    # in-flight stage nor v0's unreferenced-but-fresh files
    assert vacuum(t, retain_versions=2) == []
    assert all(os.path.exists(p) for p in staged)
    # age the unreferenced v0 files artificially; the in-flight stage
    # stays fresh and survives even an aggressive retention window
    old = [p for p in replayed_files(t, 0)]
    for p in old:
        os.utime(p, (1, 1))
    deleted = vacuum(t, retain_versions=2, min_age_seconds=60)
    assert sorted(deleted) == sorted(old)
    assert all(os.path.exists(p) for p in staged)


def test_injected_commit_backend_lost_race(spark, tmp_path):
    """The commit primitive is pluggable (object-store putIfAbsent slot).
    A backend that loses the first race must drive the same append retry
    path as a real concurrent writer."""
    import json as _json

    from cdc_streaming_pipeline_spark.sources.txlog import posix_put_if_absent

    calls = {"n": 0}

    def flaky_backend(entry_path, payload):
        calls["n"] += 1
        if calls["n"] == 1:
            # another writer wins this name: land a competing entry so
            # the retry re-resolves against it, then report the loss
            entry = _json.loads(payload)
            competing = dict(entry, adds=[], removes=[], n_files=0)
            assert posix_put_if_absent(entry_path, _json.dumps(competing))
            return False
        return posix_put_if_absent(entry_path, payload)

    t = TxLogTable(spark, str(tmp_path / "t"), commit_backend=flaky_backend)
    v = t.commit(_df(spark, 0, 5))
    assert v == 1  # lost version 0 to the competitor, won version 1
    assert calls["n"] == 2
    assert _vals(t.read()) == list(range(5))  # competitor added nothing


def test_commit_entries_publish_atomically_with_content(spark, tmp_path):
    """Every published log entry parses as complete JSON and no tmp
    residue survives — the torn-commit class (zero-byte entry bricking
    replay) cannot occur under tmp-write + link publication."""
    import json as _json
    import os
    from glob import glob as _glob

    t = TxLogTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 0, 5))
    t.commit(_df(spark, 5, 8), mode="overwrite")
    for p in _glob(os.path.join(t.log_dir, "*.json")):
        with open(p) as f:
            entry = _json.load(f)  # complete, parseable
        assert entry["adds"]
    assert _glob(os.path.join(t.log_dir, "*.tmp")) == []


def test_read_where_stats_resolve_through_checkpoint(spark, tmp_path):
    """Data-skipping stats ride the checkpoint: after write_checkpoint,
    read_where resolves its per-file min/max from the checkpointed
    stats plus the log suffix — entry reads bounded by
    commits-since-checkpoint, not table age — and prunes/answers
    exactly as before."""
    from cdc_streaming_pipeline_spark.sources.txlog import (
        TxLogTable,
        write_checkpoint,
    )

    t = TxLogTable(spark, str(tmp_path / "t"))
    for q in range(4):
        t.commit(_df(spark, q * 100, q * 100 + 50).coalesce(1), stats_cols=["k"])
    write_checkpoint(t)
    t.commit(_df(spark, 400, 450).coalesce(1), stats_cols=["k"])  # post-ckpt

    reads: list[int] = []
    orig = t._read_entry

    def counting(v):
        reads.append(v)
        return orig(v)

    t._read_entry = counting
    df, files_read, files_total = t.read_where("k", 120, 130)
    t._read_entry = orig
    assert (files_read, files_total) == (1, 5)  # stats still prune
    assert _vals(df) == list(range(120, 131))
    assert reads and all(r > 3 for r in reads)  # only the suffix was read


def _count_reads(t):
    """Swap in a counting _read_entry; returns (restore_fn, reads list)."""
    reads: list[int] = []
    orig = t._read_entry

    def counting(v):
        reads.append(v)
        return orig(v)

    t._read_entry = counting
    return (lambda: setattr(t, "_read_entry", orig)), reads


def test_maintenance_metadata_bounded_by_checkpoint(spark, tmp_path):
    """r10 verdict #1: the HOT path resolved through checkpoints but the
    MAINTENANCE paths (compact, overwrite, vacuum, history-with-limit,
    empty-frame schema) still replayed the log from zero — O(table age)
    work at exactly the cadence (daily maintenance on a year-old table)
    where it hurts. All of them now resolve through the newest
    checkpoint; pinned with an injected _read_entry counter: no read
    may land at or below the checkpoint version."""
    from cdc_streaming_pipeline_spark.sources.txlog import (
        vacuum,
        write_checkpoint,
    )

    t = TxLogTable(spark, str(tmp_path / "t"))
    for i in range(12):  # versions 0..11
        t.commit(_df(spark, 10 * i, 10 * i + 3))
    write_checkpoint(t)  # checkpoint at 11
    t.commit(_df(spark, 500, 503))  # version 12

    # compact: resolve reads only the post-checkpoint suffix
    restore, reads = _count_reads(t)
    v = t.compact()
    restore()
    assert v == 13
    assert reads and all(r > 11 for r in reads), sorted(set(reads))

    # overwrite: its read set (removes) resolves the same way
    restore, reads = _count_reads(t)
    t.commit(_df(spark, 900, 905), mode="overwrite")
    restore()
    assert reads and all(r > 11 for r in reads), sorted(set(reads))

    # vacuum: ONE horizon resolution + the retained suffix, never a
    # from-zero replay per retained version
    restore, reads = _count_reads(t)
    deleted = vacuum(t, retain_versions=2, min_age_seconds=0.0)
    restore()
    assert deleted  # the overwrite/compact left dead files to reclaim
    assert reads and all(r > 11 for r in reads), sorted(set(reads))
    # retained snapshots still read byte-identical
    assert _vals(t.read()) == list(range(900, 905))

    # history(limit): O(limit) newest entries, no full replay
    restore, reads = _count_reads(t)
    h = t.history(limit=3)
    restore()
    assert [e["version"] for e in h] == [12, 13, 14]
    assert sorted(set(reads)) == [12, 13, 14]

    # empty-frame schema recovery probes down only to the checkpoint
    restore, reads = _count_reads(t)
    ef = t._empty_frame()
    restore()
    assert ef.schema.fieldNames() == ["k"] and ef.count() == 0
    assert all(r > 11 for r in reads), sorted(set(reads))


def test_txn_version_resolves_through_checkpoint(spark, tmp_path):
    """txn_version (plain-commit idempotence) rides the checkpointed
    per-writer txn state instead of a full history() replay; an OLDER
    epoch still resolves via the bounded downward probe."""
    from cdc_streaming_pipeline_spark.sources.txlog import write_checkpoint

    t = TxLogTable(spark, str(tmp_path / "t"))
    for i in range(8):
        t.commit(_df(spark, i, i + 1), txn=("w", i))
    write_checkpoint(t)
    t.commit(_df(spark, 100, 101), txn=("w", 8))

    restore, reads = _count_reads(t)
    assert t.txn_version(("w", 8)) == 8  # latest epoch: checkpoint fast path
    assert t.txn_version(("w", 99)) is None
    restore()
    assert all(r > 7 for r in reads), sorted(set(reads))
    # deep-history epoch: correct via the downward probe
    assert t.txn_version(("w", 2)) == 2
    # replayed commit is a no-op returning the recorded version
    assert t.commit(_df(spark, 100, 101), txn=("w", 8)) == 8


def test_snapshot_cache_never_serves_past_the_head(spark, tmp_path):
    """A resolution past the head raises instead of silently clamping
    to the latest state — so no snapshot is ever cached under a version
    its replay did not reach: handle A asks for v+1 before handle B
    commits it, and after B's commit A sees exactly B's state. Maps
    handed out by ``resolve_*`` are copies: mutating one changes
    nothing the next resolution returns."""
    from cdc_streaming_pipeline_spark.sources.txlog import (
        resolve_file_stats,
        resolve_snapshot_state,
        resolve_with_checkpoint,
    )
    from tests.txlog_replay import fold_log

    a = TxLogTable(spark, str(tmp_path / "t"))
    b = TxLogTable(spark, str(tmp_path / "t"))
    v = a.commit(_df(spark, 0, 3), stats_cols=["k"])
    assert resolve_with_checkpoint(a, v) == replayed_files(a, v)
    with pytest.raises(ValueError, match="past the head"):
        resolve_with_checkpoint(a, v + 1)
    assert b.commit(_df(spark, 10, 13), stats_cols=["k"]) == v + 1
    assert resolve_with_checkpoint(a, v + 1) == replayed_files(a, v + 1)
    assert a.latest_version() == v + 1
    assert _vals(a.read()) == [0, 1, 2, 10, 11, 12]

    files, buckets, txns = resolve_snapshot_state(a)
    files.append("/nowhere.parquet")
    txns["intruder"] = [0, 0]
    resolve_with_checkpoint(a).clear()
    stats = resolve_file_stats(a)
    stats.clear()
    assert resolve_snapshot_state(a) == (replayed_files(a), {}, {})
    assert resolve_file_stats(a) == fold_log(a)["stats"] != {}


def test_checkpoint_missing_a_fact_map_is_skipped(spark, tmp_path):
    """A checkpoint lacking a required fact map is skipped like a torn
    one — replay falls back to an older checkpoint or the full log —
    and the missing map is never read as empty."""
    import json

    from cdc_streaming_pipeline_spark.sources.txlog import (
        _checkpoint_path,
        resolve_file_stats,
        snapshot,
        write_checkpoint,
    )
    from tests.txlog_replay import fold_log

    t = TxLogTable(spark, str(tmp_path / "t"))
    for q in range(4):
        t.commit(_df(spark, q * 100, q * 100 + 50).coalesce(1), stats_cols=["k"])
    write_checkpoint(t, 1)
    write_checkpoint(t, 3)

    def drop_key(version, key):
        path = _checkpoint_path(t, version)
        with open(path) as f:
            ck = json.load(f)
        del ck[key]
        with open(path, "w") as f:
            json.dump(ck, f)

    want = fold_log(t)["stats"]
    assert len(want) == 4
    drop_key(3, "file_stats")
    fresh = TxLogTable(spark, t.path)
    assert snapshot(fresh).checkpoint_version == 1
    assert resolve_file_stats(fresh) == want
    df, files_read, files_total = fresh.read_where("k", 120, 130)
    assert (files_read, files_total) == (1, 4)
    assert _vals(df) == list(range(120, 131))

    drop_key(1, "files")  # no usable checkpoint left: the full log
    fresh = TxLogTable(spark, t.path)
    assert snapshot(fresh).checkpoint_version is None
    assert resolve_file_stats(fresh) == want
    assert snapshot(fresh).files == replayed_files(t)


def test_pruned_read_costs_suffix_plus_two_log_gets(spark, tmp_path):
    """One log replay per snapshot, counted at the blob seam: opening a
    fresh handle and running a pruned ``read_state_where`` GETs at most
    the entries since the checkpoint plus two log-metadata objects (the
    ``_last_checkpoint`` pointer and the checkpoint). Sidecars (bloom,
    deletion vector) are data-skipping reads, not log metadata."""
    import os

    from cdc_streaming_pipeline_spark.blob import PosixBlobStore
    from cdc_streaming_pipeline_spark.sources.txlog import (
        BucketedTxLogTable,
        write_checkpoint,
    )

    class CountingStore(PosixBlobStore):
        def __init__(self):
            self.gets: list[str] = []

        def get(self, path: str) -> bytes:
            self.gets.append(path)
            return super().get(path)

    store = CountingStore()
    s = "id bigint, amount double, _op string, _lsn string, _deleted string"
    path = str(tmp_path / "t")
    t = BucketedTxLogTable(
        spark, path, key_cols=["id"], n_buckets=4, stats_cols=["amount"],
        checkpoint_interval=0, blob_backend=store,
    )
    t.init_from_events(spark.createDataFrame(
        [(i, float(i), "r", "0001", None) for i in range(40)], s
    ))
    for w in range(1, 6):
        t.merge_cdc_batch_mor(spark.createDataFrame(
            [(w, 100.0 + w, "u", f"{w + 1:04d}", None)], s
        ))
    write_checkpoint(t, 3)
    suffix = t.latest_version() - 3
    assert suffix == 2

    store.gets.clear()
    fresh = BucketedTxLogTable(spark, path, blob_backend=store)
    df, files_read, files_total = fresh.read_state_where("amount", 103.0, 104.0)
    log_gets = [p for p in store.gets if os.path.dirname(p) == fresh.log_dir]
    assert len(log_gets) <= suffix + 2, log_gets
    assert {r["id"] for r in df.collect()} == {3, 4}
    assert files_read < files_total
