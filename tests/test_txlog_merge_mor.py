"""Merge-on-read MERGE (sources/txlog.py:merge_cdc_batch_mor — Delta's
DV-backed MERGE): apply a CDC batch by deletion-vectoring the stored
images of the batch's keys and appending their winners — ONE commit,
zero bucket rewrites, write bytes O(batch) instead of O(touched
buckets).

Invariants: semantics identical to the rewrite merge (latest-LSN wins,
tombstones stored, stale replays lose, schema drift unions) — pinned by
applying the SAME waves to a rewrite table and a MoR table and
asserting equal state; the change feed classifies exactly (insert /
delete / update pre+post; a stale-only batch feeds NOTHING); mv folds
are exact; compaction absorbs the vectors; the conflict matrix covers
mor-vs-delete and disjoint-bucket interleaves; txn tags keep replays
exactly-once; the streaming sink's maintenance keeps sustained MoR
ingest bounded. With ``max_dv_fraction`` the DV-debt fold rides the
merge commit: state still equals the rewrite merge's, the change feed
equals that of the merge + separate-fold pair, a concurrent delete on
any file of a folded bucket conflicts, and the sink lands one log
version per batch. The per-bucket cost rule behind ``max_dv_fraction``
rewrites a touched bucket under ``target_file_bytes`` in the merge
commit without scanning it, keeps larger buckets vectored with the debt
fold, and keeps a mixed small/large table equal to a Python fold."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.sources.txlog import (
    BucketedTxLogTable,
    ConcurrentWriteError,
    fold_mv,
    resolve_file_dvs,
    resolve_with_checkpoint,
    table_changes,
)

S = "id bigint, amount double, g string, _op string, _lsn string, _deleted string"


def _seed(spark, path, n=120, **kw):
    t = BucketedTxLogTable(
        spark, path, key_cols=["id"], n_buckets=4, stats_cols=["amount"], **kw
    )
    rows = [
        (i, float(i), ["a", "b", "c"][i % 3], "r", f"{i:06d}", None)
        for i in range(n)
    ]
    t.init_from_events(spark.createDataFrame(rows, S))
    return t


def _ev(spark, rows):
    return spark.createDataFrame(rows, S)


def test_mor_merge_is_append_plus_vectors(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    files_before = sorted(resolve_with_checkpoint(t))
    wave = [
        (5, 5000.0, "z", "u", "900000", None),     # update
        (7, None, None, "d", "900000", "true"),    # tombstone delete
        (500, 1.0, "n", "c", "900000", None),      # insert (new key)
        (11, 1.0, "x", "u", "000001", None),       # STALE: must lose
    ]
    ver, touched = t.merge_cdc_batch_mor(_ev(spark, wave))
    e = t._read_entry(ver)
    assert e["mode"] == "merge_mor" and e["removes"] == [] and e["adds"]
    # every pre-merge file is still live — zero rewrites
    assert set(files_before) <= set(resolve_with_checkpoint(t))

    st = {r["id"]: r["amount"] for r in t.read_state().collect()}
    assert st[5] == 5000.0 and 7 not in st and st[500] == 1.0
    assert st[11] == 11.0  # stale event lost against the stored image
    assert len(st) == 120  # -1 deleted, +1 inserted


def test_mor_equals_rewrite_merge_over_random_waves(spark, tmp_path):
    """The semantics pin: identical waves into a rewrite table and MoR
    tables must produce identical state at every step — stale events,
    tombstones, re-inserts and drift included. The fold threshold is
    one more input: pure MoR (None), a fold when a file's debt passes
    20%, and a fold on ANY vector (0.0) all agree with the rewrite.
    Both merges run one kernel, so every table is also checked against
    a pure-Python fold of seed + waves that shares no engine code, and
    each rewrite entry against the copy-on-write shape: mode "merge",
    no vector facts, every file of the touched buckets removed."""
    from tests.txlog_replay import fold_log

    # the rows _seed writes: key -> (winning _lsn, image or None)
    ref = {
        i: (f"{i:06d}", (i, float(i), ["a", "b", "c"][i % 3])) for i in range(60)
    }
    rng = random.Random(777)
    a = _seed(spark, str(tmp_path / "rewrite"), n=60)
    mors = {
        frac: _seed(spark, str(tmp_path / f"mor_{frac}"), n=60)
        for frac in (None, 0.2, 0.0)
    }
    waves = []
    for step in range(1, 7):
        wave = []
        for i in range(rng.randint(1, 6)):
            k = rng.randrange(80)
            op = rng.choice(["u", "u", "c", "d"])
            stale = rng.random() < 0.2
            lsn = f"0000{step:02d}{i:02d}" if stale else f"9{step:03d}{i:02d}0"
            wave.append(
                (
                    k,
                    None if op == "d" else float(step * 100 + i),
                    None if op == "d" else "w",
                    op,
                    lsn,
                    "true" if op == "d" else None,
                )
            )
        waves.append(wave)
    # a bulk wave past the merge's 4096-row probe cap: the fold then
    # scores files with an aggregate instead of a collect
    waves.append([(k, float(k), "b", "u", f"99{k:06d}", None) for k in range(4500)])
    folded = 0
    for step, wave in enumerate(waves, 1):
        # greatest _lsn per key wins, a stale event loses, and a winning
        # delete removes the key (its tombstone still fences staler ones)
        for k, amount, g, op, lsn, _ in wave:
            if k not in ref or lsn > ref[k][0]:
                ref[k] = (lsn, None if op == "d" else (k, amount, g))
        want = {img for _, img in ref.values() if img is not None}
        v, touched = a.merge_cdc_batch(_ev(spark, wave))
        e = a._read_entry(v)
        assert e["mode"] == "merge"
        assert "file_dvs" not in e and "dv_added" not in e
        before = fold_log(a, v - 1)
        assert sorted(e["removes"]) == sorted(
            f for f in before["files"] if before["buckets"][f] in touched
        ), f"rewrite removes at step {step}"
        sa = {(r["id"], r["amount"], r["g"]) for r in a.read_state().collect()}
        assert sa == want, f"rewrite diverges from the reference at step {step}"
        for frac, b in mors.items():
            v, _ = b.merge_cdc_batch_mor(_ev(spark, wave), max_dv_fraction=frac)
            folded += bool(b._read_entry(v)["removes"])
            sb = {(r["id"], r["amount"], r["g"]) for r in b.read_state().collect()}
            assert sa == sb == want, f"divergence at step {step} (max_dv_fraction={frac})"
    assert folded  # the fused fold actually ran


def test_mor_change_feed_classification(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"), n=40)
    v0 = t.latest_version()
    wave = [
        (3, 3333.0, "a", "u", "900000", None),
        (9, None, None, "d", "900000", "true"),
        (400, 4.0, "n", "c", "900000", None),
    ]
    t.merge_cdc_batch_mor(_ev(spark, wave))
    by = {}
    for r in table_changes(t, v0).collect():
        by.setdefault(r["_change_type"], []).append(r["id"])
    assert by["insert"] == [400]
    assert by["delete"] == [9]
    assert by["update_preimage"] == [3] and by["update_postimage"] == [3]

    # a STALE-only batch re-appends an identical winner: pre == post,
    # so the feed must emit NOTHING for it
    v1 = t.latest_version()
    t.merge_cdc_batch_mor(_ev(spark, [(4, 1.0, "x", "u", "000001", None)]))
    assert table_changes(t, v1).count() == 0


def _feed_rows(t, v0):
    """The change feed after ``v0`` as a multiset, ``_commit_version``
    excluded (a fused commit and a merge+fold pair land at different
    versions by construction)."""
    from collections import Counter

    df = table_changes(t, v0).drop("_commit_version")
    cols = sorted(df.columns)
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def _sink_fold(t, max_dv_fraction):
    """The streaming sink's separate DV-debt fold, as a second commit."""
    from cdc_streaming_pipeline_spark.sources.txlog import (
        dv_debt_files,
        resolve_file_nulls,
        resolve_snapshot_state,
    )

    dvs = resolve_file_dvs(t)
    live, bmap, _ = resolve_snapshot_state(t)
    debt = {f: dvs[f]["n"] for f in live if f in dvs}
    dirty = {bmap[f] for f in dv_debt_files(debt, resolve_file_nulls(t), max_dv_fraction)}
    return t.compact_buckets(buckets=sorted(dirty), min_files=1) if dirty else (None, [])


def test_mor_fused_fold_is_one_commit_and_feeds_like_merge_plus_fold(spark, tmp_path):
    """With ``max_dv_fraction`` the buckets the merge's own vectors push
    over the threshold are rewritten INSIDE the merge commit: one log
    version, the folded buckets' files removed (no sidecar staged for
    them), clean buckets vectored. Its change feed equals the feed of
    the pure-MoR commit followed by the separate fold commit — the
    rewritten-but-unchanged rows feed nothing."""
    fused = _seed(spark, str(tmp_path / "fused"), n=40)
    pair = _seed(spark, str(tmp_path / "pair"), n=40)
    warm = [(k, 50.0 + k, "p", "u", "800000", None) for k in (1, 2, 3)]
    for t in (fused, pair):  # tiny postimage files: any vector folds them
        t.merge_cdc_batch_mor(_ev(spark, warm))
    v0 = fused.latest_version()
    assert pair.latest_version() == v0
    wave = [
        (1, 111.0, "z", "u", "900000", None),    # update of a postimage
        (2, None, None, "d", "900000", "true"),  # delete of a postimage
        (500, 5.0, "n", "c", "900000", None),    # insert
        (3, 1.0, "x", "u", "000001", None),      # stale: loses, feeds nothing
        (20, 2020.0, "y", "u", "900000", None),  # update of an init image
    ]
    v, _ = fused.merge_cdc_batch_mor(_ev(spark, wave), max_dv_fraction=0.3)
    assert v == v0 + 1 == fused.latest_version()
    e = fused._read_entry(v)
    assert e["mode"] == "merge_mor" and e["removes"]
    assert not set(e["removes"]) & (set(e["file_dvs"]) | set(e["dv_added"]))
    live = set(resolve_with_checkpoint(fused))
    assert not set(e["removes"]) & live

    pair.merge_cdc_batch_mor(_ev(spark, wave))
    fv, folded = _sink_fold(pair, 0.3)
    assert fv == v0 + 2 and folded

    def state(t):
        return {(r["id"], r["amount"], r["g"]) for r in t.read_state().collect()}

    assert state(fused) == state(pair)
    feed = _feed_rows(fused, v0)
    assert feed == _feed_rows(pair, v0)
    ids = sorted(
        r["id"] for r in table_changes(fused, v0).select("id").collect()
    )
    assert ids == [1, 1, 2, 20, 20, 500]  # pre+post, delete, pre+post, insert


def test_feed_and_mv_over_a_fold_at_a_checkpoint_version(spark, tmp_path):
    """A commit that removes vectored files at a CHECKPOINT version must
    read those files' rows with the vectors they had before it (the
    checkpoint keeps only live files' vectors): the fold feeds nothing
    and the mv fold stays exact."""
    t = _seed(spark, str(tmp_path / "t"), n=40, checkpoint_interval=2)
    t.delete_where(F.col("amount").between(10.0, 14.0))  # v1: vectors
    v, _ = t.compact_buckets(min_files=1)  # v2: fold lands on the checkpoint
    assert v == 2 and os.path.exists(os.path.join(t.log_dir, "00000002.checkpoint.json"))
    assert table_changes(t, 1).count() == 0
    assert sorted(r["id"] for r in table_changes(t, 0).collect()) == [10, 11, 12, 13, 14]
    mv = {r["g"]: r["n_rows"] for r in fold_mv(t, ["g"], "amount").collect()}
    direct = {r["g"]: r["count"] for r in t.read_state().groupBy("g").count().collect()}
    assert mv == direct


def test_mor_mv_and_compaction_absorb(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    t.merge_cdc_batch_mor(
        _ev(spark, [(5, 5000.0, "z", "u", "900000", None), (7, None, None, "d", "900000", "true")])
    )
    t.delete_where(F.col("amount").between(20.0, 29.0))
    t.merge_cdc_batch_mor(_ev(spark, [(21, 21.5, "a", "u", "950000", None)]))
    t.compact_buckets(min_files=1)
    st = t.read_state()
    assert st.filter(F.col("id") == 21).collect()[0]["amount"] == 21.5
    assert st.count() == 120 - 1 - 10 + 1
    dvs = resolve_file_dvs(t)
    assert all(f not in dvs for f in resolve_with_checkpoint(t))
    mv = {
        r["g"]: (r["n_rows"], float(r["total"]))
        for r in fold_mv(t, ["g"], "amount").collect()
    }
    direct = {
        r["g"]: (r["n"], float(r["s"]))
        for r in st.groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("amount").cast("decimal(28,6)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert mv == direct


def test_mor_txn_replay_noops(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"), n=40)
    v1, _ = t.merge_cdc_batch_mor(
        _ev(spark, [(1, 111.0, "a", "u", "900000", None)]), txn=("w", 7)
    )
    v2, touched = t.merge_cdc_batch_mor(
        _ev(spark, [(1, 222.0, "a", "u", "910000", None)]), txn=("w", 7)
    )
    assert v2 == v1 and touched == []  # replayed epoch: no-op
    assert t.read_state().filter(F.col("id") == 1).collect()[0]["amount"] == 111.0


def test_mor_conflicts_with_concurrent_delete(spark, tmp_path):
    t1 = _seed(spark, str(tmp_path / "t"))
    t2 = BucketedTxLogTable(spark, t1.path)
    orig = t1._try_commit
    fired = {"n": 0}

    def race(version, entry):
        if fired["n"] == 0:
            fired["n"] = 1
            t2.delete_where(F.col("amount") <= 119.0)  # touches every file
        return orig(version, entry)

    t1._try_commit = race
    with pytest.raises(ConcurrentWriteError):
        t1.merge_cdc_batch_mor(_ev(spark, [(5, 1.0, "a", "u", "990000", None)]))

    # a fused fold reads EVERY file of the folded bucket, bloom-skipped
    # ones included: a concurrent delete on such a file must conflict
    # too, or the fold would rewrite the deleted row back to life
    t, post5, other, _ = _fold_race_table(spark, str(tmp_path / "fold"))
    racer = BucketedTxLogTable(spark, t.path)
    orig_t = t._try_commit
    seen: list[dict] = []

    def race_fold(version, entry):
        if not seen:
            seen.append(entry)
            racer.delete_where(F.col("id") == 5)  # vectors only post5
        return orig_t(version, entry)

    t._try_commit = race_fold
    with pytest.raises(ConcurrentWriteError):
        t.merge_cdc_batch_mor(
            _ev(spark, [(other, 1.0, "a", "u", "990000", None)]), max_dv_fraction=0.0
        )
    # the bloom probe skipped post5, the fold removes it
    assert set(post5) <= set(seen[0]["removes"])
    st = {r["id"] for r in BucketedTxLogTable(spark, t.path).read_state().collect()}
    assert 5 not in st and len(st) == 39


def _fold_race_table(spark, path, **kw):
    """A 2-bucket bloom table where key 5's postimage sits in a file of
    its own: a merge of ``other`` (same bucket) bloom-skips that file,
    and its fused fold (threshold 0.0) must still remove it. Returns
    (table, key 5's postimage files, other, a key of the other bucket).
    ``kw`` goes to the table handle."""
    from cdc_streaming_pipeline_spark.operators.merge import touched_buckets

    t = BucketedTxLogTable(
        spark, path, key_cols=["id"], n_buckets=2,
        stats_cols=["amount"], bloom_cols=["id"], **kw,
    )
    t.init_from_events(
        spark.createDataFrame(
            [(i, float(i), "a", "r", f"{i:06d}", None) for i in range(40)], S
        )
    )
    t.merge_cdc_batch_mor(_ev(spark, [(5, 5555.0, "z", "u", "900000", None)]))
    post5 = t._read_entry(t.latest_version())["adds"]

    def bucket(k):
        return touched_buckets(_ev(spark, [(k, 0.0, "a", "u", "0", None)]), ["id"], 2)[0]

    other = next(k for k in range(6, 40) if bucket(k) == bucket(5))
    far = next(k for k in range(6, 40) if bucket(k) != bucket(5))
    return t, post5, other, far


def test_mor_fused_fold_retries_past_disjoint_commit(spark, tmp_path):
    """The files a fused fold removes are part of its read set, not
    foreign files in its bucket: a lost race against a commit in the
    OTHER bucket retries and lands, with both writes in the state."""
    t, post5, other, far = _fold_race_table(spark, str(tmp_path / "t"))
    racer = BucketedTxLogTable(spark, t.path)
    orig_t = t._try_commit
    fired: list[int] = []

    def race(version, entry):
        if not fired:
            fired.append(version)
            racer.merge_cdc_batch_mor(_ev(spark, [(far, 77.0, "a", "u", "990000", None)]))
        return orig_t(version, entry)

    t._try_commit = race
    v, _ = t.merge_cdc_batch_mor(
        _ev(spark, [(other, 1.0, "a", "u", "990000", None)]), max_dv_fraction=0.0
    )
    assert v == fired[0] + 1
    assert set(post5) <= set(t._read_entry(v)["removes"])
    st = {r["id"]: r["amount"] for r in t.read_state().collect()}
    assert st[other] == 1.0 and st[far] == 77.0 and st[5] == 5555.0 and len(st) == 40


def test_mor_point_merge_bloom_prunes_scan(spark, tmp_path, monkeypatch):
    """With bloom sidecars on the key column, a point merge reads only
    the candidate files that can hold its keys — a sustained-MoR
    bucket with several postimage files costs a single-key merge ONE
    file, not the bucket. Values stay exact either way."""
    from cdc_streaming_pipeline_spark.sources import txlog as _tx

    t = BucketedTxLogTable(
        spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=2,
        stats_cols=["amount"], bloom_cols=["id"],
    )
    rows = [(i, float(i), "a", "r", f"{i:06d}", None) for i in range(200)]
    t.init_from_events(spark.createDataFrame(rows, S))
    # grow one bucket: a point merge appends a postimage file that
    # holds ONLY key 5
    t.merge_cdc_batch_mor(_ev(spark, [(5, 5555.0, "z", "u", "900000", None)]))

    # find a key in the SAME bucket as 5 whose image therefore shares
    # the bucket with (but not the file of) key 5's postimage
    from cdc_streaming_pipeline_spark.operators.merge import touched_buckets

    b5 = touched_buckets(_ev(spark, [(5, 0.0, "a", "u", "0", None)]), ["id"], 2)[0]
    other = next(
        k
        for k in range(6, 60)
        if touched_buckets(_ev(spark, [(k, 0.0, "a", "u", "0", None)]), ["id"], 2)[0]
        == b5
    )

    seen: list[int] = []
    orig = BucketedTxLogTable._raw_read

    def spy(self, files, version=None):
        seen.append(len(files))
        return orig(self, files, version)

    monkeypatch.setattr(BucketedTxLogTable, "_raw_read", spy)
    t.merge_cdc_batch_mor(
        _ev(spark, [(other, 7777.0, "z", "u", "910000", None)])
    )
    monkeypatch.undo()
    # the bucket holds 2 files (init + key-5 postimage); the bloom on
    # the postimage file proves `other` absent, so the scan read 1
    assert seen and seen[0] == 1, seen
    st = {r["id"]: r["amount"] for r in t.read_state().collect()}
    assert st[other] == 7777.0 and st[5] == 5555.0 and len(st) == 200


def _put_json(path, rows):
    import json as _json

    with open(path, "w") as f:
        for r in rows:
            keys = ("id", "amount", "g", "_op", "_lsn", "_deleted")
            f.write(_json.dumps(dict(zip(keys, r))) + "\n")


def test_mor_stream_sink_lands_one_version_per_batch(spark, tmp_path):
    """With no external deletes, every micro-batch of the MoR sink lands
    as exactly ONE log version, and the state stays model-exact. These
    buckets stay far under ``target_file_bytes``, so the cost rule
    rewrites each touched bucket copy-on-write in the merge commit and
    no vector is staged."""
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        bucketed_merge_stream_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "table")
    expect = {i: float(i) for i in range(24)}
    _put_json(src / "w000.json", [(i, float(i), "a", "r", "0001", None) for i in range(24)])
    n_batches = 7
    for w in range(1, n_batches):
        keys = [(w + j) % 9 for j in range(3)]
        for k in keys:
            expect[k] = 1000.0 * w + k
        _put_json(
            src / f"w{w:03d}.json",
            [(k, 1000.0 * w + k, "a", "u", f"{w + 1:04d}", None) for k in keys],
        )
    # the file source orders by modification time: make it the wave order
    for w in range(n_batches):
        os.utime(src / f"w{w:03d}.json", (1_000_000 + w, 1_000_000 + w))
    q = (
        bucketed_merge_stream_sink(
            spark.readStream.schema(S).option("maxFilesPerTrigger", "1").json(str(src)),
            table_path,
            str(tmp_path / "ckpt"),
            key_cols=["id"],
            n_buckets=4,
            stats_cols=["amount"],
            max_dv_fraction=0.3,
            merge_mode="mor",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    t = BucketedTxLogTable(spark, table_path)
    assert {r["id"]: r["amount"] for r in t.read_state().collect()} == expect
    hist = t.history()
    assert len(hist) == n_batches, [e["mode"] for e in hist]
    assert [e["txn"][1] for e in hist] == list(range(n_batches))
    assert all(e["mode"] == "merge_mor" for e in hist[1:])
    assert any(e["removes"] for e in hist[1:])  # folds happened, in-commit


@pytest.mark.slowsuite
def test_mor_stream_sink_bounded(spark, tmp_path):
    """The streaming sink in merge_mode='mor': a bootstrap and 24
    single-key updates, with the maintenance fold and vacuum keeping the
    table bounded and the state model-exact. These buckets stay far
    under ``target_file_bytes``, so the cost rule rewrites each touched
    bucket copy-on-write in the merge commit and no vector is staged."""
    import json as _json

    from cdc_streaming_pipeline_spark.sources.txlog import resolve_snapshot_state
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        bucketed_merge_stream_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "table")

    def put(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(
                    _json.dumps(
                        dict(zip(("id", "amount", "g", "_op", "_lsn", "_deleted"), r))
                    )
                    + "\n"
                )

    expect = {i: float(i) for i in range(16)}
    put("w000.json", [(i, float(i), "a", "r", "0001", None) for i in range(16)])
    for w in range(1, 25):
        k = w % 6
        expect[k] = 1000.0 + w
        put(f"w{w:03d}.json", [(k, 1000.0 + w, "a", "u", f"{w + 1:04d}", None)])
    # the file source orders by modification time: make it the wave order
    for w in range(25):
        os.utime(src / f"w{w:03d}.json", (1_000_000 + w, 1_000_000 + w))

    q = (
        bucketed_merge_stream_sink(
            spark.readStream.schema(S).option("maxFilesPerTrigger", "1").json(str(src)),
            table_path,
            str(tmp_path / "ckpt"),
            key_cols=["id"],
            n_buckets=4,
            max_files_per_bucket=2,
            vacuum_every=10,
            vacuum_min_age_seconds=0.0,
            stats_cols=["amount"],
            max_dv_fraction=0.25,
            merge_mode="mor",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    t = BucketedTxLogTable(spark, table_path)
    got = {r["id"]: r["amount"] for r in t.read_state().collect()}
    assert got == expect
    snap, bmap, _ = resolve_snapshot_state(t)
    per_bucket: dict[int, int] = {}
    for f in snap:
        per_bucket[bmap[f]] = per_bucket.get(bmap[f], 0) + 1
    assert max(per_bucket.values()) <= 2, per_bucket
    # bounded DEBT, not zero debt: a straggler from the final batch and
    # a file sitting exactly AT the fold threshold (frac == 0.25 does
    # not exceed it) may legitimately stay vectored
    live_dvs = [f for f in snap if f in resolve_file_dvs(t)]
    assert len(live_dvs) <= 3, live_dvs
    # MoR commits landed (mode recorded) — the stream actually used it
    assert any(e.get("mode") == "merge_mor" for e in t.history())


# ---- the per-bucket copy-on-write vs merge-on-read cost rule ------------


def _bucket_of(spark, keys, n_buckets):
    """{key: bucket} under the table layout, in one job."""
    from cdc_streaming_pipeline_spark.operators.merge import BUCKET_COL, with_key_bucket

    df = _ev(spark, [(k, 0.0, "a", "u", "0", None) for k in keys])
    rows = with_key_bucket(df, ["id"], n_buckets).select("id", BUCKET_COL).collect()
    return {r["id"]: r[BUCKET_COL] for r in rows}


def _state(t):
    return {(r["id"], r["amount"], r["g"]) for r in t.read_state().collect()}


def test_small_touched_buckets_are_rewritten_in_commit(spark, tmp_path):
    """Under a fractional fold rule a touched bucket whose files fit in
    ``target_file_bytes`` is rewritten whole inside the merge commit:
    no vectors, no sidecar directory, every file of the touched buckets
    removed, the untouched buckets' files live under the same paths."""
    from tests.txlog_replay import fold_log

    t = _seed(spark, str(tmp_path / "t"))
    before = fold_log(t)
    wave = [
        (5, 5000.0, "z", "u", "900000", None),
        (7, None, None, "d", "900000", "true"),
        (500, 1.0, "n", "c", "900000", None),
        (11, 1.0, "x", "u", "000001", None),  # stale: loses
    ]
    v, touched = t.merge_cdc_batch_mor(_ev(spark, wave), max_dv_fraction=0.3)
    assert len(touched) < t.n_buckets  # some bucket stays untouched
    e = t._read_entry(v)
    assert e["mode"] == "merge_mor"
    assert not e["file_dvs"] and not e["dv_added"]
    assert not os.path.exists(os.path.join(t.data_dir, "_dv"))
    assert sorted(e["removes"]) == sorted(
        f for f in before["files"] if before["buckets"][f] in touched
    )
    live = set(resolve_with_checkpoint(t))
    assert {f for f in before["files"] if before["buckets"][f] not in touched} <= live
    assert not resolve_file_dvs(t)
    st = {r["id"]: r["amount"] for r in t.read_state().collect()}
    assert st[5] == 5000.0 and 7 not in st and st[500] == 1.0 and st[11] == 11.0
    assert len(st) == 120


def test_large_touched_buckets_keep_vectors_and_the_debt_fold(spark, tmp_path):
    """With ``target_file_bytes`` below every bucket's size the same
    kind of wave is vectored as before, and the DV-debt half of the
    rule still folds the buckets this merge pushes over the threshold
    inside the same commit."""
    fused = _seed(spark, str(tmp_path / "t"), n=40, target_file_bytes=1)
    warm = [(k, 50.0 + k, "p", "u", "800000", None) for k in (1, 2, 3)]
    v, _ = fused.merge_cdc_batch_mor(_ev(spark, warm), max_dv_fraction=0.3)
    e = fused._read_entry(v)
    assert e["removes"] == [] and e["file_dvs"]  # 1 row in 10: under the debt

    b = _bucket_of(spark, range(40), 4)
    hot = {b[1], b[2]}
    cold = next(k for k in range(4, 40) if b[k] not in hot | {b[3]})
    wave = [
        (1, 111.0, "z", "u", "900000", None),    # update of a postimage
        (2, None, None, "d", "900000", "true"),  # delete of a postimage
        (cold, 7.0, "y", "u", "900000", None),   # update of an init image
    ]
    v, touched = fused.merge_cdc_batch_mor(_ev(spark, wave), max_dv_fraction=0.3)
    e = fused._read_entry(v)
    removed = {fused._bucket_map(v - 1)[f] for f in e["removes"]}
    assert removed == hot  # the debt fold, in-commit
    assert {b[cold]} == {fused._bucket_map(v - 1)[f] for f in e["dv_added"]}
    st = {r["id"]: r["amount"] for r in fused.read_state().collect()}
    assert st[1] == 111.0 and 2 not in st and st[3] == 53.0 and st[cold] == 7.0
    assert len(st) == 39


def test_cost_rule_on_mixed_table_equals_python_fold(spark, tmp_path):
    """A table with two large buckets (incompressible padding) and two
    small ones under a target between them: random waves fold the small
    touched buckets and vector the large ones, and the state equals a
    pure-Python fold of seed + waves at every step."""
    b = _bucket_of(spark, range(80), 4)
    large = {b[0], next(b[k] for k in range(80) if b[k] != b[0])}
    prng = random.Random(11)

    def g_of(k):
        if b[k] in large:
            return "".join(prng.choice("0123456789abcdef") for _ in range(1500))
        return ["a", "b", "c"][k % 3]

    ref = {k: (f"{k:06d}", (k, float(k), g_of(k))) for k in range(60)}
    t = BucketedTxLogTable(
        spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=4,
        stats_cols=["amount"], target_file_bytes=8 << 10,
    )
    t.init_from_events(
        _ev(spark, [(k, amt, g, "r", lsn, None) for k, (lsn, (_, amt, g)) in ref.items()])
    )
    sizes = {}
    for f, bk in t._bucket_map().items():
        sizes[bk] = sizes.get(bk, 0) + os.path.getsize(f)
    assert all((sizes[bk] > t.target_file_bytes) == (bk in large) for bk in sizes), sizes

    rng = random.Random(5)
    kinds = set()
    for step in range(1, 9):
        wave = []
        for i in range(rng.randint(2, 8)):
            k = rng.randrange(80)
            op = rng.choice(["u", "u", "c", "d"])
            stale = rng.random() < 0.2
            lsn = f"0000{step:02d}{i:02d}" if stale else f"9{step:03d}{i:02d}0"
            amt, g = (None, None) if op == "d" else (float(step * 100 + i), "w")
            wave.append((k, amt, g, op, lsn, "true" if op == "d" else None))
            if k not in ref or lsn > ref[k][0]:
                ref[k] = (lsn, None if op == "d" else (k, amt, g))
        v, _ = t.merge_cdc_batch_mor(_ev(spark, wave), max_dv_fraction=0.3)
        e = t._read_entry(v)
        kinds.update(k for k in ("removes", "dv_added") if e[k])
        want = {img for _, img in ref.values() if img is not None}
        assert _state(t) == want, f"state diverges from the Python fold at step {step}"
    assert kinds == {"removes", "dv_added"}  # both halves of the rule ran


def test_mor_stream_sink_small_buckets_land_without_vectors(spark, tmp_path):
    """The MoR sink on buckets that stay under ``target_file_bytes``:
    each micro-batch lands as exactly ONE log version and no entry
    carries a deletion vector, because every touched bucket is
    rewritten in the merge commit."""
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        bucketed_merge_stream_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "table")
    expect = {i: float(i) for i in range(64)}
    _put_json(src / "w000.json", [(i, float(i), "a", "r", "0001", None) for i in range(64)])
    n_batches = 4
    for w in range(1, n_batches):
        # fresh keys, ~16 rows a bucket: each file's debt stays under
        # the threshold, so only the size rule keeps vectors away
        keys = [3 * w + j for j in range(3)]
        for k in keys:
            expect[k] = 100.0 * w + k
        _put_json(
            src / f"w{w:03d}.json",
            [(k, 100.0 * w + k, "a", "u", f"{w + 1:04d}", None) for k in keys],
        )
    # the file source orders by modification time: make it the wave order
    for w in range(n_batches):
        os.utime(src / f"w{w:03d}.json", (1_000_000 + w, 1_000_000 + w))
    q = (
        bucketed_merge_stream_sink(
            spark.readStream.schema(S).option("maxFilesPerTrigger", "1").json(str(src)),
            table_path,
            str(tmp_path / "ckpt"),
            key_cols=["id"],
            n_buckets=4,
            stats_cols=["amount"],  # row counts: the debt rule scores fractions
            merge_mode="mor",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    t = BucketedTxLogTable(spark, table_path)
    assert {r["id"]: r["amount"] for r in t.read_state().collect()} == expect
    hist = t.history()
    assert len(hist) == n_batches, [e["mode"] for e in hist]
    assert [e["txn"][1] for e in hist] == list(range(n_batches))
    assert all(e["mode"] == "merge_mor" and e["removes"] for e in hist[1:])
    assert not any(e.get("file_dvs") or e.get("dv_added") for e in hist)
    assert not resolve_file_dvs(t)


def test_mor_stream_sink_folds_external_delete_debt(spark, tmp_path):
    """The MoR sink on buckets over ``target_file_bytes``: merges stage
    vectors, each micro-batch lands as ONE tagged log version, and a
    ``delete_where`` between stream runs, in a bucket no later batch
    touches, is folded after the next batch's merge by the sink's
    fallback debt fold — a ``compact_buckets(buckets=...)`` commit of
    just that bucket. The state stays model-exact throughout."""
    from cdc_streaming_pipeline_spark.streaming.pipeline import (
        bucketed_merge_stream_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    table_path = str(tmp_path / "table")
    b = _bucket_of(spark, range(40), 4)
    quiet = b[0]  # the bucket only the delete touches
    hot = [k for k in range(40) if b[k] != quiet][:6]
    quiet_keys = [k for k in range(40) if b[k] == quiet]
    doomed = quiet_keys[: len(quiet_keys) // 2 + 1]  # over the 0.3 debt
    expect = {i: float(i) for i in range(40)}

    def put(w, rows):
        _put_json(src / f"w{w:03d}.json", rows)
        # the file source orders by modification time: make it the wave order
        os.utime(src / f"w{w:03d}.json", (1_000_000 + w, 1_000_000 + w))

    def wave(w):
        k = hot[w % len(hot)]
        expect[k] = 100.0 * w + k
        put(w, [(k, expect[k], "a", "u", f"{w + 1:04d}", None)])

    def run():
        q = (
            bucketed_merge_stream_sink(
                spark.readStream.schema(S).option("maxFilesPerTrigger", "1").json(str(src)),
                table_path,
                str(tmp_path / "ckpt"),
                key_cols=["id"],
                n_buckets=4,
                max_files_per_bucket=None,  # no count fold: only the debt fold removes
                target_file_bytes=1,  # every bucket is large: merges vector
                stats_cols=["amount"],  # row counts: the debt rule scores fractions
                max_dv_fraction=0.3,
                merge_mode="mor",
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    put(0, [(i, float(i), "a", "r", "0001", None) for i in range(40)])
    for w in range(1, 4):
        wave(w)
    run()
    t = BucketedTxLogTable(spark, table_path)
    v_del, n_files, n_rows = t.delete_where(F.col("id").isin(doomed))
    assert (n_files, n_rows) == (1, len(doomed))
    for k in doomed:
        del expect[k]
    for w in range(4, 6):
        wave(w)
    run()

    assert {r["id"]: r["amount"] for r in t.read_state().collect()} == expect
    hist = t.history()
    merges = [e for e in hist if "txn" in e]
    assert [e["txn"][1] for e in merges] == list(range(6))  # one version a batch
    assert any(e.get("dv_added") for e in merges[1:])  # the merges staged vectors
    vectored = set(hist[v_del]["file_dvs"])
    folds = [e for e in hist[v_del + 1 :] if "txn" not in e]
    assert len(hist) == len(merges) + 1 + len(folds)
    assert len(folds) == 1, [e["mode"] for e in folds]
    assert folds[0]["buckets"] == [quiet] and vectored <= set(folds[0]["removes"])
    assert not vectored & set(resolve_with_checkpoint(t))


# The fused debt fold on buckets over ``target_file_bytes``. The debt-fold
# tests above build tables far under the default target, so the cost rule
# rewrites their touched buckets before any scan; these repeat their
# scenarios with ``target_file_bytes=1``, where every bucket is scanned
# with the bloom probe, vectored and scored for debt.


def test_large_bucket_debt_fold_of_a_bloom_skipped_file_conflicts(spark, tmp_path):
    """A concurrent delete on a file the bloom probe skipped but the
    debt fold removes must conflict: the fold reads that file's rows,
    so landing it would rewrite the deleted row back to life."""
    t, post5, other, _ = _fold_race_table(
        spark, str(tmp_path / "t"), target_file_bytes=1
    )
    assert t._read_entry(t.latest_version())["file_dvs"]  # key 5 was vectored
    racer = BucketedTxLogTable(spark, t.path)
    orig = t._try_commit
    seen: list[dict] = []

    def race(version, entry):
        if not seen:
            seen.append(entry)
            racer.delete_where(F.col("id") == 5)  # vectors only post5
        return orig(version, entry)

    t._try_commit = race
    with pytest.raises(ConcurrentWriteError):
        t.merge_cdc_batch_mor(
            _ev(spark, [(other, 1.0, "a", "u", "990000", None)]), max_dv_fraction=0.0
        )
    assert set(post5) <= set(seen[0]["removes"])
    st = {r["id"] for r in BucketedTxLogTable(spark, t.path).read_state().collect()}
    assert 5 not in st and len(st) == 39


def test_large_bucket_debt_fold_retries_past_disjoint_commit(spark, tmp_path):
    """A debt fold over a bloom-skipped file, on a bucket over
    ``target_file_bytes``, that loses the race to a commit in the other
    bucket retries and lands, with both writes in the state."""
    t, post5, other, far = _fold_race_table(
        spark, str(tmp_path / "t"), target_file_bytes=1
    )
    racer = BucketedTxLogTable(spark, t.path)
    orig = t._try_commit
    fired: list[int] = []

    def race(version, entry):
        if not fired:
            fired.append(version)
            racer.merge_cdc_batch_mor(_ev(spark, [(far, 77.0, "a", "u", "990000", None)]))
        return orig(version, entry)

    t._try_commit = race
    v, _ = t.merge_cdc_batch_mor(
        _ev(spark, [(other, 1.0, "a", "u", "990000", None)]), max_dv_fraction=0.0
    )
    assert v == fired[0] + 1
    e = t._read_entry(v)
    assert set(post5) <= set(e["removes"]) and e["mode"] == "merge_mor"
    st = {r["id"]: r["amount"] for r in t.read_state().collect()}
    assert st[other] == 1.0 and st[far] == 77.0 and st[5] == 5555.0 and len(st) == 40


def test_large_bucket_fused_fold_feeds_like_merge_plus_fold(spark, tmp_path, monkeypatch):
    """On buckets over ``target_file_bytes`` with bloom sidecars, one
    wave folds a hot bucket (a bloom-skipped file of it included, read
    through the snapshot read) and vectors a clean one in the same
    commit. State and change feed equal the pure-MoR merge followed by
    the separate fold commit."""
    b = _bucket_of(spark, range(40), 4)
    h2 = next(k for k in range(4, 40) if b[k] == b[1])
    cold = next(k for k in range(4, 40) if b[k] != b[1])
    kw = dict(n=40, target_file_bytes=1, bloom_cols=["id"])
    fused = _seed(spark, str(tmp_path / "fused"), **kw)
    pair = _seed(spark, str(tmp_path / "pair"), **kw)
    for t in (fused, pair):  # two postimage files in key 1's bucket
        t.merge_cdc_batch_mor(_ev(spark, [(1, 51.0, "p", "u", "800000", None)]))
        t.merge_cdc_batch_mor(_ev(spark, [(h2, 52.0, "p", "u", "800000", None)]))
    v0 = fused.latest_version()
    post_h2 = fused._read_entry(v0)["adds"]
    wave = [
        (1, 111.0, "z", "u", "900000", None),      # its postimage file: debt 1/1
        (cold, 7.0, "y", "u", "900000", None),     # an init image: debt 1/10
        (500, 5.0, "n", "c", "900000", None),      # insert
    ]
    read: list[list[str]] = []
    orig = BucketedTxLogTable._read_snapshot_files

    def spy(self, files, version=None):
        read.append(list(files))
        return orig(self, files, version)

    monkeypatch.setattr(BucketedTxLogTable, "_read_snapshot_files", spy)
    v, _ = fused.merge_cdc_batch_mor(_ev(spark, wave), max_dv_fraction=0.3)
    monkeypatch.undo()
    assert v == v0 + 1 == fused.latest_version()
    assert read == [post_h2]  # bloom-skipped, folded through the snapshot read
    e = fused._read_entry(v)
    bm = fused._bucket_map(v0)
    assert {bm[f] for f in e["removes"]} == {b[1]} and set(post_h2) <= set(e["removes"])
    assert {bm[f] for f in e["dv_added"]} == {b[cold]}  # the clean bucket: vectored

    pair.merge_cdc_batch_mor(_ev(spark, wave))
    fv, folded = _sink_fold(pair, 0.3)
    assert fv == v0 + 2 and folded == [b[1]]
    assert _state(fused) == _state(pair)
    assert _feed_rows(fused, v0) == _feed_rows(pair, v0)
    ids = sorted(r["id"] for r in table_changes(fused, v0).select("id").collect())
    assert ids == sorted([1, 1, cold, cold, 500])  # pre+post, pre+post, insert
