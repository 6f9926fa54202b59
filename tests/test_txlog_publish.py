"""The txlog's one commit protocol (``TxLogTable._publish``), checked once
for every commit kind: each kind loses one version race to an interleaved
commit and must then

- raise, if it makes a single attempt, leaving the table readable at
  exactly the interleaved head and the handle's layout fields as they
  were;
- land at the version after the interleaved one, if it retries;
- return the recorded version and write nothing, if the interleaved
  commit carried its own txn tag.

Also: a retrying kind gives up after ``COMMIT_RETRIES`` lost races, every
commit kind applies the checkpoint cadence, and ``compact_buckets`` retries
past a disjoint-bucket merge but not past one into its own bucket."""

from __future__ import annotations

import dataclasses
from typing import Callable

import pytest
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.operators.merge import touched_buckets
from cdc_streaming_pipeline_spark.sources.txlog import (
    COMMIT_RETRIES,
    BucketedTxLogTable,
    ConcurrentWriteError,
    TxLogTable,
    _last_checkpoint_version,
    analyze_table,
    clone_table,
    snapshot,
)
from tests.txlog_replay import fold_log

S = "id int, amount double, g string, _op string, _lsn string, _deleted string"


def _ev(spark, rows):
    return spark.createDataFrame(rows, S)


def _seed_rows(n=40, lsn="000001"):
    return [(i, float(i), "abc"[i % 3], "r", lsn, None) for i in range(n)]


def _bucketed(spark, path, n_buckets=4, **kw):
    t = BucketedTxLogTable(spark, path, key_cols=["id"], n_buckets=n_buckets, **kw)
    t.init_from_events(_ev(spark, _seed_rows()))
    return t


def _plain(spark, path):
    t = TxLogTable(spark, path)
    t.commit(spark.range(8).select("id", F.col("id").cast("double").alias("amount")))
    return t


def _plain_rows(spark):
    return spark.range(8, 12).select("id", F.col("id").cast("double").alias("amount"))


def _analyze(t):
    """The interleaved commit most kinds race: a facts-only entry from
    another handle, which touches no file any kind reads or writes."""
    return lambda: analyze_table(type(t)(t.spark, t.path), stats_cols=["amount"])


def _race_once(monkeypatch, interleave):
    """Patch the put seam so the FIRST commit attempt (of any handle)
    runs ``interleave`` just before its own put; every later put,
    including the interleaved commit's, goes straight through."""
    orig = TxLogTable._try_commit
    fired: list[int] = []

    def race(self, version, entry):
        if not fired:
            fired.append(version)
            interleave()
        return orig(self, version, entry)

    monkeypatch.setattr(TxLogTable, "_try_commit", race)
    return fired


@dataclasses.dataclass
class Kind:
    """One commit kind: ``setup`` builds the table (returns it plus any
    context), ``op`` runs the write and returns its committed version,
    ``interleave`` returns the racing commit and ``rival_mode`` is the
    entry mode it writes, ``mode`` is the entry mode the kind writes, and
    ``retries`` says whether it may retry."""

    setup: Callable
    op: Callable
    mode: str
    retries: bool
    interleave: Callable = lambda t, ctx: _analyze(t)
    rival_mode: str = "analyze"
    #: a handle on the log the op commits to (a clone's destination)
    target: Callable = lambda t, ctx: t


def _migrate_setup(spark, path):
    t = _bucketed(spark, path, n_buckets=2)
    t.rebucket(4, rewrite=False)
    return t, None


def _compact_setup(spark, path):
    t = _bucketed(spark, path)
    t.merge_cdc_batch_mor(_ev(spark, [(1, 1.5, "z", "u", "000002", None)]))
    return t, None


KINDS = {
    "append": Kind(
        lambda s, p: (_plain(s, p), None),
        lambda t, ctx: t.commit(_plain_rows(t.spark)),
        "append", True,
    ),
    "overwrite": Kind(
        lambda s, p: (_plain(s, p), None),
        lambda t, ctx: t.commit(_plain_rows(t.spark), mode="overwrite"),
        "overwrite", False,
    ),
    "compact": Kind(
        lambda s, p: (_plain(s, p), None), lambda t, ctx: t.compact(), "compact", False
    ),
    "init": Kind(
        lambda s, p: (BucketedTxLogTable(s, p, key_cols=["id"], n_buckets=4), None),
        lambda t, ctx: t.init_from_events(_ev(t.spark, _seed_rows())),
        "append", False,
        interleave=lambda t, ctx: lambda: BucketedTxLogTable(
            t.spark, t.path, key_cols=["id"], n_buckets=4
        ).init_from_events(_ev(t.spark, _seed_rows(10))),
        rival_mode="append",
    ),
    "alter": Kind(
        lambda s, p: (_bucketed(s, p), None),
        lambda t, ctx: t.rename_column("g", "grp"),
        "alter", True,
    ),
    "rebucket": Kind(
        lambda s, p: (_bucketed(s, p), None), lambda t, ctx: t.rebucket(8), "rebucket", False
    ),
    "rebucket_lazy": Kind(
        lambda s, p: (_bucketed(s, p), None),
        lambda t, ctx: t.rebucket(8, rewrite=False),
        "rebucket", False,
    ),
    "widen_key": Kind(
        lambda s, p: (_bucketed(s, p), None),
        lambda t, ctx: t.widen_key("id", "bigint", n_buckets=8),
        "rebucket", False,
    ),
    "migrate": Kind(
        _migrate_setup, lambda t, ctx: t.migrate_buckets(max_files=1)[0], "migrate", True
    ),
    "merge": Kind(
        lambda s, p: (_bucketed(s, p), None),
        lambda t, ctx: t.merge_cdc_batch(_ev(t.spark, [(3, 9.5, "m", "u", "000005", None)]))[0],
        "merge", True,
    ),
    "merge_mor": Kind(
        lambda s, p: (_bucketed(s, p), None),
        lambda t, ctx: t.merge_cdc_batch_mor(
            _ev(t.spark, [(3, 9.5, "m", "u", "000005", None)])
        )[0],
        "merge_mor", True,
    ),
    "compact_buckets": Kind(
        _compact_setup, lambda t, ctx: t.compact_buckets(min_files=2)[0], "merge", True
    ),
    "delete": Kind(
        lambda s, p: (_bucketed(s, p), None),
        lambda t, ctx: t.delete_where(F.col("amount") < 5.0)[0],
        "delete", True,
    ),
    "update": Kind(
        lambda s, p: (_bucketed(s, p), None),
        lambda t, ctx: t.update_where(F.col("amount") < 5.0, {"g": "x"})[0],
        "update", True,
    ),
    "clone": Kind(
        lambda s, p: (_bucketed(s, p), p + "_clone"),
        lambda t, ctx: clone_table(t, ctx).latest_version(),
        "clone", False,
        interleave=lambda t, ctx: lambda: clone_table(t, ctx),
        rival_mode="clone",
        target=lambda t, ctx: TxLogTable(t.spark, ctx),
    ),
    "analyze": Kind(
        lambda s, p: (_bucketed(s, p), None),
        lambda t, ctx: analyze_table(t, stats_cols=["amount"]),
        "analyze", True,
    ),
}


def _layout(t):
    return (
        getattr(t, "n_buckets", None),
        dict(getattr(t, "type_widening", {})),
        dict(getattr(t, "column_mapping", {})),
        list(getattr(t, "dropped_cols", [])),
    )


def _rows(t):
    if isinstance(t, BucketedTxLogTable):
        return sorted(tuple(r) for r in t.read_state().collect())
    return sorted(tuple(r) for r in t.read().collect())


@pytest.mark.parametrize("name", sorted(KINDS))
def test_every_kind_loses_one_race(spark, tmp_path, monkeypatch, name):
    kind = KINDS[name]
    t, ctx = kind.setup(spark, str(tmp_path / "t"))
    layout = _layout(t)
    before = kind.target(t, ctx).latest_version()
    fired = _race_once(monkeypatch, kind.interleave(t, ctx))
    expect_head = (-1 if before is None else before) + 1
    if not kind.retries:
        with pytest.raises(ConcurrentWriteError, match="lost the race"):
            kind.op(t, ctx)
        assert fired == [expect_head]
        assert _layout(t) == layout
        # a fresh handle reads exactly the interleaved head
        fresh = kind.target(t, ctx)
        fresh = type(fresh)(spark, fresh.path)
        assert fresh.latest_version() == expect_head
        assert fresh._read_entry(expect_head)["mode"] == kind.rival_mode
        assert sorted(snapshot(fresh).files) == sorted(fold_log(fresh)["files"])
        assert _rows(fresh)
        return
    v = kind.op(t, ctx)
    assert fired == [expect_head] and v == expect_head + 1
    fresh = type(t)(spark, t.path)
    assert fresh.latest_version() == v
    assert fresh._read_entry(expect_head)["mode"] == kind.rival_mode
    e = fresh._read_entry(v)
    assert e["mode"] == kind.mode and e["version"] == v
    assert sorted(snapshot(fresh).files) == sorted(fold_log(fresh)["files"])


TXN_KINDS = {
    "append": (
        lambda s, p: _plain(s, p),
        lambda t, txn: t.commit(_plain_rows(t.spark), txn=txn),
    ),
    "init": (
        lambda s, p: BucketedTxLogTable(s, p, key_cols=["id"], n_buckets=4),
        lambda t, txn: t.init_from_events(_ev(t.spark, _seed_rows()), txn=txn),
    ),
    "merge": (
        lambda s, p: _bucketed(s, p),
        lambda t, txn: t.merge_cdc_batch(
            _ev(t.spark, [(3, 9.5, "m", "u", "000005", None)]), txn=txn
        )[0],
    ),
    "merge_mor": (
        lambda s, p: _bucketed(s, p),
        lambda t, txn: t.merge_cdc_batch_mor(
            _ev(t.spark, [(3, 9.5, "m", "u", "000005", None)]), txn=txn
        )[0],
    ),
}


@pytest.mark.parametrize("name", sorted(TXN_KINDS))
def test_race_lost_to_own_txn_returns_recorded_version(spark, tmp_path, monkeypatch, name):
    """The replayed-batch case inside the race: the interleaved commit IS
    this write (same writer, same epoch), so the loser returns the
    recorded version and the log gains no second entry."""
    setup, op = TXN_KINDS[name]
    t = setup(spark, str(tmp_path / "t"))
    txn = ("writer", 7)
    if isinstance(t, BucketedTxLogTable):
        twin = BucketedTxLogTable(spark, t.path, key_cols=["id"], n_buckets=4)
    else:
        twin = TxLogTable(spark, t.path)
    fired = _race_once(monkeypatch, lambda: op(twin, txn))
    v = op(t, txn)
    assert v == fired[0]
    fresh = type(t)(spark, t.path)
    assert fresh.latest_version() == v
    assert fresh._read_entry(v)["txn"] == ["writer", 7]


def test_retrying_kind_gives_up_after_the_bound(spark, tmp_path, monkeypatch):
    """An append that loses every race to another writer's append stops
    after COMMIT_RETRIES attempts; each attempt let one foreign append
    land, and none of its own did."""
    t = _plain(spark, str(tmp_path / "t"))
    other = TxLogTable(spark, t.path)
    orig = TxLogTable._try_commit
    ours: list[int] = []

    def race(self, version, entry):
        if self is t:
            ours.append(version)
            orig(other, version, {**entry, "adds": [], "n_files": 0, "file_bytes": {}})
        return orig(self, version, entry)

    monkeypatch.setattr(TxLogTable, "_try_commit", race)
    with pytest.raises(ConcurrentWriteError, match=f"gave up after {COMMIT_RETRIES}"):
        t.commit(_plain_rows(spark))
    assert ours == list(range(1, COMMIT_RETRIES + 1))
    assert TxLogTable(spark, t.path).latest_version() == COMMIT_RETRIES


def test_alter_on_a_checkpoint_multiple_writes_the_checkpoint(spark, tmp_path):
    """Every commit kind applies the cadence: a rename landing on a
    multiple of checkpoint_interval writes that checkpoint, so the log
    suffix stays bounded by the interval. Version 0 writes none."""
    t = _bucketed(spark, str(tmp_path / "t"), checkpoint_interval=2)
    assert _last_checkpoint_version(t) is None
    v1, _ = t.merge_cdc_batch(_ev(spark, [(1, 1.5, "z", "u", "000002", None)]))
    assert v1 == 1 and _last_checkpoint_version(t) is None
    assert t.rename_column("g", "grp") == 2
    assert _last_checkpoint_version(t) == 2


def _bucket_of(spark, k, n=4):
    return touched_buckets(_ev(spark, [(k, 0.0, "a", "u", "0", None)]), ["id"], n)[0]


def _compaction_race(spark, path, monkeypatch, same_bucket: bool):
    """A 4-bucket table whose key-1 bucket holds two files, and a
    ``compact_buckets`` that loses its race to a MoR merge of a NEW key
    in the same bucket or in another one."""
    t = _bucketed(spark, path)
    t.merge_cdc_batch_mor(_ev(spark, [(1, 1.5, "z", "u", "000002", None)]))
    b1 = _bucket_of(spark, 1)
    k = next(k for k in range(100, 200) if (_bucket_of(spark, k) == b1) == same_bucket)
    racer = BucketedTxLogTable(spark, t.path)
    fired = _race_once(
        monkeypatch,
        lambda: racer.merge_cdc_batch_mor(_ev(spark, [(k, 7.0, "r", "c", "000003", None)])),
    )
    return t, b1, k, fired


def test_compact_buckets_retries_past_a_disjoint_merge(spark, tmp_path, monkeypatch):
    t, b1, k, fired = _compaction_race(spark, str(tmp_path / "t"), monkeypatch, False)
    v, targets = t.compact_buckets(min_files=2)
    assert targets == [b1] and fired == [2] and v == 3
    fresh = BucketedTxLogTable(spark, t.path)
    ref = fold_log(fresh)
    snap = snapshot(fresh)
    assert sorted(snap.files) == sorted(ref["files"])
    assert snap.dvs == ref["dvs"] and snap.buckets == ref["buckets"]
    st = {r["id"]: r["amount"] for r in fresh.read_state().collect()}
    assert st[1] == 1.5 and st[k] == 7.0 and len(st) == 41
    per_bucket = [fresh_b for f, fresh_b in snap.buckets.items() if f in set(snap.files)]
    assert per_bucket.count(b1) == 1  # the compaction landed


def test_compact_buckets_conflicts_with_a_same_bucket_merge(spark, tmp_path, monkeypatch):
    t, b1, k, fired = _compaction_race(spark, str(tmp_path / "t"), monkeypatch, True)
    with pytest.raises(ConcurrentWriteError, match="conflicts"):
        t.compact_buckets(min_files=2)
    fresh = BucketedTxLogTable(spark, t.path)
    assert fresh.latest_version() == 2
    st = {r["id"]: r["amount"] for r in fresh.read_state().collect()}
    assert st[1] == 1.5 and st[k] == 7.0 and len(st) == 41


@pytest.mark.parametrize("op", ["compact_buckets", "migrate"])
def test_rewrite_retry_keeps_a_drifted_column(spark, tmp_path, monkeypatch, op):
    """A retried partial rewrite records the schema recorded at the base
    it lands on, unioned with its own: on a widened table (read with the
    recorded schema given explicitly) a column that an interleaved
    disjoint-bucket merge brought in stays readable after the rewrite
    lands on top of it."""
    w = "id int, qty int, g string, _op string, _lsn string, _deleted string"
    n = 4 if op == "compact_buckets" else 2
    t = BucketedTxLogTable(spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=n)
    t.init_from_events(
        spark.createDataFrame([(i, i, "abc"[i % 3], "r", "000001", None) for i in range(40)], w)
    )
    t.widen_column("qty", "bigint")
    if op == "compact_buckets":
        t.merge_cdc_batch_mor(spark.createDataFrame([(1, 10, "z", "u", "000002", None)], w))
        rewrite = lambda: t.compact_buckets(min_files=2)[0]
        # the rewritten bucket is key 1's
        clash = lambda k: _bucket_of(spark, k) == _bucket_of(spark, 1)
    else:
        t.rebucket(4, rewrite=False)
        pinned = snapshot(t)
        b = pinned.buckets[pinned.files[0]]  # the file migrate_buckets takes
        rewrite = lambda: t.migrate_buckets(max_files=1)[0]
        # its rows land in the new buckets b and b + 2
        clash = lambda k: _bucket_of(spark, k) % 2 == b
    k = next(k for k in range(100, 200) if not clash(k))
    drift = spark.createDataFrame(
        [(k, 7, "r", "c", "000003", None, "new")], w + ", extra string"
    )
    racer = BucketedTxLogTable(spark, t.path)
    fired = _race_once(monkeypatch, lambda: racer.merge_cdc_batch_mor(drift))
    assert rewrite() == fired[0] + 1
    fresh = BucketedTxLogTable(spark, t.path)
    assert "extra" in [f["name"] for f in snapshot(fresh).schema["fields"]]
    st = {r["id"]: (r["qty"], r["extra"]) for r in fresh.read_state().collect()}
    assert st[k] == (7, "new") and st[1][1] is None and len(st) == 41


def test_layout_change_kept_when_only_the_checkpoint_fails(spark, tmp_path, monkeypatch):
    """A rebucket whose commit lands but whose checkpoint write then fails
    leaves the handle on the layout the log now records; one that loses
    its race goes back to the old one (``test_every_kind_loses_one_race``)."""
    from cdc_streaming_pipeline_spark.sources import txlog

    t = _bucketed(spark, str(tmp_path / "t"), checkpoint_interval=1)

    def fail(table, version=None):
        raise OSError("checkpoint store unavailable")

    monkeypatch.setattr(txlog, "write_checkpoint", fail)
    with pytest.raises(OSError, match="checkpoint store"):
        t.rebucket(8)
    fresh = BucketedTxLogTable(spark, t.path)
    assert fresh.latest_version() == 1
    assert fresh._read_entry(1)["table_meta"]["n_buckets"] == 8
    assert t.n_buckets == 8
