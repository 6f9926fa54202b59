"""Data-skipping statistics on the BUCKETED table (sources/txlog.py):
every write path records per-file [min, max] for the handle's
``stats_cols`` and ``read_state_where`` prunes files that cannot
intersect the predicate — exact regardless of stats coverage, because
bucket-pure files hold materialized latest rows with disjoint key sets
(no cross-file shadowing for a pruned file to hide).

The realistic payoff shape: a monotonic-ish value column (event time,
amounts trending up) clusters recent values in recently-rewritten
files, so a "recent range" predicate reads the merge's files and skips
the cold buckets — proportional I/O on the 100 TB table."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.sources.txlog import (
    BucketedTxLogTable,
    resolve_file_stats,
    write_checkpoint,
)
from tests.txlog_replay import replayed_files

SCHEMA = "id bigint, amount double, _op string, _lsn string, _deleted string"


def _events(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _seed(spark, n=60):
    return _events(spark, [(i, float(i), "r", "0001", None) for i in range(n)])


def _mk(spark, tmp_path, **kw):
    kw.setdefault("key_cols", ["id"])
    kw.setdefault("n_buckets", 8)
    kw.setdefault("stats_cols", ["amount"])
    return BucketedTxLogTable(spark, str(tmp_path / "t"), **kw)


def _rows(df):
    return {r["id"]: r["amount"] for r in df.collect()}


def test_merge_records_stats_and_recent_range_prunes(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))  # cold amounts 0..59
    v, _ = t.merge_cdc_batch(_events(spark, [(5, 1000.0, "u", "0002", None)]))
    stats = resolve_file_stats(t, v)
    e = t._read_entry(v)
    assert all(f in stats and "amount" in stats[f] for f in e["adds"])

    # the hot-range predicate reads ONLY the merge's files
    df, read, total = t.read_state_where("amount", 900.0, 1100.0)
    assert read == len(e["adds"]) < total
    assert _rows(df) == {5: 1000.0}

    # a cold-range predicate is still exact (merged bucket's file holds
    # its untouched siblings too, so it must be read for them)
    df, read, total = t.read_state_where("amount", 10.0, 12.0)
    assert _rows(df) == {10: 10.0, 11: 11.0, 12: 12.0}
    assert read <= total

    # unprunable == unpruned semantics across the whole domain
    full = _rows(t.read_state().filter(F.col("amount").between(0.0, 2000.0)))
    df, _, _ = t.read_state_where("amount", 0.0, 2000.0)
    assert _rows(df) == full


def test_all_pruned_range_reads_zero_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    df, read, total = t.read_state_where("amount", 1e9, 2e9)
    assert read == 0 and total > 0 and df.count() == 0
    assert df.columns == ["id", "amount"]  # state view, not raw


def test_stats_ride_checkpoints_and_reopen(spark, tmp_path):
    t = _mk(spark, tmp_path, checkpoint_interval=1)
    t.init_from_events(_seed(spark))
    t.merge_cdc_batch(_events(spark, [(7, 1000.0, "u", "0002", None)]))
    write_checkpoint(t)
    # a fresh handle resolves stats through the checkpoint, not a replay
    re = BucketedTxLogTable(spark, str(tmp_path / "t"), stats_cols=["amount"])
    df, read, total = re.read_state_where("amount", 900.0, 1100.0)
    assert read < total and _rows(df) == {7: 1000.0}


def test_stats_less_writer_stays_exact_conservatively(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    # a second handle with NO stats policy lands a hot row
    plain = BucketedTxLogTable(spark, str(tmp_path / "t"))
    plain.merge_cdc_batch(_events(spark, [(9, 2000.0, "u", "0002", None)]))
    df, read, total = t.read_state_where("amount", 1900.0, 2100.0)
    assert _rows(df) == {9: 2000.0}  # conservative read found it
    # its stats-less files are in the read set despite the range
    v = t.latest_version()
    assert set(t._read_entry(v)["adds"]) <= set(
        f for f in replayed_files(t)
    )
    assert read >= len(t._read_entry(v)["adds"])


def test_all_null_stats_column_prunes_via_null_facts(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.init_from_events(
        _events(spark, [(i, None, "r", "0001", None) for i in range(10)])
    )
    # min/max are null, but the per-file null facts PROVE no non-null
    # value exists -> all-null files prune instead of reading (r12:
    # pre-null-facts they had to be read conservatively)
    df, read, total = t.read_state_where("amount", 0.0, 10.0)
    assert read == 0 and total > 0 and df.count() == 0


def test_compaction_and_migration_refresh_stats(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    t.merge_cdc_batch(_events(spark, [(3, 1000.0, "u", "0002", None)]))
    v, folded = t.compact_buckets(min_files=1)
    assert folded
    stats = resolve_file_stats(t, v)
    assert all("amount" in stats[f] for f in t._read_entry(v)["adds"])
    df, read, total = t.read_state_where("amount", 900.0, 1100.0)
    assert _rows(df) == {3: 1000.0} and read < total

    # lazy rebucket (metadata-only) keeps old stats; migration re-stamps
    t.rebucket(16, rewrite=False)
    while t.migrate_buckets(max_files=4)[0] is not None:
        pass
    lv = t.latest_version()
    stats = resolve_file_stats(t, lv)
    df, read, total = t.read_state_where("amount", 900.0, 1100.0)
    assert _rows(df) == {3: 1000.0} and read < total


def test_tombstone_in_range_stays_dead(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark))
    t.merge_cdc_batch(_events(spark, [(5, 1000.0, "u", "0002", None)]))
    t.merge_cdc_batch(_events(spark, [(5, 1000.0, "d", "0003", "true")]))
    df, _, _ = t.read_state_where("amount", 900.0, 1100.0)
    assert df.count() == 0


def test_clustered_compaction_prunes_inside_cold_buckets(spark, tmp_path):
    """compact_buckets(cluster_cols=...) range-splits each bucket's
    rows so per-file [min, max] become narrow — without it a hash
    bucket's single file spans the whole value domain and a cold-range
    predicate reads everything."""
    t = _mk(spark, tmp_path)
    t.init_from_events(_seed(spark, n=4000))  # amounts 0..3999 across 8 buckets

    # pre-clustering: every file spans the domain -> zero skipping
    _, read0, total0 = t.read_state_where("amount", 100.0, 110.0)
    assert read0 == total0
    pre = _rows(t.read_state())

    v, folded = t.compact_buckets(
        min_files=1, cluster_cols=["amount"], cluster_parts=32
    )
    assert folded
    assert _rows(t.read_state()) == pre  # logical no-op

    df, read1, total1 = t.read_state_where("amount", 100.0, 110.0)
    assert _rows(df) == {i: float(i) for i in range(100, 111)}
    assert total1 >= 16 and read1 <= total1 // 2  # real pruning now

    # a merge into one bucket degrades only that bucket, stays exact
    t.merge_cdc_batch(_events(spark, [(105, 9999.0, "u", "0002", None)]))
    df, _, _ = t.read_state_where("amount", 100.0, 110.0)
    want = {i: float(i) for i in range(100, 111)}
    del want[105]
    assert _rows(df) == want
    df, _, _ = t.read_state_where("amount", 9000.0, 10000.0)
    assert _rows(df) == {105: 9999.0}


def test_zorder_clustered_compaction_prunes_both_dims(spark, tmp_path):
    """Multi-dimensional clustering: pass the z-value interleave
    (operators/layout.zorder_value) as the cluster expression and both
    dimensions' per-file stats tighten enough to prune."""
    from cdc_streaming_pipeline_spark.operators.layout import zorder_value

    rows = [
        (i, float(i % 64), "r", "0001", None) for i in range(4096)
    ]  # amount cycles 0..63 while id sweeps 0..4095: uncorrelated dims
    t = BucketedTxLogTable(
        spark,
        str(tmp_path / "t"),
        key_cols=["id"],
        n_buckets=8,
        stats_cols=["id", "amount"],
    )
    t.init_from_events(_events(spark, rows))
    t.compact_buckets(
        min_files=1,
        cluster_cols=[zorder_value([F.col("id"), F.col("amount")])],
        cluster_parts=64,
    )
    d1, r1, tot = t.read_state_where("id", 0, 100)
    d2, r2, _ = t.read_state_where("amount", 3.0, 4.0)
    assert d1.count() == 101 and d2.count() == 4096 // 32
    assert r1 < tot and r2 < tot  # both dims prune off one layout


CAT_SCHEMA = "id bigint, status string, _op string, _lsn string, _deleted string"


def _cat_events(spark, rows):
    return spark.createDataFrame(rows, CAT_SCHEMA)


def test_dict_stats_prune_equality_after_status_clustering(spark, tmp_path):
    """Dictionary stats: a categorical column's [min, max] spans the
    alphabet in every hash-bucketed file, so equality predicates prune
    NOTHING — until a clustered compaction makes files value-pure and
    the recorded per-file value sets make `status IN (...)` proportional."""
    from cdc_streaming_pipeline_spark.sources.txlog import (
        resolve_file_dicts,
        resolve_snapshot_state,
    )

    t = BucketedTxLogTable(
        spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=8,
        stats_cols=["status"],
    )
    statuses = ["open", "closed", "pending", "failed"]
    rows = [(i, statuses[i % 4], "r", "0001", None) for i in range(400)]
    t.init_from_events(_cat_events(spark, rows))

    # hash layout: every file holds every status -> dicts exist but
    # cannot prune (each file's set intersects), range check useless
    df, read0, total0 = t.read_state_where_in("status", ["failed"])
    assert read0 == total0
    want = {i for i in range(400) if i % 4 == 3}
    assert {r["id"] for r in df.collect()} == want

    v, folded = t.compact_buckets(
        min_files=1, cluster_cols=["status"], cluster_parts=32
    )
    assert folded
    dicts = resolve_file_dicts(t, v)
    snap, _, _ = resolve_snapshot_state(t, v)
    assert all(f in dicts and "status" in dicts[f] for f in snap)

    df, read1, total1 = t.read_state_where_in("status", ["failed"])
    assert {r["id"] for r in df.collect()} == want
    assert read1 <= total1 // 2  # value-pure files: real pruning

    # multi-value IN stays exact and prunes the disjoint slices
    df, read2, _ = t.read_state_where_in("status", ["open", "closed"])
    assert {r["id"] for r in df.collect()} == {
        i for i in range(400) if i % 4 in (0, 1)
    }
    assert read2 < total1


def test_high_cardinality_column_gets_no_dict_but_stays_exact(spark, tmp_path):
    """A (file, col) pair past DICT_CAP distinct values records NO set
    (the approx gate keeps collect_set buffers bounded); equality reads
    fall back to [min, max] and stay exact."""
    from cdc_streaming_pipeline_spark.sources.txlog import resolve_file_dicts

    t = BucketedTxLogTable(
        spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=2,
        stats_cols=["status"],
    )
    rows = [(i, f"sku-{i:05d}", "r", "0001", None) for i in range(2000)]
    t.init_from_events(_cat_events(spark, rows))
    dicts = resolve_file_dicts(t, t.latest_version())
    assert not any("status" in d for d in dicts.values())  # ~1000 distinct/file
    df, read, total = t.read_state_where_in("status", ["sku-00042"])
    assert read == total  # min..max spans the probe: conservative
    assert {r["id"] for r in df.collect()} == {42}


def test_dicts_ride_checkpoints_and_merge_updates_them(spark, tmp_path):
    from cdc_streaming_pipeline_spark.sources.txlog import (
        resolve_file_dicts,
        write_checkpoint,
    )

    t = BucketedTxLogTable(
        spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=4,
        stats_cols=["status"], checkpoint_interval=1,
    )
    t.init_from_events(
        _cat_events(spark, [(i, "cold", "r", "0001", None) for i in range(40)])
    )
    t.compact_buckets(min_files=1, cluster_cols=["status"], cluster_parts=4)
    t.merge_cdc_batch(_cat_events(spark, [(7, "hot", "u", "0002", None)]))
    write_checkpoint(t)
    re = BucketedTxLogTable(spark, str(tmp_path / "t"), stats_cols=["status"])
    df, read, total = re.read_state_where_in("status", ["hot"])
    assert {r["id"] for r in df.collect()} == {7}
    # only the merged bucket's files carry 'hot' in their dict
    assert read < total
    dicts = resolve_file_dicts(re, re.latest_version())
    hot_files = [f for f, d in dicts.items() if "hot" in d.get("status", [])]
    assert hot_files and read == len(hot_files)


def test_multi_predicate_pruned_read_intersects_keep_sets(spark, tmp_path):
    """read_state_pruned: range + equality predicates prune jointly —
    a file must survive EVERY predicate to be read — and the result
    equals the unpruned conjunctive filter exactly."""
    SCHEMA2 = "id bigint, amount double, status string, _op string, _lsn string, _deleted string"
    t = BucketedTxLogTable(
        spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=8,
        stats_cols=["amount", "status"],
    )
    rows = [
        (i, float(i), ["open", "closed"][i % 2], "r", "0001", None)
        for i in range(400)
    ]
    t.init_from_events(spark.createDataFrame(rows, SCHEMA2))
    t.compact_buckets(min_files=1, cluster_cols=["status", "amount"],
                      cluster_parts=32)

    df, read, total = t.read_state_pruned(
        [("amount", "between", 100.0, 120.0), ("status", "in", ["open"])]
    )
    got = {r["id"] for r in df.collect()}
    assert got == {i for i in range(100, 121) if i % 2 == 0}
    # joint pruning beats either predicate alone
    _, r_amt, _ = t.read_state_where("amount", 100.0, 120.0)
    _, r_st, _ = t.read_state_where_in("status", ["open"])
    assert read <= min(r_amt, r_st) and read < total

    # all-pruned conjunction: disjoint range
    df, read, _ = t.read_state_pruned(
        [("amount", "between", 1e9, 2e9), ("status", "in", ["open"])]
    )
    assert read == 0 and df.count() == 0
    with pytest.raises(ValueError, match="unknown predicate op"):
        t.read_state_pruned([("amount", "gt", 5)])


def test_pruned_reads_equal_unpruned_on_random_predicates(spark, tmp_path):
    """Seeded randomized equivalence: on a mid-migration, part-clustered
    table, every random range / IN / conjunctive predicate must return
    EXACTLY what the unpruned filter returns — pruning may only ever
    drop files that cannot contain a qualifying row, whatever the mix of
    layouts, dictionaries, and stats coverage."""
    import random

    SCHEMA2 = "id bigint, amount double, status string, _op string, _lsn string, _deleted string"
    t = BucketedTxLogTable(
        spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=8,
        stats_cols=["amount", "status"],
    )
    statuses = ["open", "closed", "pending", "failed", "void"]
    rows = [
        (i, float((i * 37) % 1000), statuses[i % 5], "r", "0001", None)
        for i in range(600)
    ]
    t.init_from_events(spark.createDataFrame(rows, SCHEMA2))
    t.compact_buckets(min_files=1, cluster_cols=["amount"], cluster_parts=16)
    t.rebucket(16, rewrite=False)  # mixed layouts from here on
    t.merge_cdc_batch(
        spark.createDataFrame(
            [(7, 5000.0, "hot", "u", "0002", None),
             (13, None, None, "d", "0002", "true")],
            SCHEMA2,
        )
    )
    t.migrate_buckets(max_files=2)  # PARTIAL migration: layouts stay mixed

    base = t.read_state()
    rng = random.Random(4242)
    for trial in range(12):
        lo = float(rng.randrange(0, 900))
        hi = lo + float(rng.randrange(10, 400))
        vals = rng.sample(statuses + ["hot", "absent"], rng.randint(1, 3))
        preds = [("amount", "between", lo, hi), ("status", "in", vals)]
        kind = rng.choice(("range", "in", "conj"))
        if kind == "range":
            df, _, _ = t.read_state_where("amount", lo, hi)
            want = base.filter(F.col("amount").between(lo, hi))
        elif kind == "in":
            df, _, _ = t.read_state_where_in("status", vals)
            want = base.filter(F.col("status").isin(*vals))
        else:
            df, _, _ = t.read_state_pruned(preds)
            want = base.filter(
                F.col("amount").between(lo, hi) & F.col("status").isin(*vals)
            )
        got = {(r["id"], r["amount"], r["status"]) for r in df.collect()}
        exp = {(r["id"], r["amount"], r["status"]) for r in want.collect()}
        assert got == exp, f"trial {trial} ({kind}, {lo}-{hi}, {vals})"


def test_dict_gate_is_per_file_column_pair(spark, tmp_path):
    """r11 verdict 'What's wrong #2': a file qualifying via ONE
    low-cardinality column must not have its high-cardinality sibling's
    full value set collected. The second-pass aggregate gates each
    column's collect_set with when(file ∈ candidates-for-that-column)
    — pinned in the plan (every collect_set wrapped in CASE WHEN) and
    in the outcome (dict recorded for the low-card column only)."""
    from cdc_streaming_pipeline_spark.sources.txlog import resolve_file_dicts

    SCHEMA2 = (
        "id bigint, sku string, status string, "
        "_op string, _lsn string, _deleted string"
    )
    t = BucketedTxLogTable(
        spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=2,
        stats_cols=["sku", "status"],
    )
    rows = [
        (i, f"sku-{i:06d}", ["open", "closed"][i % 2], "r", "0001", None)
        for i in range(2000)
    ]
    t.init_from_events(spark.createDataFrame(rows, SCHEMA2))
    dicts = resolve_file_dicts(t, t.latest_version())
    assert dicts and all("status" in d for d in dicts.values())
    assert not any("sku" in d for d in dicts.values())  # ~1000 distinct/file

    # plan pin on the seam: the collect_set for a column runs ONLY over
    # that column's candidate files (CASE WHEN input_file ∈ ...)
    snap = replayed_files(t)
    # the seam takes RAW URIs as input_file_name returns them
    job = t._dict_job({"status": [f"file://{snap[0]}"]})
    plan = job._jdf.queryExecution().optimizedPlan().toString()
    assert "CASE WHEN" in plan and "collect_set" in plan
    got = {r["_f"].rsplit("/", 1)[-1]: r["_set_status"] for r in job.collect()}
    target = snap[0].rsplit("/", 1)[-1]
    for fname, s in got.items():
        if fname == target:
            assert set(s) == {"open", "closed"}
        else:
            assert s == []  # gated out: nulls only, nothing buffered


def test_long_dict_values_fall_back_to_range_pruning(spark, tmp_path):
    """Values longer than DICT_VALUE_CAP never land in a dictionary —
    a 16-value set of long documents would bloat entries like
    untruncated min/max would; the column falls back to (truncated)
    range stats and reads stay exact."""
    from cdc_streaming_pipeline_spark.sources.txlog import (
        DICT_VALUE_CAP,
        resolve_file_dicts,
    )

    t = BucketedTxLogTable(
        spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=2,
        stats_cols=["status"],
    )
    long_vals = [f"{c}" + "x" * (DICT_VALUE_CAP + 40) for c in "ab"]
    rows = [(i, long_vals[i % 2], "r", "0001", None) for i in range(100)]
    t.init_from_events(spark.createDataFrame(rows, CAT_SCHEMA))
    dicts = resolve_file_dicts(t, t.latest_version())
    assert not any("status" in d for d in dicts.values())
    df, read, total = t.read_state_where_in("status", [long_vals[0]])
    assert {r["id"] for r in df.collect()} == {i for i in range(100) if i % 2 == 0}
