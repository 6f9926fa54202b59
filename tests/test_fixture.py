"""Build-once query fixtures (sources/tables.py:fixture) and the loud
availableNow wait the stream-built fixtures use."""

from __future__ import annotations

import os
import tempfile
from types import SimpleNamespace

import pytest

from cdc_streaming_pipeline_spark.sources.tables import fixture
from cdc_streaming_pipeline_spark.streaming.pipeline import await_available_now
from tests.conftest import SF_DIR


def _session(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def tmpdir_root(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def test_fixture_builds_once_per_key(tmpdir_root):
    spark, roots = _session("app-once"), []

    def build(root):
        roots.append(root)
        os.makedirs(root)
        return ("built", root)

    first = fixture(spark, "/sf/a", "t", build)
    assert fixture(spark, "/sf/a", "t", build) is first
    assert len(roots) == 1
    # the root is resolved at call time, under the current temp dir
    assert os.path.dirname(roots[0]) == str(tmpdir_root)
    # another sf_dir or another session is another key
    fixture(spark, "/sf/b", "t", build)
    fixture(_session("app-other"), "/sf/a", "t", build)
    assert len(roots) == 3 and len(set(roots)) == 3


def test_fixture_distinct_names_get_distinct_roots(tmpdir_root):
    spark = _session("app-names")
    a = fixture(spark, "/sf/a", "alpha", lambda root: root)
    b = fixture(spark, "/sf/a", "beta", lambda root: root)
    assert a != b
    assert os.path.basename(a).startswith("fixture-alpha-")
    assert os.path.basename(b).startswith("fixture-beta-")


def test_raising_build_is_not_memoized_nor_left_on_disk(tmpdir_root):
    spark, calls = _session("app-raise"), []

    def flaky(root):
        calls.append(root)
        assert not os.path.exists(root), "a build must start from an empty root"
        os.makedirs(os.path.join(root, "partial"))
        if len(calls) == 1:
            raise RuntimeError("injected build failure")
        return root

    with pytest.raises(RuntimeError):
        fixture(spark, "/sf/a", "flaky", flaky)
    assert not os.path.exists(calls[0])
    root = fixture(spark, "/sf/a", "flaky", flaky)
    assert len(calls) == 2 and root == calls[0]
    assert fixture(spark, "/sf/a", "flaky", flaky) == root
    assert len(calls) == 2


class _HungQuery:
    """A streaming query that never finishes: the wait times out and
    the query stays active until stopped."""

    name = "hung"
    isActive = True

    def __init__(self):
        self.stopped = False

    def awaitTermination(self, timeout=None):
        return False

    def stop(self):
        self.stopped = True

    def exception(self):
        return None


def test_await_available_now_stops_and_raises_on_timeout():
    q = _HungQuery()
    with pytest.raises(TimeoutError, match="hung"):
        await_available_now(q, 1)
    assert q.stopped


def test_failed_merge_rebuilds_the_fixture_from_scratch(spark, tmp_path, monkeypatch):
    """A build that dies after its first commit must not be served: the
    next call rebuilds the whole table, not just the seed wave."""
    from cdc_streaming_pipeline_spark.plans.cdc import cdc_txlog_merge_incremental
    from cdc_streaming_pipeline_spark.sources.txlog import BucketedTxLogTable

    want = sorted(cdc_txlog_merge_incremental(spark, SF_DIR).collect())
    fresh_sf = tmp_path / "sf"
    fresh_sf.symlink_to(SF_DIR)

    merge = BucketedTxLogTable.merge_cdc_batch
    failures = []

    def merge_fails_once(self, *args, **kwargs):
        if not failures:
            failures.append(1)
            raise RuntimeError("injected merge failure")
        return merge(self, *args, **kwargs)

    monkeypatch.setattr(BucketedTxLogTable, "merge_cdc_batch", merge_fails_once)
    with pytest.raises(RuntimeError, match="injected merge failure"):
        cdc_txlog_merge_incremental(spark, str(fresh_sf))
    got = sorted(cdc_txlog_merge_incremental(spark, str(fresh_sf)).collect())
    assert got == want
