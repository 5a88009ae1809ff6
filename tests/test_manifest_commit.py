"""The single manifest-commit path (CowTable.commit) and the epoch plan's
cleanup/ordering guarantees: manifest keys survive every table commit, the
bucket-local reconcile orders null versions like max_by, and a failed
frontier job or merge does not leak the cached net rows."""

import pytest

from tiflow_spark.plans import pipeline
from tiflow_spark.plans.pipeline import apply_epoch
from tiflow_spark.sinks.cow_table import CowTable
from tiflow_spark.sources.registry import PAYLOAD_V1, SchemaVersion

ROWS = (
    "op STRING, commit_ts LONG, start_ts LONG, source_partition INT, "
    "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING"
)


def _rows(spark, items):
    return spark.createDataFrame(
        [(op, cts, cts - 1, 0, conv, 0, "u", text, None) for op, cts, conv, text in items],
        ROWS,
    )


def test_unknown_manifest_keys_survive_every_commit(spark, tmp_path):
    """A key committed once (an unknown ``probe`` and the runner's
    ``shard_vers``) carries forward through COW and MOR merges, compact,
    gc_tombstones and vacuum; the per-commit ``compacted`` does not."""
    root = str(tmp_path / "t")
    cow = CowTable(spark, root, n_buckets=2)
    mor = CowTable(spark, root, n_buckets=2, mode="mor")
    shard_vers = {"chats_0": 2, "chats_1": 1}

    def survived(step):
        m = cow.current_manifest()
        assert m.get("probe") == 1, step
        assert m.get("shard_vers") == shard_vers, step
        return m

    cow.merge(
        _rows(spark, [("I", 10, "a", "a0"), ("I", 10, "b", "b0")]), batch_id=0,
        manifest_extra={"probe": 1, "shard_vers": shard_vers},
    )
    survived("first commit")
    cow.merge(_rows(spark, [("U", 20, "a", "a1")]), batch_id=1)
    survived("cow merge")
    mor.merge(_rows(spark, [("U", 30, "b", "b1")]), batch_id=2)
    assert survived("mor merge").get("deltas")
    assert mor.compact() > 0
    assert survived("compact")["compacted"]
    cow.merge(_rows(spark, [("D", 40, "a", "a1")]), batch_id=3)
    assert "compacted" not in survived("merge after compact")
    assert cow.gc_tombstones(below_resolved_ts=50) == 1
    survived("gc_tombstones")
    cow.vacuum(keep_manifests=1)
    survived("vacuum")
    assert {r["conv_id"]: r["text"] for r in cow.snapshot().collect()} == {"b": "b1"}


def test_reconcile_orders_null_versions_like_resolve(spark, tmp_path):
    """The bucket-local Arrow reconcile (merge) and the max_by resolve
    (compact, MOR reads) must pick the same winner when a version column
    is null: both treat null as the lowest version."""
    table = CowTable(spark, str(tmp_path / "t"), n_buckets=2)
    cand = spark.createDataFrame(
        [
            ("k", 0, "null-version", None, 1, 1, False, 0),
            ("k", 0, "versioned", 5, 4, 1, False, 0),
        ],
        "conv_id STRING, turn_idx INT, text STRING, __commit_ts LONG, "
        "__start_ts LONG, __op_order INT, __deleted BOOLEAN, bucket INT",
    )
    reconciled = [r["text"] for r in table._reconcile_by_bucket(cand).collect()]
    resolved = [r["text"] for r in table._resolve(cand).collect()]
    assert resolved == ["versioned"]
    assert reconciled == resolved


def _failing_frontier(events, bucket_col):
    raise RuntimeError("frontier job failed")


def _epoch_batch(spark):
    return spark.createDataFrame(
        [("I", 10, 9, "a", 0, 1, '{"role":"u","text":"a"}', None, 0)],
        "op STRING, commit_ts LONG, start_ts LONG, conv_id STRING, turn_idx INT, "
        "schema_version LONG, payload STRING, pre_payload STRING, source_partition INT",
    )


def _assert_epoch_fails_clean(spark, table, match):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match=match):
        apply_epoch(table, [SchemaVersion(1, 0, PAYLOAD_V1)], _epoch_batch(spark), 0)
    assert jsc.getPersistentRDDs().size() == before
    assert table.last_committed_batch() == -1


def test_failed_frontier_job_unpersists_net(spark, tmp_path, monkeypatch):
    """A failing frontier-and-buckets job, which runs before the net rows
    are cached, propagates its error, leaves no cached RDD behind and
    commits nothing."""
    monkeypatch.setattr(pipeline, "frontier_and_buckets", _failing_frontier)
    _assert_epoch_fails_clean(spark, CowTable(spark, str(tmp_path / "t"), n_buckets=2),
                              "frontier job failed")


def _failing_commit(self, base, changes):
    raise RuntimeError("manifest commit failed")


def test_failed_merge_unpersists_net(spark, tmp_path, monkeypatch):
    """A merge that fails after its write has filled the net-row cache (the
    manifest commit raises) propagates its error; the try/finally around
    the merge still unpersists the net rows, and nothing is committed."""
    monkeypatch.setattr(CowTable, "commit", _failing_commit)
    _assert_epoch_fails_clean(spark, CowTable(spark, str(tmp_path / "t"), n_buckets=2),
                              "manifest commit failed")
