"""One epoch path: a redelivered epoch runs nothing, every epoch reports the
table's watermark, a gated epoch rewrites only the buckets an applied row
reaches, and a single-table feed is a one-target feed."""

import os

import pytest
from pyspark.sql import functions as F

from tiflow_spark.plans.pipeline import apply_epoch
from tiflow_spark.sinks.cow_table import CowTable
from tiflow_spark.sources.registry import default_registry
from tiflow_spark.streaming.runner import Changefeed

EV_SCHEMA = (
    "op STRING, commit_ts LONG, start_ts LONG, conv_id STRING, turn_idx INT, "
    "schema_version LONG, payload STRING, pre_payload STRING, source_partition INT"
)
REG = default_registry(10**9)[:1]


def _ev(op, cts, conv, part, ver=1):
    return (op, cts, cts - 1, conv, 0, ver, f'{{"role":"u","text":"{conv}@{cts}"}}', None, part)


def _batch(spark, rows):
    return spark.createDataFrame(rows, EV_SCHEMA)


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_redelivered_epoch_runs_no_job(spark, tmp_path):
    """A committed batch_id applied again returns skipped before any Spark
    job runs and before the validator capture writes a file."""
    table = CowTable(spark, str(tmp_path / "t"), n_buckets=4)
    batch = _batch(spark, [_ev("I", 10, "a", 0), _ev("I", 11, "b", 1)])
    assert not apply_epoch(table, REG, batch, 0, capture_net=True).stats.skipped
    nets = set(os.listdir(tmp_path / "t" / "_validator" / "net"))
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    first = _next_job_id(spark)

    res = apply_epoch(table, REG, batch, 0, capture_net=True)

    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    assert _next_job_id(spark) == first
    assert set(os.listdir(tmp_path / "t" / "_validator" / "net")) == nets
    assert res.stats.skipped and res.resolved_ts is None


def test_resolved_ts_is_the_table_watermark(spark, tmp_path):
    """An ungated epoch reports the table's global watermark (the min over
    every partition seen), not the minimum over the partitions in its own
    batch: partition 1 still lags at 50 after batch 1 brings partition 0
    to 200."""
    table = CowTable(spark, str(tmp_path / "t"), n_buckets=4)
    apply_epoch(table, REG, _batch(spark, [_ev("I", 100, "a", 0), _ev("I", 50, "b", 1)]), 0)
    res = apply_epoch(table, REG, _batch(spark, [_ev("I", 200, "c", 0)]), 1)
    assert table.current_manifest()["resolved_ts"] == 50
    assert res.resolved_ts == 50
    assert res.stats.resolved_ts == 50


def _keys_by_bucket(spark, table, n=64):
    """bucket -> candidate conv_ids (turn_idx 0) that hash to it."""
    keys = spark.createDataFrame([(f"k{i}", 0) for i in range(n)], "conv_id STRING, turn_idx INT")
    out: dict[int, list[str]] = {}
    for r in keys.select("conv_id", table._bucket_col().alias("b")).collect():
        out.setdefault(int(r["b"]), []).append(r["conv_id"])
    return out


@pytest.mark.parametrize("version_gate", [None, 1], ids=["strict", "strict+version"])
def test_gated_epoch_rewrites_only_buckets_with_applied_rows(spark, tmp_path, version_gate):
    """Partition 0 reaches ts 20 and partition 1 ts 50, so the watermark is
    20. Bucket A gets an applied row. Every row of bucket W is withheld:
    with the strict gate alone, one row above the watermark; with both
    gates, also a row below the watermark that the version gate withholds
    (each row fails a different gate). W keeps its file reference, and
    only A counts as affected."""
    table = CowTable(spark, str(tmp_path / "t"), n_buckets=4)
    buckets = _keys_by_bucket(spark, table)
    a_bucket, w_bucket = sorted(b for b, ks in buckets.items() if len(ks) >= 2)[:2]
    a, (w1, w2) = buckets[a_bucket][0], buckets[w_bucket][:2]
    apply_epoch(table, REG, _batch(spark, [_ev("I", 10, a, 0), _ev("I", 10, w1, 1)]), 0)
    w_file = table.current_manifest()["buckets"][str(w_bucket)]

    rows = [_ev("U", 20, a, 0), _ev("U", 50, w1, 1)]
    if version_gate is not None:
        rows.append(_ev("I", 15, w2, 1, ver=2))
    res = apply_epoch(table, REG, _batch(spark, rows), 1,
                      strict_frontier=True, version_gate=version_gate)

    assert res.resolved_ts == 20
    assert res.stats.affected_buckets == 1
    assert table.current_manifest()["buckets"][str(w_bucket)] == w_file
    assert table.read_pending().count() == len(rows) - 1
    texts = {r["conv_id"]: r["text"] for r in table.snapshot().collect()}
    assert texts == {a: f"{a}@20", w1: f"{w1}@10"}


def _parity_batches(spark):
    return [
        _batch(spark, [_ev("I", 10, "a", 0), _ev("I", 11, "b", 1), _ev("I", 12, "c", 0)]),
        _batch(spark, [_ev("U", 20, "a", 0), _ev("D", 21, "b", 1), _ev("I", 22, "d", 1)]),
    ]


def test_single_table_feed_is_a_one_target_feed(spark, tmp_path):
    """A feed built with ``table=`` and one built with a one-entry
    ``tables=`` mapping (events carrying ``table_name``) run the same
    per-target body: same snapshot, lineage and batch-log stats."""
    single = Changefeed(
        spark=spark, events_dir=str(tmp_path / "unused"), checkpoint_dir=str(tmp_path / "c1"),
        table=CowTable(spark, str(tmp_path / "t1"), n_buckets=4), registry=REG,
    )
    multi_table = CowTable(spark, str(tmp_path / "t2"), n_buckets=4)
    multi = Changefeed(
        spark=spark, events_dir=str(tmp_path / "unused"), checkpoint_dir=str(tmp_path / "c2"),
        tables={"transcripts": (multi_table, REG)},
    )
    for batch_id, batch in enumerate(_parity_batches(spark)):
        single._process_batch(batch, batch_id)
        multi._process_batch(batch.withColumn("table_name", F.lit("transcripts")), batch_id)

    def state(table):
        snap = sorted((r.asDict() for r in table.snapshot().collect()), key=lambda r: r["conv_id"])
        return snap, sorted(map(tuple, table.lineage().collect()))

    assert state(single.table) == state(multi_table)
    assert [(b, s) for b, s in single.batch_log] == [
        (b, s) for b, name, s in multi.batch_log if name == "transcripts"
    ]
    assert len(single.batch_log) == len(multi.batch_log) == 2
    assert {r["conv_id"] for r in single.table.snapshot().collect()} == {"a", "c", "d"}
