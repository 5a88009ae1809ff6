"""Round-5 feature tests: GC-safepoint carry-forward, pending-store drain on
empty microbatches, craft codec NULL-long fail-loud, near-dup cluster
closure, incremental continuous validation, columns dispatcher + topic
routing, DLQ handling."""

import pytest
from pyspark.sql import functions as F

from tiflow_spark.plans.pipeline import apply_epoch
from tiflow_spark.sinks.cow_table import CowTable
from tiflow_spark.sources.registry import PAYLOAD_V1, SchemaVersion

EV_SCHEMA = (
    "op STRING, commit_ts LONG, start_ts LONG, conv_id STRING, turn_idx INT, "
    "schema_version LONG, payload STRING, pre_payload STRING, source_partition INT"
)


def _ev(op, cts, conv, part=0, ver=1, text=None, sts=None):
    return (op, cts, sts if sts is not None else cts - 1, conv, 0, ver,
            f'{{"role":"u","text":"{text or conv}"}}', None, part)


def _direct_rows(items, spark):
    return spark.createDataFrame(
        items,
        "op STRING, commit_ts LONG, start_ts LONG, source_partition INT, "
        "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING",
    )


# ---------------------------------------------------------------- ADVICE high:
# gc_below survives subsequent merges

def test_merge_carries_gc_safepoint_forward(spark, tmp_path):
    """ADVICE r4 (high): merge() used to drop the gc_below safepoint from
    the manifest (only pending/validated_seq/upstream_seq/mq_batch carried),
    so the first merge after gc_tombstones erased it and
    ChangefeedController.resume would accept an overwrite_checkpoint_ts
    below the tombstone-GC horizon — re-replication could resurrect deleted
    rows. The safepoint must carry forward monotonically."""
    table = CowTable(spark, str(tmp_path / "t"), n_buckets=2)
    table.merge(_direct_rows(
        [("I", 10, 9, 0, "c1", 0, "u", "one", None),
         ("I", 10, 9, 0, "c2", 0, "u", "two", None)], spark), batch_id=0)
    table.merge(_direct_rows(
        [("D", 20, 19, 0, "c2", 0, "u", "two", None)], spark), batch_id=1)
    assert table.gc_tombstones(below_resolved_ts=25) == 1
    assert table.current_manifest()["gc_below"] == 25

    # the very next merge must NOT lose the safepoint
    table.merge(_direct_rows(
        [("U", 30, 29, 0, "c1", 0, "u", "one-v2", None)], spark), batch_id=2)
    assert table.current_manifest()["gc_below"] == 25

    # monotone: an explicit manifest_extra below the horizon never lowers it
    table.merge(
        _direct_rows([("U", 40, 39, 0, "c1", 0, "u", "one-v3", None)], spark),
        batch_id=3, manifest_extra={"gc_below": 5},
    )
    assert table.current_manifest()["gc_below"] == 25

    # monotone in gc_tombstones too: a late delete below the horizon, then
    # a GC at a LOWER bound that removes it, must not lower the safepoint
    table.merge(_direct_rows(
        [("D", 10, 9, 0, "c3", 0, "u", "three", None)], spark), batch_id=4)
    assert table.gc_tombstones(below_resolved_ts=15) == 1
    assert table.current_manifest()["gc_below"] == 25

    # and the controller's resume guard keeps firing after those merges
    from tiflow_spark.streaming.controller import ChangefeedController

    ctl = ChangefeedController(spark, str(tmp_path / "state"))
    ctl.create("cf", str(tmp_path / "events"), str(tmp_path / "t"),
               [SchemaVersion(1, 0, PAYLOAD_V1)], n_buckets=2)
    with pytest.raises(ValueError, match="GC"):
        ctl.resume("cf", overwrite_checkpoint_ts=10)


# ---------------------------------------------------------------- ADVICE low:
# empty microbatch drains a non-empty pending store

@pytest.mark.parametrize("mode", ["scan"])
def test_empty_batch_drains_pending(spark, tmp_path, mode):
    """ADVICE r4 (low): an empty microbatch that drains a non-empty pending
    store has empty lineage but a non-empty reduce. It must apply the
    withheld rows and clear the pending reference."""
    reg = [SchemaVersion(1, 0, PAYLOAD_V1)]
    table = CowTable(spark, str(tmp_path / f"t_{mode}"), n_buckets=2)
    # partition 0 frontier=10, partition 1 delivers ahead at 20/30 →
    # global resolved = 10, the two p1 events are withheld
    batch = spark.createDataFrame(
        [_ev("I", 10, "a", part=0),
         _ev("I", 20, "b", part=1), _ev("I", 30, "c", part=1)],
        EV_SCHEMA,
    )
    r0 = apply_epoch(table, reg, batch, 0, strict_frontier=True)
    assert r0.resolved_ts == 10
    assert {r["conv_id"] for r in table.snapshot().collect()} == {"a"}
    assert table.read_pending().count() == 2

    empty = spark.createDataFrame([], EV_SCHEMA)
    r1 = apply_epoch(table, reg, empty, 1)
    assert not r1.stats.skipped
    assert {r["conv_id"] for r in table.snapshot().collect()} == {"a", "b", "c"}
    assert table.current_manifest().get("pending") is None
    assert table.read_pending() is None


# ---------------------------------------------------------------- ADVICE low:
# craft codec refuses NULL longs instead of coercing to 0

def test_craft_encode_null_long_raises(spark):
    """ADVICE r4 (low): craft_encode silently coerced NULL long values to 0
    — a null commit_ts would round-trip as 0 and corrupt the replay's LWW
    order. It must fail loudly instead."""
    from tiflow_spark.sinks.codecs import craft_encode

    rows = spark.createDataFrame(
        [("I", None, 9, "c1", 0, "hello")],
        "op STRING, commit_ts LONG, start_ts LONG, conv_id STRING, "
        "turn_idx INT, text STRING",
    )
    with pytest.raises(Exception, match="NULL in long column"):
        craft_encode(rows).collect()


# ---------------------------------------------------------------- VERDICT #1:
# near-dup cluster closure

def test_connected_components_transitive_chain(spark):
    """A-B, B-C, C-D must close into ONE component labeled by the min id —
    transitivity is the whole point (pairwise dedup would keep B,C,D)."""
    from tiflow_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a LONG, id_b LONG",
    )
    comp = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comp == {2: 2, 3: 2, 4: 2, 5: 2, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_log_rounds(spark):
    """A 300-node path graph (revision-chain shape: each doc near its
    neighbors only) must close into one component within max_iter=12
    rounds — pins the pointer-doubling shortcut: plain min-label
    propagation needs ~300 rounds here and would raise."""
    from tiflow_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a LONG, id_b LONG"
    )
    comp = connected_components(pairs, max_iter=12)
    assert comp.select("comp").distinct().collect()[0]["comp"] == 0
    assert comp.count() == 301


def test_connected_components_empty_and_representatives(spark):
    from tiflow_spark.functions.dedup import (
        component_representatives, connected_components,
    )

    empty = spark.createDataFrame([], "id_a LONG, id_b LONG")
    assert connected_components(empty).count() == 0

    docs = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (9,)], "doc_id LONG"
    )
    pairs = spark.createDataFrame([(2, 3), (3, 4)], "id_a LONG, id_b LONG")
    reps = component_representatives(docs, connected_components(pairs))
    rows = {r["doc_id"]: (r["component"], r["is_representative"])
            for r in reps.collect()}
    # docs in no pair are their own singleton component; the cluster keeps
    # only its min id
    assert rows == {1: (1, True), 2: (2, True), 3: (2, False),
                    4: (2, False), 9: (9, True)}


# ---------------------------------------------------------------- VERDICT #4:
# "columns" partition dispatcher + topic expression routing

def test_columns_dispatcher_groups_by_named_columns(spark):
    """dispatch='columns' (reference columns.go:45-87): rows agreeing on
    the named columns land on one partition regardless of the handle key;
    a different value moves partitions; NULL values contribute nothing."""
    from tiflow_spark.sinks.mq import dispatch_partition

    df = spark.createDataFrame(
        [("c1", 0, 10, "alice"), ("c2", 5, 11, "alice"),
         ("c3", 9, 12, "bob"), ("c4", 2, 13, None)],
        "conv_id STRING, turn_idx INT, commit_ts LONG, author STRING",
    )
    got = df.select(
        "conv_id",
        dispatch_partition("columns", 8, columns=("author",)).alias("p"),
    ).collect()
    parts = {r["conv_id"]: r["p"] for r in got}
    assert parts["c1"] == parts["c2"]          # same author, any key
    assert all(0 <= p < 8 for p in parts.values())
    # null author still dispatches deterministically (name-only hash)
    assert parts["c4"] is not None

    with pytest.raises(ValueError, match="columns"):
        dispatch_partition("columns", 8)


def test_topic_expression_routing_and_validation(spark):
    """topic_expression (dispatcher/topic/expression.go): {schema}/{table}
    substitution with kafka-forbidden chars sanitized; invalid grammar is
    rejected; resolve_topic is the driver-side twin."""
    from tiflow_spark.sinks.mq import resolve_topic, topic_expression

    df = spark.createDataFrame(
        [("orders$v2",), ("users",)], "table_name STRING"
    )
    got = sorted(
        r["t"] for r in df.select(
            topic_expression("cdc_{schema}_{table}", schema_name="prod").alias("t")
        ).collect()
    )
    assert got == ["cdc_prod_orders_v2", "cdc_prod_users"]
    assert resolve_topic("cdc_{schema}_{table}", "orders$v2", "prod") == "cdc_prod_orders_v2"
    assert resolve_topic("hardcoded-topic", "x") == "hardcoded-topic"
    with pytest.raises(ValueError, match="topic expression"):
        topic_expression("{table}_{schema}")  # wrong placeholder order
    with pytest.raises(ValueError, match="topic expression"):
        topic_expression("bad topic!")


def test_multi_table_mq_roundtrip_by_topic(spark, tmp_path):
    """VERDICT r4 next #4 'Done': a multi-table feed fans out to per-table
    topics (run_mq topic_expr) and a consumer replays ONE topic into its
    table — both tables reconstruct exactly; each topic carries its own
    DDL/watermark broadcasts."""
    from pyspark.sql import types as T

    from tiflow_spark.sinks.cow_table import data_schema_from_registry
    from tiflow_spark.sinks.mq import replay_mq
    from tiflow_spark.streaming.runner import Changefeed

    reg_a = [SchemaVersion(1, 0, T.StructType([
        T.StructField("role", T.StringType()), T.StructField("text", T.StringType())]))]
    reg_b = [SchemaVersion(1, 0, T.StructType([
        T.StructField("note", T.StringType()), T.StructField("amount", T.LongType())]))]
    rows = [
        ("I", 10, 9, "c1", 0, 1, '{"role":"u","text":"hi"}', None, 0, "chats"),
        ("U", 20, 19, "c1", 0, 1, '{"role":"u","text":"hi2"}', None, 0, "chats"),
        ("I", 10, 9, "o1", 0, 1, '{"note":"n1","amount":5}', None, 0, "orders"),
        ("D", 30, 29, "o1", 0, 1, None, None, 0, "orders"),
        ("I", 15, 14, "o2", 1, 1, '{"note":"n2","amount":7}', None, 0, "orders"),
    ]
    schema = (
        "op STRING, commit_ts LONG, start_ts LONG, conv_id STRING, turn_idx INT, "
        "schema_version LONG, payload STRING, pre_payload STRING, "
        "source_partition INT, table_name STRING"
    )
    events_dir = str(tmp_path / "events")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(events_dir)

    feed = Changefeed(
        spark=spark, events_dir=events_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        tables={"chats": (None, reg_a), "orders": (None, reg_b)},
        max_files_per_trigger=100,
    )
    mq_dir = str(tmp_path / "mq")
    feed.run_mq(mq_dir, n_partitions=2, topic_expr="{schema}_{table}")

    # per-topic physical fan-out on disk
    import glob as _glob

    topics = {p.rsplit("=", 1)[1] for p in _glob.glob(f"{mq_dir}/batch=*/topic=*")}
    assert topics == {"default_chats", "default_orders"}

    t_chats = CowTable(spark, str(tmp_path / "tc"), n_buckets=4,
                       data_schema=data_schema_from_registry(reg_a))
    t_orders = CowTable(spark, str(tmp_path / "to"), n_buckets=4,
                        data_schema=data_schema_from_registry(reg_b))
    res_c = replay_mq(spark, mq_dir, t_chats,
                      "conv_id STRING, turn_idx INT, role STRING, text STRING",
                      topic="default_chats")
    res_o = replay_mq(spark, mq_dir, t_orders,
                      "conv_id STRING, turn_idx INT, note STRING, amount LONG",
                      topic="default_orders")
    # each topic carries the feed's global watermark broadcast
    assert res_c["watermark"] == res_o["watermark"] == 30
    got_c = {r["conv_id"]: r["text"] for r in t_chats.snapshot().collect()}
    assert got_c == {"c1": "hi2"}
    got_o = {r["conv_id"]: (r["note"], r["amount"]) for r in t_orders.snapshot().collect()}
    assert got_o == {"o2": ("n2", 7)}  # o1 deleted by the later D
    # cross-topic isolation: no chats row leaked into orders
    assert "c1" not in got_o


# ---------------------------------------------------------------- VERDICT #5:
# cascade + MQ feeds under the lifecycle controller

def test_controller_cascade_lifecycle(spark, tmp_path):
    """VERDICT r4 next #5 'Done': a cascade feed under the controller —
    create → run (initial load) → pause → upstream advances → run is
    rejected while paused → resume → converge; remove cleans the spec but
    not the downstream table; overwrite_checkpoint_ts is rejected for
    non-table kinds."""
    from tiflow_spark.streaming.controller import ChangefeedController

    up = CowTable(spark, str(tmp_path / "up"), n_buckets=4)
    up.merge(_direct_rows(
        [("I", 10, 9, 0, "c1", 0, "u", "one", None),
         ("I", 10, 9, 0, "c2", 0, "u", "two", None)], spark), batch_id=0)

    ctl = ChangefeedController(spark, str(tmp_path / "state"))
    ctl.create(
        "casc", events_dir=None, table_root=str(tmp_path / "down"),
        kind="cascade", upstream_root=str(tmp_path / "up"),
        table_options={"data_schema": dict(up.data_schema)},
    )
    ctl.run("casc")
    down = CowTable(spark, str(tmp_path / "down"), n_buckets=32)
    assert down.snapshot().count() == 2

    ctl.pause("casc")
    with pytest.raises(ValueError, match="stopped"):
        ctl.run("casc")
    # upstream advances while paused
    up.merge(_direct_rows(
        [("U", 20, 19, 0, "c1", 0, "u", "one-v2", None),
         ("D", 25, 24, 0, "c2", 0, "u", "two", None)], spark), batch_id=1)

    with pytest.raises(ValueError, match="table-feed only"):
        ctl.resume("casc", overwrite_checkpoint_ts=5)
    ctl.resume("casc")
    ctl.run("casc")
    got = {r["conv_id"]: r["text"] for r in down.snapshot().collect()}
    assert got == {"c1": "one-v2"}  # update applied, delete applied

    listed = {s["id"]: s for s in ctl.list()}
    assert listed["casc"]["kind"] == "cascade"
    ctl.remove("casc")
    assert down.snapshot().count() == 1  # sink untouched by remove


def test_controller_mq_feed_lifecycle(spark, tmp_path):
    """An MQ-kind feed under the controller: run drains new epochs to the
    topic dirs (offsets ride the SS checkpoint between runs), pause blocks
    run, resume unblocks; continuous mode is rejected loudly."""
    from tiflow_spark.sinks.mq import replay_mq
    from tiflow_spark.sources.registry import default_registry

    from tiflow_spark.streaming.controller import ChangefeedController

    events_dir = tmp_path / "events"
    spark.createDataFrame(
        [_ev("I", 10, "m1", text="v1")], EV_SCHEMA
    ).coalesce(1).write.parquet(str(events_dir / "e1"))

    ctl = ChangefeedController(spark, str(tmp_path / "state"))
    ctl.create(
        "mq1", events_dir=str(events_dir / "e*"), table_root=None,
        registry=[SchemaVersion(1, 0, PAYLOAD_V1)],
        kind="mq",
        mq_options={"mq_dir": str(tmp_path / "mq"), "n_partitions": 2},
    )
    with pytest.raises(ValueError, match="mq_dir"):
        ctl.create("mq2", events_dir=str(events_dir), table_root=None,
                   registry=[], kind="mq")
    with pytest.raises(ValueError, match="continuous"):
        ctl.run("mq1", continuous=True)
    ctl.run("mq1")

    # second epoch arrives while paused; a post-resume run picks up ONLY it
    ctl.pause("mq1")
    spark.createDataFrame(
        [_ev("U", 20, "m1", text="v2")], EV_SCHEMA
    ).coalesce(1).write.parquet(str(events_dir / "e2"))
    with pytest.raises(ValueError, match="stopped"):
        ctl.run("mq1")
    ctl.resume("mq1")
    ctl.run("mq1")

    import glob as _glob

    batches = sorted(_glob.glob(str(tmp_path / "mq" / "batch=*")))
    assert len(batches) == 2  # one epoch per run; offsets survived pause

    table = CowTable(spark, str(tmp_path / "replayed"), n_buckets=4)
    replay_mq(
        spark, str(tmp_path / "mq"), table,
        "conv_id STRING, turn_idx INT, role STRING, text STRING, "
        "tool STRING, ts TIMESTAMP",
        gate_on_watermark=False,
    )
    got = {r["conv_id"]: r["text"] for r in table.snapshot().collect()}
    assert got == {"m1": "v2"}


# ---------------------------------------------------------------- VERDICT #7:
# dead-letter queue (DM handle-error analog)

def test_dead_letter_quarantine_and_replace(spark, tmp_path):
    """VERDICT r4 next #7 (dm/syncer/handle_error.go): with
    dead_letter=True a poisoned event (undecodable payload, unregistered
    schema_version, NULL key) cannot wedge the feed — it is quarantined
    into a manifest-referenced DLQ (restart-visible, carried across later
    epochs), the feed completes, and ``replace`` re-applies a corrected
    row through the normal merge path."""
    from tiflow_spark.streaming.runner import Changefeed

    events_dir = tmp_path / "events"
    e1 = [
        _ev("I", 10, "g1", text="good"),
        ("U", 20, 19, "p1", 0, 1, '{"role":"u","text":BROKEN', None, 0),
        ("I", 30, 29, "p2", 0, 9, '{"role":"u","text":"x"}', None, 0),
        ("I", 40, 39, None, 0, 1, '{"role":"u","text":"y"}', None, 0),
    ]
    e2 = [_ev("U", 50, "g1", text="good2")]
    spark.createDataFrame(e1, EV_SCHEMA).coalesce(1).write.parquet(str(events_dir / "e1"))
    spark.createDataFrame(e2, EV_SCHEMA).coalesce(1).write.parquet(str(events_dir / "e2"))

    reg = [SchemaVersion(1, 0, PAYLOAD_V1)]
    table = CowTable(spark, str(tmp_path / "t"), n_buckets=4)
    feed = Changefeed(
        spark=spark, events_dir=str(events_dir / "e*"),
        checkpoint_dir=str(tmp_path / "ckpt"), table=table,
        registry=reg, max_files_per_trigger=1, dead_letter=True,
    )
    feed.run_available_now()  # would fail/corrupt without the DLQ

    got = {r["conv_id"]: r["text"] for r in table.snapshot().collect()}
    assert got == {"g1": "good2"}  # only clean rows applied
    # quarantine is manifest-referenced and survived the later (clean) epoch
    assert table.current_manifest()["dlq"]
    dlq = feed.dlq_list()
    reasons = {r["reason"] for r in dlq.collect()}
    assert reasons == {
        "undecodable_payload", "unregistered_schema_version", "null_key"
    }
    assert dlq.count() == 3

    corrected = spark.createDataFrame(
        [_ev("U", 20, "p1", text="fixed")], EV_SCHEMA
    )
    res = feed.dlq_resolve("replace", corrected)
    assert res == {"resolved": 3, "applied": 1}
    got = {r["conv_id"]: r["text"] for r in table.snapshot().collect()}
    assert got == {"g1": "good2", "p1": "fixed"}
    assert feed.dlq_list() is None
    assert table.current_manifest()["dlq"] == []


def test_dead_letter_skip_and_vacuum(spark, tmp_path):
    """DLQ 'skip' resolution drops the quarantined events permanently and
    reclaims their files; an unresolved DLQ dir survives vacuum (still
    manifest-referenced)."""
    import os

    from tiflow_spark.streaming.runner import Changefeed

    events_dir = tmp_path / "events"
    spark.createDataFrame(
        [_ev("I", 10, "g1"), ("I", 20, 19, None, 0, 1, '{"role":"u"}', None, 0)],
        EV_SCHEMA,
    ).coalesce(1).write.parquet(str(events_dir / "e1"))
    table = CowTable(spark, str(tmp_path / "t"), n_buckets=4)
    feed = Changefeed(
        spark=spark, events_dir=str(events_dir / "e*"),
        checkpoint_dir=str(tmp_path / "ckpt"), table=table,
        registry=[SchemaVersion(1, 0, PAYLOAD_V1)], dead_letter=True,
    )
    feed.run_available_now()
    assert feed.dlq_list().count() == 1
    table.vacuum(keep_manifests=1)
    assert feed.dlq_list().count() == 1  # referenced -> survives vacuum

    res = feed.dlq_resolve("skip")
    assert res == {"resolved": 1, "applied": 0}
    assert feed.dlq_list() is None
    assert not os.listdir(f"{table.root}/_dlq") if os.path.isdir(f"{table.root}/_dlq") else True

    with pytest.raises(ValueError, match="skip\\|replace"):
        feed.dlq_resolve("inject")


# ---------------------------------------------------------------- VERDICT
# breadth: MQ column selector (reference columnselector/column_selector.go)

def test_column_selector_rule_semantics():
    """Rule resolution follows the reference: the FIRST rule whose matcher
    hits the table applies; within a rule the LAST matching column pattern
    decides (tidb table-filter ColumnFilter); a column matching no pattern
    is dropped; unmatched tables pass through (None)."""
    from tiflow_spark.sinks.mq import ColumnSelector

    sel = ColumnSelector([
        (("chats*",), ("*", "!tool")),
        (("chats_archive",), ("role",)),       # shadowed by the first rule
        (("orders",), ("conv_id", "turn_idx", "note")),
    ])
    keys = ("conv_id", "turn_idx")
    assert sel.retained("chats", ["role", "text", "tool"], keys) == ["role", "text"]
    # first-match-wins: chats_archive hits rule 1 ('chats*'), not rule 2
    assert sel.retained("chats_archive", ["role", "text", "tool"], keys) == ["role", "text"]
    # explicit keep-list: unlisted columns drop
    assert sel.retained("orders", ["note", "amount"], keys) == ["note"]
    # unmatched table: transformer does not apply
    assert sel.retained("audit", ["x"], keys) is None
    # last-match-wins: a later positive pattern re-keeps a dropped column
    sel2 = ColumnSelector([(("t",), ("*", "!se*", "secret_keep"))])
    assert sel2.retained("t", ["a", "secret", "secret_keep"], keys) == ["a", "secret_keep"]
    # verifyIndices analog: dropping a handle key fails loudly at plan time
    with pytest.raises(ValueError, match="primary key"):
        ColumnSelector([(("t",), ("role",))]).retained("t", ["role"], keys)
    with pytest.raises(ValueError, match="at least one rule"):
        ColumnSelector([])


def test_column_selector_envelope_projection(spark):
    """encode_for_mq(column_selector=...) projects each table's message
    data block through its first matching rule — selected-out columns never
    appear in the canal-JSON envelope; unmatched tables keep every column.
    Key columns always survive (they ride both key and data blocks)."""
    import json as _json

    from tiflow_spark.sinks.mq import ColumnSelector, encode_for_mq

    rows = [
        ("I", 10, 9, "c1", 0, "u", "hi", "grep", "chats"),
        ("I", 10, 9, "o1", 0, "sys", "n1", "curl", "orders"),
        ("I", 10, 9, "a1", 0, "aud", "x", "tail", "audit"),
    ]
    frame = spark.createDataFrame(
        rows,
        "op STRING, commit_ts LONG, start_ts LONG, conv_id STRING, "
        "turn_idx INT, role STRING, text STRING, tool STRING, table_name STRING",
    )
    sel = ColumnSelector([
        (("chats",), ("*", "!tool")),
        (("orders",), ("conv_id", "turn_idx", "role")),
    ])
    enc = encode_for_mq(frame, n_partitions=2, column_selector=sel)
    by_table = {}
    for r in frame.select("table_name", "conv_id").collect():
        by_table[r["conv_id"]] = r["table_name"]
    datas = {
        by_table[_json.loads(r["key"])["conv_id"]]:
            set(_json.loads(r["value"])["data"].keys())
        for r in enc.collect()
    }
    assert datas["chats"] == {"conv_id", "turn_idx", "role", "text"}
    assert datas["orders"] == {"conv_id", "turn_idx", "role"}
    assert datas["audit"] == {"conv_id", "turn_idx", "role", "text", "tool"}


def test_column_selector_single_table_and_empty(spark):
    """Selector on a frame without table_name applies the schema-name match
    (single-table feed); an empty frame encodes without error."""
    import json as _json

    from tiflow_spark.sinks.mq import ColumnSelector, encode_for_mq

    frame = spark.createDataFrame(
        [("I", 10, 9, "c1", 0, "u", "hi", "grep")],
        "op STRING, commit_ts LONG, start_ts LONG, conv_id STRING, "
        "turn_idx INT, role STRING, text STRING, tool STRING",
    )
    sel = ColumnSelector([(("default",), ("*", "!tool"))])
    enc = encode_for_mq(frame, n_partitions=2, column_selector=sel)
    data = _json.loads(enc.collect()[0]["value"])["data"]
    assert set(data.keys()) == {"conv_id", "turn_idx", "role", "text"}
    empty = encode_for_mq(frame.limit(0), n_partitions=2, column_selector=sel)
    assert empty.count() == 0


# ---------------------------------------------------------------- VERDICT
# breadth: storage-consumer as a first-class API (cmd/storage-consumer)

@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_replay_storage_reconstructs_state(spark, tmp_path, fmt):
    """replay_storage decodes each version dir against its OWN schema file
    (text files carry no types — the schema file is the contract), NULL-
    backfills pre-DDL files, and merges fenced: re-running is a no-op."""
    import datetime as _dt

    from tiflow_spark.sinks.storage import replay_storage, write_change_files
    from tiflow_spark.sources.registry import default_registry

    registry = default_registry(ddl_ts=15)
    ts = _dt.datetime(2026, 1, 1)
    v1_rows = [
        ("I", 10, 9, 0, "c1", 0, 1, "u", "one", ts),
        ("I", 12, 11, 0, "c2", 0, 1, "u", "two", ts),
    ]
    v2_rows = [
        ("U", 20, 19, 0, "c1", 0, 2, "u", "one-v2", "grep", ts),
        ("D", 30, 29, 0, "c2", 0, 2, None, None, None, None),
        ("I", 25, 24, 0, "c3", 0, 2, "a", "three", None, ts),
    ]
    v1 = spark.createDataFrame(
        v1_rows,
        "op STRING, commit_ts LONG, start_ts LONG, source_partition INT, "
        "conv_id STRING, turn_idx INT, schema_version INT, role STRING, "
        "text STRING, ts TIMESTAMP",
    )
    v2 = spark.createDataFrame(
        v2_rows,
        "op STRING, commit_ts LONG, start_ts LONG, source_partition INT, "
        "conv_id STRING, turn_idx INT, schema_version INT, role STRING, "
        "text STRING, tool STRING, ts TIMESTAMP",
    )
    root = str(tmp_path / "storage")
    write_change_files(v1, root, registry[0], batch_id=1, fmt=fmt)
    write_change_files(v2, root, registry[1], batch_id=2, fmt=fmt)

    table = CowTable(spark, str(tmp_path / "t"), n_buckets=4)
    res = replay_storage(spark, root, table, fmt=fmt)
    assert res["files_versions"] == 2
    got = {r["conv_id"]: (r["role"], r["text"], r["tool"])
           for r in table.snapshot().collect()}
    assert got == {"c1": ("u", "one-v2", "grep"), "c3": ("a", "three", None)}

    # fenced: a second consumer run re-reads the same files as a no-op
    before = table.last_committed_batch()
    replay_storage(spark, root, table, fmt=fmt)
    got2 = {r["conv_id"]: (r["role"], r["text"], r["tool"])
            for r in table.snapshot().collect()}
    assert got2 == got and table.last_committed_batch() >= before


def test_replay_storage_requires_schema_files(spark, tmp_path):
    from tiflow_spark.sinks.storage import replay_storage

    with pytest.raises(FileNotFoundError, match="schema_"):
        replay_storage(spark, str(tmp_path), CowTable(spark, str(tmp_path / "t")))


# ---------------------------------------------------------------- round-5
# self-review fixes, each pinned

def test_dlq_does_not_advance_shard_barrier(spark, tmp_path):
    """A quarantined row must not advance the pessimistic shard-DDL
    barrier: a corrupt event carrying unregistered schema_version 99 on
    shard B would otherwise poison B's monotone frontier (max includes 99),
    lifting the gate and admitting shard A's post-DDL rows without
    lockstep — permanently, since shard frontiers only ever advance."""
    import json as _json

    from tiflow_spark.operators.filters import RouteRule
    from tiflow_spark.sources.registry import PAYLOAD_V1, PAYLOAD_V2, SchemaVersion
    from tiflow_spark.streaming.runner import Changefeed

    schema = EV_SCHEMA + ", table_name STRING"
    v2_json = PAYLOAD_V2.json()
    events_dir = tmp_path / "events"
    epochs = {
        "e1": [("I", 10, 9, "a", 0, 1, '{"role":"u","text":"a0"}', None, 0, "chats_0"),
               ("I", 10, 9, "b", 0, 1, '{"role":"u","text":"b0"}', None, 1, "chats_1")],
        # shard 0 executes the DDL and ships a post-DDL row
        "e2": [("DDL", 1999, 1998, None, None, 2, v2_json, None, 0, "chats_0"),
               ("U", 2000, 1999, "a", 0, 2,
                '{"role":"u","text":"a-new","tool":"T1","ts":null}', None, 0, "chats_0")],
        # shard 1: one corrupt row with a bogus version far above the DDL's
        "e3": [("I", 1500, 1499, "x", 0, 99, '{"role":"u","text":"zz"}', None, 1, "chats_1")],
    }
    for name, rows in epochs.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(events_dir / name))

    table = CowTable(spark, str(tmp_path / "chats"), n_buckets=4,
                     data_schema={"role": "string", "text": "string"})
    feed = Changefeed(
        spark=spark, events_dir=str(events_dir / "e*"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        tables={"chats": (table, [SchemaVersion(1, 0, PAYLOAD_V1)])},
        route_rules=(RouteRule(table_regex="^chats_.*", target="chats"),),
        ddl_in_stream=True, max_files_per_trigger=1, dead_letter=True,
    )
    feed.run_available_now()

    m = table.current_manifest()
    # the corrupt row is quarantined, not merged — and chats_1's frontier
    # stayed at v1 (NOT 99)
    assert m["shard_vers"] == {"chats_0": 2, "chats_1": 1}, m["shard_vers"]
    state = {r["conv_id"]: r["text"] for r in table.snapshot().collect()}
    # gate = min(2, 1) = 1: shard A's post-DDL update is still withheld
    assert state == {"a": "a0", "b": "b0"}, state
    assert table.read_pending().count() == 1
    assert [r["reason"] for r in feed.dlq_list("chats").collect()] == [
        "unregistered_schema_version"
    ]


def test_connected_components_60bit_ids_no_overflow(spark):
    """Convergence detection sums labels; node ids here follow the repo's
    md5-60-bit convention, so an int64 sum overflows after a handful of
    nodes (ANSI mode: ArithmeticException; legacy: silent wraparound that
    can false-converge). The decimal(38,0) sum is exact."""
    from tiflow_spark.functions.dedup import connected_components

    base = 1 << 60
    # one chain of 12 huge ids + one isolated pair
    chain = [(base + i, base + i + 1) for i in range(12)]
    pairs = spark.createDataFrame(
        chain + [(base + 100, base + 101)], "id_a LONG, id_b LONG"
    )
    comp = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert all(comp[base + i] == base for i in range(13))
    assert comp[base + 100] == comp[base + 101] == base + 100


def test_replay_storage_offset_fence(spark, tmp_path):
    """The storage consumer tracks the highest CDC batch consumed in the
    table manifest: a re-run with no new files reads NOTHING (applied=0,
    files_versions=0) — in particular it does NOT re-insert tombstones
    reclaimed by gc_tombstones — and only batch dirs above the watermark
    are read when new files appear."""
    from tiflow_spark.sinks.storage import replay_storage, write_change_files
    from tiflow_spark.sources.registry import default_registry

    registry = default_registry(ddl_ts=15)
    v2 = registry[1]
    rows1 = _direct_rows(
        [("I", 20, 19, 0, "c1", 0, "u", "one", None),
         ("I", 21, 20, 0, "c2", 0, "u", "two", None),
         ("D", 30, 29, 0, "c2", 0, None, None, None)], spark
    ).withColumn("schema_version", F.lit(2))
    root = str(tmp_path / "storage")
    write_change_files(rows1, root, v2, batch_id=1)

    table = CowTable(spark, str(tmp_path / "t"), n_buckets=4)
    res1 = replay_storage(spark, root, table)
    assert res1["files_versions"] == 1 and res1["applied"] > 0
    assert int(table.current_manifest()["storage_batch"]) == 1

    # tombstone-GC, then the advertised idempotent re-run: nothing re-read,
    # the reclaimed tombstone stays gone
    assert table.gc_tombstones(below_resolved_ts=100) == 1
    res2 = replay_storage(spark, root, table)
    assert res2 == {"applied": 0, "files_versions": 0}
    snap = table.snapshot(include_tombstones=True)
    assert snap.filter(F.col("__deleted")).count() == 0

    # new files above the watermark apply; watermark advances
    rows2 = _direct_rows(
        [("U", 40, 39, 0, "c1", 0, "u", "one-v2", "grep")], spark
    ).withColumn("schema_version", F.lit(2))
    write_change_files(rows2, root, v2, batch_id=2)
    res3 = replay_storage(spark, root, table)
    assert res3["files_versions"] == 1
    got = {r["conv_id"]: r["text"] for r in table.snapshot().collect()}
    assert got == {"c1": "one-v2"}
    assert int(table.current_manifest()["storage_batch"]) == 2


def test_controller_surfaces_dead_cascade_error(spark, tmp_path):
    """A continuous cascade feed whose poll loop dies must not masquerade
    as healthy: list() reports state=error with the message, and pause()
    re-raises the stored failure instead of recording a clean stop."""
    import shutil as _shutil
    import time as _time

    from tiflow_spark.streaming.controller import ChangefeedController

    up = CowTable(spark, str(tmp_path / "up"), n_buckets=4)
    up.merge(_direct_rows(
        [("I", 10, 9, 0, "c1", 0, "u", "one", None)], spark), batch_id=0)
    ctl = ChangefeedController(spark, str(tmp_path / "state"))
    ctl.create(
        "casc", events_dir=None, table_root=str(tmp_path / "down"),
        kind="cascade", upstream_root=str(tmp_path / "up"),
        table_options={"data_schema": dict(up.data_schema)},
        feed_options={"poll_interval_sec": 0.1},
    )
    q = ctl.run("casc", continuous=True)
    # break the upstream: the next poll's sync raises and the thread dies
    _shutil.rmtree(str(tmp_path / "up" / "_manifest"))
    deadline = _time.time() + 15
    while q.isActive and _time.time() < deadline:
        _time.sleep(0.1)
    assert not q.isActive and q.exception is not None

    listed = {s["id"]: s for s in ctl.list()}
    assert listed["casc"]["state"] == "error"
    assert listed["casc"]["error"]

    with pytest.raises(RuntimeError, match="FAILED"):
        ctl.pause("casc")
    # the failure is persisted on the spec too
    listed = {s["id"]: s for s in ctl.list()}
    assert listed["casc"]["state"] == "error"
    ctl.remove("casc")  # removing a failed feed still works


def test_validation_failure_preserves_evidence(spark, tmp_path):
    """A FAILED validation keeps its expected-rows captures: they move to
    _validation_evidence/ (manifest-recorded path) instead of being
    deleted, so the operator can diff expected vs actual row-by-row — the
    incremental validator exists because the source log can't be rescanned
    (reference keeps failed rows for retry, dm/syncer/data_validator.go)."""
    import os as _os

    from tiflow_spark.sources.registry import PAYLOAD_V1, SchemaVersion
    from tiflow_spark.streaming.runner import Changefeed

    events_dir = tmp_path / "events"
    epochs = {
        "e1": [_ev("I", 10, "k1", text="truth-1")],
        "e2": [_ev("I", 20, "k2", text="truth-2")],
    }
    for name, rows in epochs.items():
        spark.createDataFrame(rows, EV_SCHEMA).coalesce(1).write.parquet(
            str(events_dir / name))
    table = CowTable(spark, str(tmp_path / "t"), n_buckets=2)
    feed = Changefeed(
        spark=spark, events_dir=str(events_dir / "e*"),
        checkpoint_dir=str(tmp_path / "ckpt"), table=table,
        registry=[SchemaVersion(1, 0, PAYLOAD_V1)],
        max_files_per_trigger=1, validate_every=0,
    )
    feed.validate_every = 2
    feed.run_available_now()
    # captures exist but validation hasn't fired... or it has (2 epochs):
    # force the failing path by corrupting the table, then validating again
    # over freshly captured epochs
    e3 = [_ev("U", 30, "k1", text="truth-3")]
    spark.createDataFrame(e3, EV_SCHEMA).coalesce(1).write.parquet(
        str(events_dir / "e3"))
    f2 = Changefeed(
        spark=spark, events_dir=str(events_dir / "e*"),
        checkpoint_dir=str(tmp_path / "ckpt"), table=table,
        registry=[SchemaVersion(1, 0, PAYLOAD_V1)],
        max_files_per_trigger=1, validate_every=99,
    )
    f2.run_available_now()
    # corrupt k1's bucket base file AFTER the capture, BEFORE validate_now
    m = table.current_manifest()
    assert m.get("validator_nets"), "epoch capture expected"
    bdf = spark.createDataFrame([("k1", 0)], "conv_id STRING, turn_idx INT")
    b = bdf.select(
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(2)).cast("int").alias("b")
    ).first()["b"]
    rel = m["buckets"][str(b)]
    path = str(tmp_path / "t" / rel)
    df = spark.read.parquet(path)
    pdf = df.toPandas()
    pdf.loc[pdf.conv_id == "k1", "text"] = "CORRUPT"
    spark.createDataFrame(pdf, df.schema).coalesce(1).write.mode(
        "overwrite").parquet(path)

    rec = f2.validate_now()
    assert not rec["ok"]
    assert rec["evidence"], rec
    evid = str(tmp_path / "t" / rec["evidence"])
    assert _os.path.isdir(evid)
    expected = spark.read.parquet(f"{evid}/net_*")
    rows = {r["conv_id"]: r["text"] for r in expected.collect()}
    assert rows.get("k1") == "truth-3"  # the expected row survives for diffing
    # the finding + evidence path are manifest-committed (restart-visible)
    assert table.current_manifest()["validation"]["evidence"] == rec["evidence"]


def test_columns_dispatch_null_skips_name_and_value(spark):
    """dispatch='columns' parity with columns.go: a NULL value removes the
    ENTIRE (name, value) pair from the hash — a row with author=NULL under
    columns=('region','author') lands exactly where ('region',) alone
    puts it."""
    from tiflow_spark.sinks.mq import dispatch_partition

    frame = spark.createDataFrame(
        [("r1", None, "k", 0)],
        "region STRING, author STRING, conv_id STRING, turn_idx INT",
    )
    both = frame.select(
        dispatch_partition("columns", 1024, columns=("region", "author")).alias("p")
    ).first()["p"]
    only_region = frame.select(
        dispatch_partition("columns", 1024, columns=("region",)).alias("p")
    ).first()["p"]
    assert both == only_region


# -------------------------------------------------------- corpus assembly ops

def test_assemble_transcripts_orders_and_marks_tools(spark):
    """Lines join in turn_idx order regardless of input order; the tool
    suffix renders only where the (nullable, schema-v2) tool is set; the
    extra_aggs hook lands in the same aggregation."""
    from tiflow_spark.functions import corpus as cp

    turns = _direct_rows(
        [
            ("I", 2, 1, 0, "c1", 1, "assistant", "hi there", "T3"),
            ("I", 1, 0, 0, "c1", 0, "user", "hello", None),
            ("I", 3, 2, 0, "c1", 2, "user", "bye", None),
            ("I", 1, 0, 0, "c2", 0, "user", "solo", None),
        ],
        spark,
    ).select("conv_id", "turn_idx", "role", "text", "tool")
    out = {
        r["conv_id"]: r
        for r in cp.assemble_transcripts(
            turns, extra_aggs={"n_tool_turns": F.count("tool").cast("long")}
        ).collect()
    }
    assert out["c1"]["transcript"] == (
        "user: hello\nassistant: hi there [tool:T3]\nuser: bye"
    )
    assert out["c1"]["n_turns"] == 3 and out["c1"]["n_tool_turns"] == 1
    assert out["c2"]["transcript"] == "user: solo"
    assert out["c2"]["n_tool_turns"] == 0


def test_mixture_sample_deterministic_and_stratified(spark):
    """The sample is a pure function of (seed, id): re-running yields the
    identical set; per-stratum keep fractions track the configured rates;
    unlisted strata fall back to default_rate; every kept row's sample_key
    is below its stratum's ppm threshold."""
    from tiflow_spark.functions import corpus as cp

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("zz")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("lang"),
    )
    rates = {"en": 0.5, "de": 0.9}
    kept1 = cp.mixture_sample(df, F.col("lang"), rates, default_rate=0.1)
    kept2 = cp.mixture_sample(df, F.col("lang"), rates, default_rate=0.1)
    rows = kept1.collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in kept2.collect()
    )
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["stratum"], []).append(r["sample_key"])
    ppm = {"en": 500_000, "de": 900_000, "zz": 100_000}
    for lang, keys in by_lang.items():
        assert max(keys) < ppm[lang]
        # ~1334 docs/stratum; h60 is uniform, so observed/expected is tight
        frac = len(keys) / (4000 / 3)
        assert abs(frac - ppm[lang] / 1e6) < 0.05, (lang, frac)
    # a different seed draws a different subset
    kept3 = cp.mixture_sample(df, F.col("lang"), rates, default_rate=0.1, seed=7)
    assert sorted(r["doc_id"] for r in kept3.collect()) != sorted(
        r["doc_id"] for r in rows
    )


def test_mixture_sample_rejects_bad_rate(spark):
    from tiflow_spark.functions import corpus as cp

    df = spark.range(3).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="out of"):
        cp.mixture_sample(df, F.lit("en"), {"en": 1.5})


def test_pack_sequences_greedy_budget_fill(spark):
    """Within a stripe, docs fill shard k until the running total crosses
    (k+1)*budget; the straddler stays in shard k and the next doc starts
    shard k+1. Cross-checked against a sequential reference fill."""
    from tiflow_spark.functions import corpus as cp

    docs = [(i, 300 + (i * 37) % 500) for i in range(200)]  # id, tokens
    df = spark.createDataFrame(docs, "doc_id LONG, toks LONG")
    out = cp.pack_sequences(
        df, F.col("toks"), budget=2048, n_stripes=4
    ).collect()
    got = {r["doc_id"]: r for r in out}
    by_stripe = {}
    for i, t in docs:
        by_stripe.setdefault(i % 4, []).append((i, t))
    for stripe, items in by_stripe.items():
        running = 0
        for i, t in sorted(items):
            assert got[i]["stripe"] == stripe
            assert got[i]["n_tokens"] == t
            assert got[i]["shard_idx"] == running // 2048, (i, running)
            running += t


def test_pack_sequences_rejects_bad_params(spark):
    from tiflow_spark.functions import corpus as cp

    df = spark.range(3).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="positive"):
        cp.pack_sequences(df, F.lit(1), budget=0)


# ------------------------------------------------- round-5 self-review pins

def test_craft_roundtrip_nullable_data_long(spark):
    """Review fix: the mounter NULL-backfills integer DATA columns added by
    a later schema version, so craft must round-trip NULLs there (wire
    type 2, per-row presence flag) while still failing loudly on a NULL
    envelope/key long."""
    from pyspark.sql import types as T

    from tiflow_spark.sinks.codecs import craft_decode, craft_encode

    rows = [
        ("I", 100 + i, 99 + i, f"c{i % 3}", i,
         None if i % 4 == 0 else 1000 + i, f"t{i % 2}")
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "op STRING, commit_ts LONG, start_ts LONG, conv_id STRING, "
        "turn_idx INT, score LONG, text STRING",
    ).coalesce(1)
    enc = craft_encode(df)
    out_schema = T.StructType([
        T.StructField("op", T.StringType()),
        T.StructField("commit_ts", T.LongType()),
        T.StructField("start_ts", T.LongType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("score", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    got = sorted(tuple(r) for r in craft_decode(enc, out_schema).collect())
    assert got == sorted(rows)


def test_mixture_sample_validates_default_stratum_and_rate(spark):
    """Review fix: a stratum literally named 'default' must not escape the
    rate range check (the old dict merge shadowed it with default_rate),
    and default_rate itself is range-checked."""
    from tiflow_spark.functions import corpus as cp

    df = spark.range(3).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="default"):
        cp.mixture_sample(df, F.lit("default"), {"default": 1.5})
    with pytest.raises(ValueError, match="default_rate"):
        cp.mixture_sample(df, F.lit("x"), {"x": 0.5}, default_rate=-0.1)


def test_encode_for_mq_null_table_with_selector_fails_loudly(spark):
    """Review fix: a NULL table_name in a column-selector feed used to die
    deep in fnmatch with a bare TypeError (and the when-chain would emit a
    NULL message value); it must fail with a routing-level error."""
    from tiflow_spark.sinks.mq import ColumnSelector, encode_for_mq

    frame = spark.createDataFrame(
        [("I", 10, 9, "c1", 0, None, "hello")],
        "op STRING, commit_ts LONG, start_ts LONG, conv_id STRING, "
        "turn_idx INT, table_name STRING, text STRING",
    )
    sel = ColumnSelector([{"matcher": ["*"], "columns": ["text"]}])
    with pytest.raises(ValueError, match="NULL 'table_name'"):
        encode_for_mq(frame, column_selector=sel)


def test_validation_evidence_commit_crash_leaves_feed_retryable(spark, tmp_path):
    """Review fix (write-before-reference): the evidence captures are
    COPIED before the manifest commit, so a crash mid-validate leaves the
    live manifest's validator_nets paths intact and validate_now simply
    retries — the old rename-then-commit order wedged the feed forever."""
    import os as _os

    from tiflow_spark.sources.registry import PAYLOAD_V1, SchemaVersion
    from tiflow_spark.streaming.runner import Changefeed

    events_dir = tmp_path / "events"
    for name, rows in {
        "e1": [_ev("I", 10, "k1", text="truth-1")],
        "e2": [_ev("I", 20, "k2", text="truth-2")],
    }.items():
        spark.createDataFrame(rows, EV_SCHEMA).coalesce(1).write.parquet(
            str(events_dir / name))
    table = CowTable(spark, str(tmp_path / "t"), n_buckets=2)
    feed = Changefeed(
        spark=spark, events_dir=str(events_dir / "e*"),
        checkpoint_dir=str(tmp_path / "ckpt"), table=table,
        registry=[SchemaVersion(1, 0, PAYLOAD_V1)],
        max_files_per_trigger=1, validate_every=99,
    )
    feed.run_available_now()
    m = table.current_manifest()
    nets = m.get("validator_nets")
    assert nets, "epoch captures expected"
    # corrupt the table so the validation FAILS (evidence path taken)
    bdf = spark.createDataFrame([("k1", 0)], "conv_id STRING, turn_idx INT")
    b = bdf.select(
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(2)).cast("int").alias("b")
    ).first()["b"]
    path = str(tmp_path / "t" / m["buckets"][str(b)])
    df = spark.read.parquet(path)
    pdf = df.toPandas()
    pdf.loc[pdf.conv_id == "k1", "text"] = "CORRUPT"
    spark.createDataFrame(pdf, df.schema).coalesce(1).write.mode(
        "overwrite").parquet(path)

    # crash exactly between evidence materialization and the commit
    real_commit = table._commit_manifest

    def crash(_m):
        raise RuntimeError("simulated crash before manifest commit")

    table._commit_manifest = crash
    with pytest.raises(RuntimeError, match="simulated crash"):
        feed.validate_now()
    # the live manifest still references captures that EXIST on disk
    for rel in table.current_manifest()["validator_nets"]:
        assert _os.path.isdir(str(tmp_path / "t" / rel)), rel
    # ... so a retry after restart completes and records the finding
    table._commit_manifest = real_commit
    rec = feed.validate_now()
    assert not rec["ok"] and rec["evidence"]


def test_fix_sql_statements_exact_shapes(spark):
    """The fix-SQL artifact must match the reference's statement shapes
    (GenerateReplaceDML / GenerateDeleteDML, sync_diff_inspector/utils/
    utils.go:193-218,297-321): REPLACE with every column and NULL
    literals, DELETE keyed by the downstream row's own values with
    `is NULL` predicates and LIMIT 1, quotes doubled."""
    from tiflow_spark.operators.validate import fix_sql_statements

    expected = spark.createDataFrame(
        [("c1", 0, "user", "it's fine"), ("c2", 1, None, "keep")],
        "conv_id STRING, turn_idx INT, role STRING, text STRING",
    )
    actual = spark.createDataFrame(
        [("c2", 1, None, "keep"), ("ghost", 9, "x", None)],
        "conv_id STRING, turn_idx INT, role STRING, text STRING",
    )
    out = {
        r["conv_id"]: r
        for r in fix_sql_statements(
            expected, actual, ["conv_id", "turn_idx"], ["role", "text"],
            schema="test", table="transcripts",
        ).collect()
    }
    assert set(out) == {"c1", "ghost"}  # the identical c2 row emits nothing
    assert out["c1"]["op"] == "I"
    assert out["c1"]["fix_sql"] == (
        "REPLACE INTO `test`.`transcripts`(`conv_id`,`turn_idx`,`role`,"
        "`text`) VALUES ('c1',0,'user','it''s fine');"
    )
    assert out["ghost"]["op"] == "D"
    assert out["ghost"]["fix_sql"] == (
        "DELETE FROM `test`.`transcripts` WHERE `conv_id` = 'ghost' AND "
        "`turn_idx` = 9 AND `role` = 'x' AND `text` is NULL LIMIT 1;"
    )
