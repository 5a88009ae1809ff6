"""One-epoch replay plan — the puller→sorter→mounter→sink data path.

Reference walk (SURVEY.md §3.3): RawKVEntry → sorter (pebble) → mounter →
RowChangedEvent → MySQL DMLs → checkpoint advance. Spark rebuild, one
``foreachBatch`` body:

    raw events
      → frontier + affected buckets (per-source-partition resolved-ts +
        counts → lineage; one aggregate job)
      → op_order + LWW reduce to net row per key  [1 shuffle, none for a
        one-partition epoch; partial-agg = the salted hot-key split;
        sorter + DM compactor in one op]
      → versioned payload decode                  [narrow, JVM from_json]
      → CowTable.merge                            [bucket-pruned COW MERGE,
        epoch-fenced, version-conditional → idempotent + out-of-order safe]

Decode runs AFTER the reduce (the reference also mounts post-sorter,
/root/reference/cdc/processor/sinkmanager/table_sink_worker.go): at 10^10
events/epoch with ~10^8 live keys this decodes 1% of the payload bytes the
naive order would.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from tiflow_spark.functions.decode import decode_payload, decode_payload_pandas
from tiflow_spark.operators.frontier import (
    frontier_and_buckets, partition_frontiers, single_stage,
)
from tiflow_spark.operators.lww import lww_latest, with_op_order
from tiflow_spark.sinks.cow_table import CowTable, MergeStats
from tiflow_spark.sources.registry import SchemaVersion


@dataclass
class EpochResult:
    stats: MergeStats
    resolved_ts: int | None


def apply_epoch(
    table: CowTable,
    registry: list[SchemaVersion],
    batch: DataFrame,
    batch_id: int,
    decoder: str = "jvm",
    strict_frontier: bool = False,
    version_gate: int | None = None,
    manifest_extra: dict | None = None,
    capture_net: bool = False,
) -> EpochResult:
    """Process one microbatch of raw change events into the table.

    Action layout: two actions (a pending-store drain adds a third, for
    the store's buckets). The frontier-and-buckets aggregate runs
    first and yields the lineage, the resolved-ts and the affected buckets;
    then the merge write reduces, decodes and rewrites those buckets. Both
    scan the raw batch, which the caller (streaming runner) persists, so
    the source is read once. The merge is told the batch is pre-reduced and
    its buckets known, so it runs neither its own LWW nor its own bucket
    discovery.

    ``strict_frontier=True`` enforces the reference's commit fence
    (/root/reference/cdc/processor/sourcemanager/sorter/engine.go:103-113):
    only events at or below the table's global resolved-ts are applied this
    epoch; the rest are withheld in the table's pending store and re-enter
    when the frontier passes them — readers never observe a row above the
    watermark. The default (False) applies everything immediately: the
    version-conditional merge makes that equally convergent, at the cost of
    transiently exposing above-watermark rows (documented deviation).

    ``version_gate`` is the sharding-DDL pessimistic barrier (reference
    /root/reference/dm/pkg/shardddl/pessimism/lock.go): events whose
    schema_version exceeds it are withheld to the pending store until every
    routed shard has executed the DDL — the streaming runner computes the
    gate as min over shards of each shard's delivered schema_version.
    ``manifest_extra`` rides the epoch's atomic manifest commit (the runner
    persists shard frontiers there, restart-safe).

    ``capture_net=True`` persists the epoch's decoded net rows under the
    table's ``_validator/net/`` and references them in the manifest — the
    continuous validator's forward feed (reference dm/syncer/
    data_validator.go validates rows AS replicated): validation then diffs
    these captured rows against the table read-back, never rescanning the
    source log. The capture file doubles as the merge input (written once,
    read back), so enabling it adds one O(net) write per epoch, not a
    second decode."""
    # the sink pipeline never reads the old-value image (pre-image consumers
    # — old-image filters, key-change splitting — run upstream); carrying
    # pre_payload through the LWW shuffle costs real bytes (measured: the
    # reduce runs 38% faster without it at 59.8M events)
    if "pre_payload" in batch.columns:
        batch = batch.drop("pre_payload")
    ev = with_op_order(batch)

    if strict_frontier or version_gate is not None:
        return _apply_epoch_fenced(
            table, registry, ev, batch_id, decoder,
            strict_frontier=strict_frontier, version_gate=version_gate,
            manifest_extra=manifest_extra, capture_net=capture_net,
        )

    # a non-strict epoch on a table holding a pending store (a strict feed
    # restarted with strict_frontier=False) drains it: the withheld events
    # re-enter this epoch's LWW and the reference is cleared in the same
    # manifest commit (otherwise merge carries it forward untouched)
    manifest_extra = dict(manifest_extra or {})
    prev_pending = table.read_pending()

    # frontier + lineage + affected buckets: ONE aggregate job over the
    # raw batch (operators.frontier.frontier_and_buckets), run before the
    # reduce on this thread, so its job carries the streaming query's job
    # group. bucket is a pure function of the key columns, so the raw
    # events touch exactly the buckets their net rows will.
    frontier, affected = frontier_and_buckets(batch, table._bucket_col())
    lineage_rows = [(batch_id, *r) for r in frontier]
    resolved = min((r[2] for r in lineage_rows), default=None)

    if prev_pending is not None:
        # pending events were lineage-counted by the epoch that withheld
        # them — fold them into the LWW only, add their buckets (one extra
        # job, only on a drain), and clear the reference. An EMPTY
        # microbatch still drains: the withheld rows merge with zero new
        # lineage rather than sitting in the store forever.
        dp = prev_pending.drop(
            *[c for c in ("pre_payload", "op_order") if c in prev_pending.columns]
        )
        ev = ev.unionByName(with_op_order(dp), allowMissingColumns=True)
        pending_buckets = dp.select(table._bucket_col().alias("b")).distinct().collect()
        affected = sorted(set(affected) | {int(r["b"]) for r in pending_buckets})
        manifest_extra["pending"] = None

    # persist the reduced rows BEFORE decoding: projecting from_json onto
    # the aggregate output folds the decode into the aggregate's result
    # expressions (measured ~75x slower); the cache is a plan barrier and
    # the net rows (one per live key) are the smallest point in the
    # pipeline. The merge write is its only consumer and materialises it.
    # A one-partition epoch reduces without an exchange (single_stage), so
    # the reduce and the cache fill are one job.
    net = lww_latest(single_stage(ev)).withColumn("bucket", table._bucket_col()).persist()
    try:
        decode = decode_payload_pandas if decoder == "pandas" else decode_payload
        dec = decode(net, registry)
        if capture_net:
            dec, manifest_extra = _capture_net(table, dec, batch_id, manifest_extra)

        stats = table.merge(
            dec, batch_id, resolved_ts=resolved, lineage_rows=lineage_rows,
            pre_reduced=True, affected_buckets=affected,
            manifest_extra=manifest_extra,
        )
    finally:
        net.unpersist()
    return EpochResult(stats=stats, resolved_ts=resolved)


def _capture_net(
    table: CowTable, dec: DataFrame, batch_id: int, manifest_extra: dict | None
) -> tuple[DataFrame, dict]:
    """Persist the epoch's decoded net rows for the continuous validator and
    return (read-back frame, manifest_extra referencing it).

    Crash-safety: the file is named by the manifest seq it will commit
    under — a retry of an UNcommitted epoch overwrites the same path with
    identical content, while a redelivery of an already-committed epoch
    (merge fence skips it) writes a DIFFERENT, never-referenced path that
    vacuum removes; the committed capture is never clobbered. The raw
    ``payload`` string is dropped (the decoded columns carry the data)."""
    m = table.current_manifest()
    rel = f"_validator/net/s{int(m['seq']) + 1}_b{batch_id}"
    out = dec.drop(*[c for c in ("payload", "pre_payload") if c in dec.columns])
    out.write.mode("overwrite").parquet(f"{table.root}/{rel}")
    extra = dict(manifest_extra or {})
    extra["validator_nets"] = list(m.get("validator_nets") or []) + [rel]
    return table.spark.read.parquet(f"{table.root}/{rel}"), extra


def _apply_epoch_fenced(
    table: CowTable,
    registry: list[SchemaVersion],
    ev: DataFrame,
    batch_id: int,
    decoder: str,
    strict_frontier: bool = True,
    version_gate: int | None = None,
    manifest_extra: dict | None = None,
    capture_net: bool = False,
) -> EpochResult:
    """Fenced epoch: split (new events ∪ previous pending) at the active
    gates; apply the ready half, persist the rest as the next pending
    generation, commit both references in one atomic manifest swap.

    Gates compose:
    - strict_frontier: commit_ts must be at or below the NEW global
      watermark (reference engine.go:103-113 commit fence);
    - version_gate: schema_version must be at or below the sharding-DDL
      barrier (reference dm/pkg/shardddl/pessimism — post-DDL shard rows
      wait until every shard executed the DDL).

    Pending holds at most one gate-lag of events (bounded by the source
    contract for the frontier gate, and by one DDL's worth of shard skew
    for the version gate); it is rewritten whole each epoch and old
    generations are vacuumed."""
    from pyspark.sql import functions as F

    if batch_id <= table.last_committed_batch():
        return EpochResult(stats=MergeStats(batch_id=batch_id, skipped=True), resolved_ts=None)

    # lineage only: the gates below decide which rows merge, so the
    # affected buckets are discovered after the split
    lineage_rows = [
        (batch_id, int(r["source_partition"]), int(r["resolved_ts"]), int(r["n_events"]))
        for r in partition_frontiers(single_stage(ev)).collect()
    ]
    _, resolved = CowTable._advance_frontiers(table.current_manifest(), lineage_rows)

    prev_pending = table.read_pending()
    full = (
        ev.unionByName(with_op_order(prev_pending), allowMissingColumns=True)
        if prev_pending is not None
        else ev
    )
    gate = F.lit(True)
    if strict_frontier:
        gate = gate & (F.col("commit_ts") <= F.lit(resolved if resolved is not None else -1))
    if version_gate is not None:
        gate = gate & (
            F.col("schema_version").isNull()
            | (F.col("schema_version") <= F.lit(version_gate))
        )
    # pending written BEFORE the manifest that references it (crash-safe:
    # orphans are vacuumed); drop op_order — it is recomputed on re-entry
    pending_rel = table.write_pending(full.filter(~gate).drop("op_order"), batch_id)

    net = lww_latest(full.filter(gate)).withColumn("bucket", table._bucket_col()).persist()
    try:
        # the gated rows' buckets: one action that also fills the cache
        affected = [int(r["bucket"]) for r in net.select("bucket").distinct().collect()]
        decode = decode_payload_pandas if decoder == "pandas" else decode_payload
        dec = decode(net, registry)
        extra = {**(manifest_extra or {}), "pending": pending_rel}
        if capture_net:
            dec, extra = _capture_net(table, dec, batch_id, extra)
        stats = table.merge(
            dec, batch_id, resolved_ts=resolved,
            lineage_rows=lineage_rows, pre_reduced=True, affected_buckets=affected,
            manifest_extra=extra,
        )
    finally:
        net.unpersist()
    return EpochResult(stats=stats, resolved_ts=resolved)
