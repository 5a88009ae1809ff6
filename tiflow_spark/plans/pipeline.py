"""One-epoch replay plan — the puller→sorter→mounter→sink data path.

Reference walk (SURVEY.md §3.3): RawKVEntry → sorter (pebble) → mounter →
RowChangedEvent → MySQL DMLs → checkpoint advance. Spark rebuild, one
``foreachBatch`` body, the same for every epoch:

    raw events
      → epoch fence (a committed batch_id returns before any Spark job)
      → frontier + per-bucket lowest commit_ts (per-source-partition
        resolved-ts + counts → lineage and the table watermark; one
        aggregate job)
      → gate split (identity unless strict_frontier or a version_gate
        withholds rows to the pending store)
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
from pyspark.sql import functions as F

from tiflow_spark.functions.decode import decode_payload, decode_payload_pandas
from tiflow_spark.operators.frontier import frontier_and_buckets, single_stage
from tiflow_spark.operators.lww import lww_latest, with_op_order
from tiflow_spark.sinks.cow_table import CowTable, MergeStats
from tiflow_spark.sources.registry import SchemaVersion


@dataclass
class EpochResult:
    stats: MergeStats
    # the table's global watermark after the epoch (the manifest's
    # resolved_ts); None for a skipped redelivery
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

    A ``batch_id`` at or below the table's committed batch is a redelivery
    and returns skipped before any Spark job or file write. Otherwise the
    frontier-and-buckets aggregate runs first over the raw batch and yields
    the lineage, the table's new watermark and, per bucket, the lowest
    commit_ts; then the merge write reduces, decodes and rewrites the
    affected buckets. Both scan the raw batch, which the caller (streaming
    runner) persists, so the source is read once; the merge runs neither
    its own LWW nor its own bucket discovery. A pending-store drain adds
    one job for the store's buckets, a gated epoch one for the pending
    write.

    Every epoch splits (new events ∪ the previous pending store) at a gate,
    applies the half that passes and withholds the rest to the pending
    store, referenced in the same atomic manifest commit. With neither
    gate set the gate is the identity: everything applies, and a pending
    store left by an earlier gated run drains and its reference is
    cleared. A bucket is affected when one of its events passes the gate,
    so a bucket whose every event is withheld keeps its file. The gates
    compose:

    - ``strict_frontier=True`` enforces the reference's commit fence
      (cdc/processor/sourcemanager/sorter/engine.go:103-113):
      only events at or below the table's global resolved-ts apply; the
      rest re-enter when the frontier passes them — readers never observe a
      row above the watermark. The default (False) applies everything
      immediately: the version-conditional merge makes that equally
      convergent, at the cost of transiently exposing above-watermark rows
      (documented deviation).
    - ``version_gate`` is the sharding-DDL pessimistic barrier (reference
      dm/pkg/shardddl/pessimism/lock.go): events whose
      schema_version exceeds it wait until every routed shard has executed
      the DDL — the streaming runner computes the gate as min over shards
      of each shard's delivered schema_version.

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
    manifest = table.current_manifest()
    if batch_id <= manifest["batch_id"]:
        # epoch fence (merge's own, taken before any job runs)
        return EpochResult(stats=MergeStats(batch_id=batch_id, skipped=True), resolved_ts=None)

    # the sink pipeline never reads the old-value image (pre-image consumers
    # — old-image filters, key-change splitting — run upstream); carrying
    # pre_payload through the LWW shuffle costs real bytes (measured: the
    # reduce runs 38% faster without it at 59.8M events)
    if "pre_payload" in batch.columns:
        batch = batch.drop("pre_payload")

    admitted = F.lit(True)
    if version_gate is not None:
        admitted = F.col("schema_version").isNull() | (
            F.col("schema_version") <= F.lit(version_gate)
        )
    # events the version gate withholds touch no bucket this epoch
    bucket = F.when(admitted, table._bucket_col())

    # frontier + lineage + per-bucket lowest commit_ts: ONE aggregate job
    # over the raw batch (operators.frontier.frontier_and_buckets), run
    # before the reduce on this thread, so its job carries the streaming
    # query's job group
    frontier, lowest = frontier_and_buckets(batch, bucket)
    lineage_rows = [(batch_id, *r) for r in frontier]
    _, resolved = CowTable._advance_frontiers(manifest, lineage_rows)

    ev = with_op_order(batch)
    prev_pending = table.read_pending()
    pending_lowest: dict[int, int | None] = {}
    if prev_pending is not None:
        # pending events were lineage-counted by the epoch that withheld
        # them — fold them into the split only, and take their buckets from
        # the same aggregate (one extra job, only while a store exists). An
        # EMPTY microbatch still drains: the withheld rows merge with zero
        # new lineage rather than sitting in the store forever.
        dp = prev_pending.drop(
            *[c for c in ("pre_payload", "op_order") if c in prev_pending.columns]
        )
        ev = ev.unionByName(with_op_order(dp), allowMissingColumns=True)
        _, pending_lowest = frontier_and_buckets(dp, bucket)

    watermark = resolved if resolved is not None else -1
    gate = admitted
    if strict_frontier:
        gate = gate & (F.col("commit_ts") <= F.lit(watermark))
    affected = sorted({
        b
        for part in (lowest, pending_lowest)
        for b, lo in part.items()
        if not strict_frontier or (lo is not None and lo <= watermark)
    })

    # pending written BEFORE the manifest that references it (crash-safe:
    # orphans are vacuumed); drop op_order — it is recomputed on re-entry.
    # An ungated epoch withholds nothing and clears the reference.
    extra = dict(manifest_extra or {})
    extra["pending"] = (
        table.write_pending(ev.filter(~gate).drop("op_order"), batch_id)
        if strict_frontier or version_gate is not None
        else None
    )

    # persist the reduced rows BEFORE decoding: projecting from_json onto
    # the aggregate output folds the decode into the aggregate's result
    # expressions (measured ~75x slower); the cache is a plan barrier and
    # the net rows (one per live key) are the smallest point in the
    # pipeline. The merge write is its only consumer and materialises it.
    # A one-partition epoch reduces without an exchange (single_stage), so
    # the reduce and the cache fill are one job.
    net = (
        lww_latest(single_stage(ev.filter(gate)))
        .withColumn("bucket", table._bucket_col()).persist()
    )
    try:
        decode = decode_payload_pandas if decoder == "pandas" else decode_payload
        dec = decode(net, registry)
        if capture_net:
            dec, extra = _capture_net(table, dec, batch_id, extra)
        stats = table.merge(
            dec, batch_id, lineage_rows=lineage_rows,
            pre_reduced=True, affected_buckets=affected, manifest_extra=extra,
        )
    finally:
        net.unpersist()
    return EpochResult(stats=stats, resolved_ts=resolved)


def _capture_net(
    table: CowTable, dec: DataFrame, batch_id: int, manifest_extra: dict
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
    extra = dict(manifest_extra)
    extra["validator_nets"] = list(m.get("validator_nets") or []) + [rel]
    return table.spark.read.parquet(f"{table.root}/{rel}"), extra
