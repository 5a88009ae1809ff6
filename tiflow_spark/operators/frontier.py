"""Resolved-ts frontier — the watermark.

Reference: the frontier tracks the min over region/span resolved-ts
(/root/reference/cdc/puller/frontier/frontier.go:75-91); the changefeed
checkpoint is the min over tables (/root/reference/cdc/owner/changefeed.go:480).

Spark form: per microbatch, each source partition's frontier is its
max(commit_ts), carried forward per partition across batches in the sink's
manifest (CowTable._advance_frontiers); the table's resolved_ts is the min
over every partition ever seen. Events with commit_ts > resolved_ts are
*not yet totally ordered* (a straggler partition may still deliver older
ones); by default the sink's conditional-LWW merge makes them safe to apply
anyway, so the frontier serves the completeness watermark and the
tombstone-GC bound. With ``apply_epoch(strict_frontier=True)`` it ALSO
gates: above-watermark events are withheld in the table's pending store —
the reference's commit fence (engine.go:103-113). ``frontier_and_buckets``
feeds every epoch from one aggregate: the lineage, and per bucket the
lowest commit_ts, which tells apply_epoch whether any of the bucket's
events passes the gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def partition_frontiers(events: DataFrame) -> DataFrame:
    """Per-source-partition frontier: (source_partition, resolved_ts, n_events).

    One narrow partial-agg + tiny shuffle; also feeds the lineage table.
    """
    return events.groupBy("source_partition").agg(
        F.max("commit_ts").alias("resolved_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


def frontier_and_buckets(
    events: DataFrame, bucket_col: Column
) -> tuple[list[tuple[int, int, int]], dict[int, int | None]]:
    """The per-source-partition frontier rows ``[(source_partition,
    resolved_ts, n_events)]`` AND, per bucket the events touch, the lowest
    ``commit_ts`` among its events, from ONE aggregate job:
    groupBy(source_partition, bucket) collected and folded on the driver.
    ``bucket_col`` is the sink's bucket expression — a pure function of the
    key columns, so the raw events touch exactly the buckets their net rows
    will. An event whose ``bucket_col`` is null counts in the frontier but
    touches no bucket: a caller masks the bucket of events a gate withholds
    whatever the watermark (apply_epoch's version gate).

    An epoch that arrives as one partition is coalesced first
    (``single_stage``): the aggregate then needs no exchange and runs as
    one job, where AQE runs each side of an exchange as its own job. A
    multi-partition batch keeps the exchange, so a large catch-up epoch
    still aggregates in parallel. Not GROUPING SETS: its Expand node drops
    the single-partition output, so the coalesced plan would shuffle
    again."""
    rows = (
        single_stage(events).groupBy("source_partition", bucket_col.alias("bucket"))
        .agg(
            F.max("commit_ts").alias("resolved_ts"),
            F.count(F.lit(1)).alias("n_events"),
            F.min("commit_ts").alias("lowest_ts"),
        )
        .collect()
    )
    frontiers: dict[int, tuple[int, int]] = {}
    lowest: dict[int, int | None] = {}
    for r in rows:
        part, rts, n = int(r["source_partition"]), int(r["resolved_ts"]), int(r["n_events"])
        prev_rts, prev_n = frontiers.get(part, (rts, 0))
        frontiers[part] = (max(prev_rts, rts), prev_n + n)
        if r["bucket"] is not None:
            b, lo = int(r["bucket"]), r["lowest_ts"]
            lowest[b] = min(
                (x for x in (lowest.get(b), lo) if x is not None), default=None
            )
    return (
        [(part, rts, n) for part, (rts, n) in sorted(frontiers.items())],
        lowest,
    )


def single_stage(df: DataFrame) -> DataFrame:
    """``df.coalesce(1)`` when ``df``'s physical plan already yields one
    partition, else ``df`` unchanged. An aggregate over the coalesced frame
    needs no exchange, so it runs as one stage; a multi-partition frame
    keeps its parallel shape, which measured faster than coalescing it
    (three-file tail epochs, CHANGES.md).

    The count comes from the plan's RDD, not ``outputPartitioning``: a file
    scan reports an unknown partitioning whatever its file count. Building
    that RDD runs no job unless the plan holds an exchange or an adaptive
    plan (also inside a cached relation); such a plan settles its
    partitioning only when it runs, so it counts as many partitions."""
    plan = df._jdf.queryExecution().executedPlan()
    if _settles_when_run(df.sparkSession._jvm, plan):
        return df
    return df.coalesce(1) if plan.execute().getNumPartitions() == 1 else df


_SETTLES_WHEN_RUN = (
    "org.apache.spark.sql.execution.exchange.Exchange",
    "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec",
)
_CACHED_SCAN = "org.apache.spark.sql.execution.columnar.InMemoryTableScanExec"


def _settles_when_run(jvm, plan) -> bool:
    """Whether a node of ``plan``, or of a cached relation's plan under
    it, is an exchange or an adaptive plan (checked by class)."""
    loader = plan.getClass().getClassLoader()
    classes = [jvm.java.lang.Class.forName(n, False, loader) for n in _SETTLES_WHEN_RUN]
    cached = jvm.java.lang.Class.forName(_CACHED_SCAN, False, loader)
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        if any(c.isInstance(node) for c in classes):
            return True
        if cached.isInstance(node):
            nodes.append(node.relation().cachedPlan())
        children = node.children()
        nodes.extend(children.apply(k) for k in range(children.size()))
    return False


def resolved_ts(events: DataFrame) -> int | None:
    """Global resolved-ts = min over partition frontiers. Returns None on an
    empty batch."""
    row = partition_frontiers(events).agg(F.min("resolved_ts").alias("rts")).first()
    return row["rts"] if row else None

