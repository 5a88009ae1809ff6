"""Resolved-ts frontier — the watermark.

Reference: the frontier tracks the min over region/span resolved-ts
(/root/reference/cdc/puller/frontier/frontier.go:75-91); the changefeed
checkpoint is the min over tables (/root/reference/cdc/owner/changefeed.go:480).

Spark form: per microbatch, resolved_ts = min over source partitions of
max(commit_ts), carried forward per partition across batches in the sink's
manifest (CowTable._advance_frontiers). Events with commit_ts > resolved_ts
are *not yet totally ordered* (a straggler partition may still deliver older
ones); by default the sink's conditional-LWW merge makes them safe to apply
anyway, so the frontier serves the completeness watermark and the
tombstone-GC bound. With ``apply_epoch(strict_frontier=True)`` it ALSO
gates: above-watermark events are withheld in the table's pending store —
the reference's commit fence (engine.go:103-113).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_frontiers(events: DataFrame) -> DataFrame:
    """Per-source-partition frontier: (source_partition, resolved_ts, n_events).

    One narrow partial-agg + tiny shuffle; also feeds the lineage table.
    """
    return events.groupBy("source_partition").agg(
        F.max("commit_ts").alias("resolved_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


def resolved_ts(events: DataFrame) -> int | None:
    """Global resolved-ts = min over partition frontiers. Returns None on an
    empty batch."""
    row = partition_frontiers(events).agg(F.min("resolved_ts").alias("rts")).first()
    return row["rts"] if row else None

