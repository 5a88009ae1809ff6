"""Bucketed copy-on-write lake table with atomic manifest commits — the sink.

Reference mapping:
- MySQL txn sink's prepareDMLs/exec loop
  (/root/reference/cdc/sink/dmlsink/txn/mysql/mysql.go:507-708) collapses to
  ONE set-wise MERGE: per batch, per key, keep the newest of {target row,
  batch row} by (commit_ts, start_ts, op_order); a winning delete becomes a
  tombstone.
- Safe mode (/root/reference/dm/syncer/safe-mode/mode.go:28-63,
  mysql.go:515-539): unnecessary — the conditional-version MERGE is
  idempotent by construction; replayed epochs re-merge to the same state.
- Checkpoint/epoch fencing (/root/reference/cdc/owner/changefeed.go:295-313,
  progress_tracker.go:179-255): the manifest records the last committed
  batch_id; a re-delivered batch_id <= committed is skipped.
- Frontier (/root/reference/cdc/puller/frontier/frontier.go:75-91): the
  manifest persists per-source-partition frontiers, carried forward across
  batches; the table's resolved_ts is the min over ALL partitions ever
  seen — a partition absent from a batch keeps its last frontier instead of
  being silently treated as caught up (that would let gc_tombstones drop a
  tombstone a straggler's older insert could still out-race).
- Syncpoint / lineage (/root/reference/cdc/syncpointstore/
  mysql_syncpoint_store.go:155-227): per-epoch per-source-partition applied
  counts are embedded IN the manifest commit — atomic with the merge, no
  separate write that a crash could decouple (and no extra 1-task Spark job
  per epoch, which round-1 benchmarks showed hurting N→4N scaling).

Why not Iceberg MERGE INTO: this sandbox has no Iceberg runtime jar. The
design is the same copy-on-write MERGE an Iceberg/Delta COW table performs —
hash-bucketed layout, read only affected buckets (partition pruning), rewrite
only affected buckets, commit by atomic metadata swap (tmp + rename of a
manifest JSON, exactly Iceberg's version-hint protocol). On a real cluster
the `merge()` body is replaced by one `MERGE INTO` statement (SURVEY.md
§2.6) with the identical plan shape; everything upstream is unchanged.

Scale notes (100 TB / 1000 executors):
- merge cost ∝ size of *affected* buckets, not table size; `n_buckets`
  is the pruning granularity (use 4096+ at scale; 32 locally).
- the per-key reduce is a partial-aggregating groupBy (map-side combine),
  so hot keys don't concentrate on one reducer (see operators/lww.py).
- out-of-order safety: merge keeps max-version, so events may be applied in
  ANY batch order; deletes persist as tombstones until `gc_tombstones`
  drops those older than the global resolved-ts (below which the source
  contract promises no more events — /root/reference/cdc/model/kv.go:58-66).
- superseded bucket files are reclaimed by ``vacuum`` (Iceberg
  expire_snapshots analog) — without it the data dir grows without bound at
  streaming cadence.

Single-writer assumption (same as one changefeed owner in the reference):
one streaming query commits at a time.

Commit contract. The manifest holds the checkpoint (batch_id), the
watermark, the epoch fence and every store reference, and ``CowTable.commit
(base, changes)`` is the only writer — merge, compact, gc_tombstones, the
runner's validation and DLQ commits and the controller's fence reset all go
through it (the reference likewise advances a checkpoint in one place,
/root/reference/cdc/owner/changefeed.go:295-313):
- every key of ``base`` (the manifest the caller read) carries forward
  unless ``changes`` names it; naming a key with ``None`` clears it (stored
  as null) — so a new manifest key needs no carry-forward clause anywhere;
- ``seq`` becomes ``base["seq"] + 1`` and ``committed_at`` the wall clock;
- the per-commit fields ``lineage`` (default ``[]``), ``applied_events``,
  ``compacted`` and ``validation`` never carry forward;
- ``gc_below`` (the tombstone-GC safepoint) is the max of the base and the
  new value: dropping or lowering it would let ChangefeedController.resume
  accept a rewind below the GC horizon and resurrect deleted rows;
- the write is tmp + atomic rename of ``_manifest/{seq}.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflow_spark.operators.lww import lww_latest, with_op_order
from tiflow_spark.operators.frontier import frontier_and_buckets

KEY_COLS = ("conv_id", "turn_idx")
VERSION_COLS = ("__commit_ts", "__start_ts", "__op_order")

# Change-event envelope columns a merge batch may carry besides key/data.
ENVELOPE_COLS = frozenset(
    {
        "op", "op_order", "commit_ts", "start_ts", "schema_version",
        "source_partition", "payload", "pre_payload", "bucket", "table_name",
        "__shard", "origin",
    }
)

# Default table shape: conversation transcripts (BASELINE.json input_hint).
DEFAULT_KEY_SCHEMA = {"conv_id": "string", "turn_idx": "int"}
DEFAULT_DATA_SCHEMA = {"role": "string", "text": "string", "tool": "string", "ts": "timestamp"}

# The version and tombstone columns every bucket file carries.
FILE_VERSION_SCHEMA = {
    "__commit_ts": "LONG", "__start_ts": "LONG", "__op_order": "INT", "__deleted": "BOOLEAN",
}

LINEAGE_SCHEMA = (
    "batch_id LONG, source_partition INT, resolved_ts LONG, applied_events LONG"
)

# Manifest fields that describe one commit only; CowTable.commit never
# carries them forward.
PER_COMMIT = frozenset({"lineage", "applied_events", "compacted", "validation"})


@dataclass
class MergeStats:
    batch_id: int
    skipped: bool
    applied_events: int = 0
    affected_buckets: int = 0
    # the table watermark this commit records (the manifest's resolved_ts)
    resolved_ts: int | None = None


def data_schema_from_registry(registry) -> dict[str, str]:
    """Derive the sink column schema from the latest registry version — a
    second table shape is config, not code (round-1 gap: hardcoded cols)."""
    from tiflow_spark.sources.registry import latest_schema

    return {f.name: f.dataType.simpleString() for f in latest_schema(registry).fields}


class CowTable:
    """A hash-bucketed copy-on-write parquet table supporting idempotent,
    fenced, LWW-conditional MERGE of change batches."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 32,
        key_cols: tuple[str, ...] = KEY_COLS,
        data_schema: dict[str, str] | None = None,
        key_schema: dict[str, str] | None = None,
        auto_vacuum_keep: int | None = None,
        bucket_expr: str | None = None,
        mode: str = "cow",
        auto_compact_deltas: int | None = None,
    ) -> None:
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.key_cols = key_cols
        # column name -> Spark DDL type; types drive NULL backfill when a
        # column is absent (schema evolution: a pre-DDL batch/file lacks
        # columns added later — Iceberg add-column semantics, NULL for old
        # data). Derivable from a registry via data_schema_from_registry.
        os.makedirs(f"{root}/_manifest", exist_ok=True)
        if data_schema is not None:
            self.data_schema = dict(data_schema)
        else:
            # like Iceberg, the table's schema lives in its own metadata:
            # reopening an existing table needs no schema argument (every
            # merge persists data_schema in the manifest); a fresh table
            # starts from the transcript default
            self.data_schema = dict(
                self.current_manifest().get("data_schema") or DEFAULT_DATA_SCHEMA
            )
        self.key_schema = dict(key_schema) if key_schema is not None else dict(DEFAULT_KEY_SCHEMA)
        untyped = [c for c in key_cols if c not in self.key_schema]
        if untyped:
            # bucket files are read with the table's schema (_file_schema),
            # so every key column needs a declared type
            raise ValueError(f"key_schema declares no type for key column(s) {untyped}")
        # column rename history: data column -> older physical names,
        # newest first (set by the runner's schema evolution from the
        # registry's rename chains; persisted in the manifest). Bucket
        # files written before a RENAME carry the old name — reads
        # reconstruct the current column from whichever name a file has,
        # the by-name analog of Iceberg's field-id rename (metadata-only,
        # no data rewrite).
        self.column_history: dict[str, list[str]] = {
            k: list(v)
            for k, v in (self.current_manifest().get("column_history") or {}).items()
        }
        # retain this many manifests' data files after each merge (None =
        # never auto-vacuum; call vacuum() manually)
        self.auto_vacuum_keep = auto_vacuum_keep
        # bucket assignment, as a SQL expression over the key columns
        # yielding an int in [0, n_buckets). Default: hash bucketing
        # (Iceberg bucket[N] transform — uniform spread, best for point
        # updates). A key-RANGE expression (Iceberg truncate/range
        # transform analog, e.g. conv-id div group_size) preserves key
        # locality: a feed whose epochs touch contiguous key ranges then
        # merges only the few buckets those ranges map to — merge cost
        # follows the epoch's key footprint, not the table size. The
        # expression sees the key columns as each frame carries them, so it
        # must yield the same bucket for a key whatever its integer width.
        self.bucket_expr = bucket_expr
        # write strategy:
        # - "cow" (default): each merge reads the affected base buckets,
        #   reconciles, and REWRITES them — reads are zero-cost (one row
        #   per key on disk), writes cost O(affected base).
        # - "mor" (merge-on-read — Iceberg v2 / Hudi MOR / Paimon-LSM
        #   analog, and the closest relative of the reference's Pebble LSM
        #   sorter): each merge only APPENDS its net rows as per-bucket
        #   delta files — write cost O(epoch), no reconcile read at all;
        #   reads resolve base+deltas per key (lww) until ``compact()``
        #   folds deltas back into the base. ``auto_compact_deltas``
        #   compacts whenever any bucket accumulates that many delta files
        #   (bounds read amplification — the LSM level-0 trigger).
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        self.mode = mode
        self.auto_compact_deltas = auto_compact_deltas

    @property
    def data_cols(self) -> tuple[str, ...]:
        return tuple(self.data_schema)

    def _with_all_data_cols(self, df: DataFrame) -> DataFrame:
        """Conform ``df`` to the current data schema: absent columns
        backfill NULL (add-column evolution), and a column absent under its
        CURRENT name is reconstructed from its historical names when the
        frame carries them (rename evolution — a bucket read carries every
        historical name, NULL in files written after the rename; newest
        non-null wins)."""
        for c in self.data_cols:
            t = self.data_schema.get(c, "string")
            sources = [n for n in [c, *self.column_history.get(c, [])] if n in df.columns]
            if sources == [c]:
                continue
            if not sources:
                df = df.withColumn(c, F.lit(None).cast(t))
            else:
                df = df.withColumn(
                    c, F.coalesce(*[F.col(n).cast(t) for n in sources])
                )
        # historical names are consumed above — drop them so frames from
        # pre- and post-rename files union cleanly
        hist = {n for hs in self.column_history.values() for n in hs}
        stale = [n for n in hist if n in df.columns and n not in self.data_cols]
        return df.drop(*stale) if stale else df

    # ---------------- manifest (atomic metadata) ----------------

    def _manifest_seqs(self) -> list[int]:
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(f"{self.root}/_manifest")
            if f.endswith(".json") and not f.startswith("_")
        )

    def _read_manifest(self, seq: int) -> dict[str, Any]:
        try:
            with open(f"{self.root}/_manifest/{seq}.json") as f:
                return json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"manifest seq {seq} expired: vacuum folded it into "
                "_history.json and removed its data files — time travel / "
                "CDF to it is no longer possible (raise keep_manifests to "
                "retain a longer window)"
            ) from None

    def current_manifest(self) -> dict[str, Any]:
        seqs = self._manifest_seqs()
        if not seqs:
            return {
                "seq": -1, "batch_id": -1, "resolved_ts": None,
                "buckets": {}, "frontiers": {}, "lineage": [],
            }
        return self._read_manifest(seqs[-1])

    def commit(self, base: dict[str, Any], changes: dict[str, Any]) -> dict[str, Any]:
        """Write the manifest that follows ``base`` (the manifest the caller
        read) with ``changes`` applied, atomically; return it. The one way
        to commit a table change — see the module docstring's contract:
        every key of ``base`` carries forward unless ``changes`` names it
        (``None`` stores null), the per-commit fields in ``PER_COMMIT``
        reset, ``seq``/``committed_at`` advance, and ``gc_below`` only ever
        rises."""
        manifest = {k: v for k, v in base.items() if k not in PER_COMMIT}
        manifest["lineage"] = []
        manifest.update(changes)
        gc = [int(v) for v in (base.get("gc_below"), changes.get("gc_below")) if v is not None]
        if gc:
            manifest["gc_below"] = max(gc)
        manifest["seq"] = int(base["seq"]) + 1
        manifest["committed_at"] = time.time()
        self._commit_manifest(manifest)
        return manifest

    def _commit_manifest(self, manifest: dict[str, Any]) -> None:
        seq = manifest["seq"]
        tmp = f"{self.root}/_manifest/_tmp.{seq}.json"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        # atomic on POSIX; the Iceberg version-hint analog
        os.rename(tmp, f"{self.root}/_manifest/{seq}.json")

    def last_committed_batch(self) -> int:
        return int(self.current_manifest()["batch_id"])

    @staticmethod
    def _advance_frontiers(
        manifest: dict[str, Any], lineage_rows: list[tuple[int, int, int, int]]
    ) -> tuple[dict[str, int], int | None]:
        """Carry per-source-partition frontiers forward and return the new
        global resolved_ts = min over ALL partitions ever seen (reference
        frontier.go:75-91 keeps per-span minima persistently). Discovering a
        new straggler partition may legitimately LOWER the global value —
        the earlier one was computed without knowledge of that partition."""
        frontiers = {str(k): int(v) for k, v in manifest.get("frontiers", {}).items()}
        for _, part, rts, _ in lineage_rows:
            key = str(int(part))
            frontiers[key] = max(frontiers.get(key, rts), rts)
        resolved = min(frontiers.values()) if frontiers else None
        return frontiers, resolved

    # ---------------- read paths ----------------

    def _bucket_col(self):
        if self.bucket_expr is not None:
            return F.expr(self.bucket_expr).cast("int")
        # hash the keys as the files store them: xxhash64 of an INT and of
        # a LONG differ, so a batch carrying a wider key type would find
        # other buckets than its (cast) rows are written to
        keys = [F.col(c).cast(self.key_schema[c]) for c in self.key_cols]
        return F.pmod(F.xxhash64(*keys), F.lit(self.n_buckets)).cast("int")

    def _read_buckets(self, manifest: dict[str, Any], buckets: list[int]) -> DataFrame | None:
        paths = [
            os.path.join(self.root, manifest["buckets"][str(b)])
            for b in buckets
            if str(b) in manifest["buckets"]
        ]
        deltas = manifest.get("deltas") or {}
        for b in buckets:
            paths += [os.path.join(self.root, rel) for rel in deltas.get(str(b), [])]
        # a manifest-referenced file that is gone means vacuum expired this
        # snapshot (or external deletion) — fail LOUDLY: silently skipping
        # it would serve an incomplete snapshot, and a CDF diff against it
        # would drop delete events (a cascade would then diverge)
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"snapshot seq {manifest.get('seq')} references "
                f"{len(missing)} expired data path(s) (vacuum retention "
                f"passed this snapshot): {missing[:3]}"
            )
        if not paths:
            return None
        # read with the table's own schema, not the files' footers: a file
        # written before an ADD COLUMN reads it as NULL, and a column a
        # DROP removed is not read at all
        return self.spark.read.schema(self._file_schema()).parquet(*paths)

    def _reconcile_by_bucket(self, candidates: DataFrame) -> DataFrame:
        """Per-key newest-version reduce, bucket-local (the COW reconcile).

        ``candidates`` must carry the ``bucket`` column. Because bucket is a
        pure function of the key columns, grouping by bucket colocates every
        key's rows; one Arrow batch per bucket is then reduced with a
        vectorized sort + last-per-key take. Why not the groupBy(key).max_by
        form (r6 measurement): max_by's struct buffer forbids hash
        aggregation, so the reconcile ran as a SortAggregate over the full
        candidate set AND the winners paid a SECOND full shuffle
        (repartition by bucket) before the bucketed write. This plan pays
        ONE exchange (by the int bucket key), no sort-aggregate, and leaves
        winners already bucket-partitioned — each write task owns whole
        buckets, same file layout as before. Arrow-native (applyInArrow):
        values round-trip untouched, no pandas dtype coercion.

        Task memory holds one bucket's candidate rows — the same bound the
        old write stage already had (each write task owned whole buckets);
        bucket sizing (n_buckets) remains the scale knob."""
        from pyspark.sql.pandas.types import to_arrow_schema

        key_cols = list(self.key_cols)
        vcols = ["__commit_ts", "__start_ts", "__op_order"]
        out_names = candidates.columns
        # the exact Arrow schema the worker's result verifier expects —
        # input batches can carry tz aliases (e.g. Etc/UTC vs UTC) that
        # fail the by-string schema check if returned unchanged
        target = to_arrow_schema(candidates.schema)

        def _reduce(tbl):
            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc

            # nulls sort lowest, as in max_by's struct ordering (_resolve):
            # a null version never beats a non-null one
            sort_keys = [(c, "ascending") for c in key_cols + vcols]
            tbl = tbl.take(
                pc.sort_indices(tbl, sort_keys=sort_keys, null_placement="at_start")
            )
            tbl = tbl.append_column(
                "__rowi", pa.array(np.arange(tbl.num_rows), pa.int64())
            )
            last = tbl.group_by(key_cols, use_threads=False).aggregate(
                [("__rowi", "max")]
            )
            out = tbl.take(last["__rowi_max"]).select(out_names)
            return out if out.schema == target else out.cast(target)

        return candidates.groupBy("bucket").applyInArrow(
            _reduce, candidates.schema
        )

    def _resolve(self, df: DataFrame) -> DataFrame:
        """Per-key newest-version reduce over base+delta rows (the
        merge-on-read resolve; partial-aggregating, same as the LWW core)."""
        ver = F.struct(*[F.col(c) for c in VERSION_COLS])
        val_cols = [c for c in df.columns if c not in self.key_cols]
        return (
            df.groupBy(*self.key_cols)
            .agg(F.max_by(F.struct(*val_cols), ver).alias("_w"))
            .select(*self.key_cols, *[F.col(f"_w.{c}").alias(c) for c in val_cols])
        )

    def _file_schema(self) -> str:
        """The schema of every bucket file, as a DDL string: the key and
        data columns, every historical name in ``column_history`` (typed as
        its current column, so files written before a RENAME still resolve
        in ``_with_all_data_cols``), the version columns and ``__deleted``.
        Reads use it instead of inferring from file footers (the manifest
        is the contract), and ``merge`` casts to it before writing."""
        fields = {c: self.key_schema[c] for c in self.key_cols}
        fields.update(self.data_schema)
        for c, names in self.column_history.items():
            for n in names:
                fields.setdefault(n, self.data_schema.get(c, "string"))
        fields.update(FILE_VERSION_SCHEMA)
        return ", ".join(f"`{c}` {t}" for c, t in fields.items())

    def snapshot(
        self,
        include_tombstones: bool = False,
        as_of_seq: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Table state. Public view: tombstones filtered, internal columns
        dropped. ``as_of_seq`` time-travels to an older manifest (Iceberg
        snapshot read) — valid while vacuum still retains its data files
        (``keep_manifests`` is the retention window). ``buckets`` restricts
        the scan to those buckets (partition pruning — exact for any
        key-level question whose keys all map into the set, since a key's
        rows only ever live in its own bucket)."""
        if as_of_seq is not None:
            # seq -1 = the empty table before the first commit (lets
            # changes_between(-1, n) emit the full initial load)
            manifest = (
                self._read_manifest(as_of_seq)
                if as_of_seq >= 0
                else {"buckets": {}, "deltas": {}}
            )
        else:
            manifest = self.current_manifest()
        all_buckets = sorted(
            {int(b) for b in manifest["buckets"]}
            | {int(b) for b in (manifest.get("deltas") or {})}
        )
        if buckets is not None:
            keep = set(int(b) for b in buckets)
            all_buckets = [b for b in all_buckets if b in keep]
        df = self._read_buckets(manifest, all_buckets)
        if df is None:
            df = self.spark.createDataFrame([], self._file_schema())
        df = self._with_all_data_cols(df)
        if manifest.get("deltas"):
            # merge-on-read: resolve base+deltas to one row per key
            df = self._resolve(df)
        # the public column order: keys, data, versions, tombstone flag
        df = df.select(
            *self.key_cols, *self.data_cols, *VERSION_COLS, "__deleted"
        )
        if include_tombstones:
            return df
        return df.filter(~F.col("__deleted")).drop(*VERSION_COLS, "__deleted")

    # ---------------- MERGE ----------------

    def merge(
        self,
        batch: DataFrame,
        batch_id: int,
        lineage_rows: list[tuple[int, int, int, int]] | None = None,
        pre_reduced: bool = False,
        affected_buckets: list[int] | None = None,
        manifest_extra: dict[str, Any] | None = None,
    ) -> MergeStats:
        """Apply one change batch exactly-once-in-effect.

        ``batch`` must carry: key cols, decoded data cols, op, commit_ts,
        start_ts, source_partition. It may be pre-reduced (one row per key);
        pass ``lineage_rows`` [(batch_id, source_partition, resolved_ts,
        n_raw_events)] computed on the raw stream in that case, else lineage
        is derived from ``batch`` itself. ``affected_buckets``, when the
        caller already observed them on an earlier pass, skips the
        discovery; whichever of the two is missing comes from one
        frontier-and-buckets job over ``batch``. Equivalent Iceberg
        statement::

            MERGE INTO t USING net s
              ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
            WHEN MATCHED AND (s.commit_ts, s.start_ts, s.op_order) >
                             (t.commit_ts, t.start_ts, t.op_order)
                 THEN UPDATE SET *           -- deletes update to tombstone
            WHEN NOT MATCHED THEN INSERT *
        """
        manifest = self.current_manifest()
        if batch_id <= manifest["batch_id"]:
            # epoch fence (progress_tracker/changefeed checkpoint analog)
            return MergeStats(batch_id=batch_id, skipped=True)

        # fail loudly on decoded columns the sink schema doesn't know —
        # silently dropping them loses data a DDL added (the reference's
        # DDL sink executes the DDL downstream before such rows arrive,
        # /root/reference/cdc/owner/ddl_manager.go:508-583). The streaming
        # runner evolves data_schema from the registry at the DDL barrier;
        # a direct caller must pre-declare or project.
        # "_"-prefixed columns are engine-internal (lww's _n_events, salt
        # working columns); pre_* is the decoded old image — neither is data
        unknown = [
            c for c in batch.columns
            if c not in ENVELOPE_COLS and c not in self.key_cols
            and c not in self.data_schema
            and not c.startswith(("pre_", "_"))
        ]
        if unknown:
            raise ValueError(
                f"merge batch carries column(s) {unknown} outside the sink "
                f"schema {sorted(self.data_schema)} — evolve data_schema "
                "(data_schema_from_registry) or project them out explicitly"
            )

        if lineage_rows is None or affected_buckets is None:
            # one aggregate job over the batch yields whichever of lineage
            # and buckets the caller did not pass (frontier_and_buckets)
            frontier, found = frontier_and_buckets(batch, self._bucket_col())
            if lineage_rows is None:
                lineage_rows = [(batch_id, *r) for r in frontier]
            if affected_buckets is None:
                affected_buckets = sorted(found)
        new_frontiers, frontier_resolved = self._advance_frontiers(manifest, lineage_rows)
        n_events = int(sum(r[3] for r in lineage_rows))

        def commit(
            buckets: dict[str, str],
            applied: int,
            n_affected: int,
            deltas: dict[str, list[str]] | None = None,
        ) -> MergeStats:
            # every other manifest key (pending store, validator and DLQ
            # references, consumer offsets, gc_below, ...) carries forward
            # inside commit() unless manifest_extra names it
            self.commit(
                manifest,
                {
                    "batch_id": batch_id,
                    # table watermark: min over carried-forward partition
                    # frontiers (see _advance_frontiers)
                    "resolved_ts": frontier_resolved,
                    "frontiers": new_frontiers,
                    "buckets": buckets,
                    "deltas": deltas if deltas is not None else (manifest.get("deltas") or {}),
                    "applied_events": applied,
                    # lineage rides the SAME atomic rename as the merge
                    "lineage": [list(r) for r in lineage_rows],
                    # table schema lives in table metadata (Iceberg-style):
                    # reopening needs no schema argument, and rename
                    # history makes pre-rename files readable forever
                    "data_schema": dict(self.data_schema),
                    "column_history": {
                        k: list(v) for k, v in self.column_history.items() if v
                    },
                    **(manifest_extra or {}),
                },
            )
            if self.auto_vacuum_keep is not None:
                self.vacuum(keep_manifests=self.auto_vacuum_keep)
            return MergeStats(
                batch_id=batch_id,
                skipped=False,
                applied_events=applied,
                affected_buckets=n_affected,
                resolved_ts=frontier_resolved,
            )

        if not lineage_rows and not affected_buckets:
            # an empty batch (no lineage derived from it, and no caller-
            # observed buckets either) advances nothing but the fence. A
            # batch with EMPTY lineage yet known affected buckets is real —
            # a pending-store drain on an empty microbatch: its rows were
            # lineage-counted by the epoch that withheld them, so they merge
            # below with zero new lineage.
            return commit(dict(manifest["buckets"]), 0, 0)

        # net effect per key within the batch (sorter + compactor);
        # skipped when the pipeline already reduced to one row per key
        net = self._with_all_data_cols(with_op_order(batch))
        if not pre_reduced:
            net = lww_latest(net, self.key_cols)
        # cast to the file schema, so every file matches what reads expect
        versions = {"commit_ts": "__commit_ts", "start_ts": "__start_ts", "op_order": "__op_order"}
        net = net.select(
            *[F.col(c).cast(self.key_schema[c]).alias(c) for c in self.key_cols],
            *[F.col(c).cast(t).alias(c) for c, t in self.data_schema.items()],
            *[F.col(c).cast(FILE_VERSION_SCHEMA[v]).alias(v) for c, v in versions.items()],
            (F.col("op") == "D").alias("__deleted"),
        ).withColumn("bucket", self._bucket_col())

        affected = sorted(set(int(b) for b in affected_buckets))
        if not affected:
            # empty net batch (e.g. everything filtered upstream while
            # lineage was computed on the raw stream): frontier/lineage
            # still advance, no data write
            return commit(dict(manifest["buckets"]), n_events, 0)

        if self.mode == "mor":
            # merge-on-read: no reconcile read — append this epoch's net
            # rows as per-bucket delta files (LSM level-0 write). Replays
            # rewrite the same batch-id dir (idempotent); the fence above
            # already skips committed batch ids.
            data_rel = f"delta/b{batch_id}"
            (
                net.repartition(min(len(affected), 200), "bucket")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(f"{self.root}/{data_rel}")
            )
            new_deltas = {
                k: list(v) for k, v in (manifest.get("deltas") or {}).items()
            }
            for b in affected:
                rel = f"{data_rel}/bucket={b}"
                if os.path.exists(f"{self.root}/{rel}"):
                    new_deltas.setdefault(str(b), []).append(rel)
            stats = commit(
                dict(manifest["buckets"]), n_events, len(affected), deltas=new_deltas
            )
            if self.auto_compact_deltas is not None and any(
                len(v) >= self.auto_compact_deltas for v in new_deltas.values()
            ):
                self.compact()
            return stats

        existing = self._read_buckets(manifest, affected)
        if existing is not None:
            existing = self._with_all_data_cols(existing).withColumn(
                "bucket", self._bucket_col()
            )
            # bucket-local reconcile: one exchange on bucket, winners leave
            # already bucket-partitioned (see _reconcile_by_bucket — this
            # replaced a key-shuffled SortAggregate PLUS a second full
            # shuffle of the winners before the bucketed write)
            winners = self._reconcile_by_bucket(existing.unionByName(net))
            write_src = winners
        else:
            # fresh buckets: nothing to reconcile against — the (already
            # per-key-unique) net rows ARE the winners; skips one
            # shuffle+reduce on first touch. repartition on bucket so each
            # write task owns whole buckets → one file per bucket instead
            # of n_tasks x n_buckets small files
            write_src = net.repartition(min(len(affected), 200), "bucket")

        data_rel = f"data/b{batch_id}"
        out = f"{self.root}/{data_rel}"
        (
            write_src.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out)
        )

        new_buckets = dict(manifest["buckets"])
        for b in affected:
            bucket_dir = f"{data_rel}/bucket={b}"
            if os.path.exists(f"{self.root}/{bucket_dir}"):
                new_buckets[str(b)] = bucket_dir
        # a COW rewrite folds any outstanding deltas of the affected
        # buckets into the new base (the read above included them)
        remaining_deltas = {
            k: list(v)
            for k, v in (manifest.get("deltas") or {}).items()
            if int(k) not in set(affected)
        }
        return commit(new_buckets, n_events, len(affected), deltas=remaining_deltas)

    def changed_buckets(self, from_seq: int, to_seq: int) -> list[int]:
        """Buckets whose base-file or delta-file references differ between
        two manifests — a driver-side diff of two tiny JSON maps. A key's
        rows only ever live in its own bucket, so any row-level change
        between the snapshots is confined to this set (a compaction/GC
        rewrite may add buckets whose rows didn't change — extra read,
        never a missed change)."""
        def _load(seq: int) -> dict[str, Any]:
            return self._read_manifest(seq) if seq >= 0 else {"buckets": {}, "deltas": {}}

        mf, mt = _load(from_seq), _load(to_seq)

        def refs(m: dict[str, Any], b: int) -> tuple:
            return (
                m.get("buckets", {}).get(str(b)),
                tuple((m.get("deltas") or {}).get(str(b), ())),
            )

        all_b = (
            {int(b) for b in mf.get("buckets", {})}
            | {int(b) for b in (mf.get("deltas") or {})}
            | {int(b) for b in mt.get("buckets", {})}
            | {int(b) for b in (mt.get("deltas") or {})}
        )
        return sorted(b for b in all_b if refs(mf, b) != refs(mt, b))

    def changes_between(self, from_seq: int, to_seq: int | None = None) -> DataFrame:
        """Change data feed (Iceberg incremental read / Delta CDF / Paimon
        changelog analog): the row-level changes between two committed
        snapshots, as change events ready to feed ANOTHER changefeed —
        op I (new or changed key, new image, versioned at its commit) and
        op D (key deleted). Cost ∝ CHANGED buckets, not table size: the two
        manifests' bucket/delta reference maps are diffed driver-side
        (``changed_buckets``) and both time-travel reads and the key join
        are restricted to that set — the Iceberg incremental-read shape
        (reference: the storage sink likewise ships only changed files,
        /root/reference/cdc/sink/dmlsink/cloudstorage/
        cloud_storage_dml_sink.go:74-237). Valid while vacuum retains
        ``from_seq``'s files."""
        to_seq = to_seq if to_seq is not None else self.current_manifest()["seq"]
        touched = self.changed_buckets(from_seq, to_seq)
        old = self.snapshot(include_tombstones=True, as_of_seq=from_seq, buckets=touched)
        new = self.snapshot(include_tombstones=True, as_of_seq=to_seq, buckets=touched)
        o = old.select(
            *self.key_cols,
            *[F.col(c).alias(f"_o_{c}") for c in (*self.data_cols, *VERSION_COLS, "__deleted")],
            F.lit(True).alias("_in_o"),
        )
        n = new.select(
            *self.key_cols, *self.data_cols, *VERSION_COLS, "__deleted",
            F.lit(True).alias("_in_n"),
        )
        j = n.join(o, on=list(self.key_cols), how="full_outer")
        changed = (
            F.col("_in_o").isNull()
            | ~F.col("__commit_ts").eqNullSafe(F.col("_o___commit_ts"))
            | ~F.col("__start_ts").eqNullSafe(F.col("_o___start_ts"))
            | ~F.col("__op_order").eqNullSafe(F.col("_o___op_order"))
        )
        live_now = F.col("_in_n").isNotNull() & ~F.col("__deleted")
        was_live = F.col("_in_o").isNotNull() & ~F.col("_o___deleted")
        return (
            j.filter(changed)
            # emit only externally-visible transitions (live-state change)
            .filter(live_now | was_live)
            .select(
                F.when(live_now, F.lit("I")).otherwise(F.lit("D")).alias("op"),
                F.coalesce(F.col("__commit_ts"), F.col("_o___commit_ts")).alias("commit_ts"),
                F.coalesce(F.col("__start_ts"), F.col("_o___start_ts")).alias("start_ts"),
                *self.key_cols,
                *self.data_cols,
            )
        )

    def compact(self) -> int:
        """Fold outstanding delta files back into the base (the LSM
        compaction / Iceberg rewrite_data_files analog): per-key resolve
        over base+deltas of the delta-bearing buckets, rewrite those
        buckets, clear their delta references in one atomic manifest swap.
        Cost ∝ the delta-bearing buckets, not the table. Returns the number
        of buckets compacted."""
        manifest = self.current_manifest()
        deltas = manifest.get("deltas") or {}
        if not deltas:
            return 0
        affected = sorted(int(b) for b in deltas)
        df = self._read_buckets(manifest, affected)
        # NOTE (r6): the bucket-local Arrow resolve used by merge() was
        # measured SLOWER here (compact 2.6-3.5s -> 4.0-4.3s): compaction
        # input is many delta generations per key, where max_by's map-side
        # partial aggregation genuinely shrinks the shuffle; the per-key-
        # unique merge reconcile has no such reduction to lose. Kept on the
        # partial-aggregating path deliberately.
        resolved = (
            self._resolve(self._with_all_data_cols(df))
            .withColumn("bucket", self._bucket_col())
        )
        data_rel = f"data/c{manifest['seq'] + 1}"
        (
            resolved.repartition(min(len(affected), 200), "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{self.root}/{data_rel}")
        )
        new_buckets = dict(manifest["buckets"])
        for b in affected:
            rel = f"{data_rel}/bucket={b}"
            if os.path.exists(f"{self.root}/{rel}"):
                new_buckets[str(b)] = rel
        self.commit(manifest, {"buckets": new_buckets, "deltas": {}, "compacted": affected})
        if self.auto_vacuum_keep is not None:
            self.vacuum(keep_manifests=self.auto_vacuum_keep)
        return len(affected)

    # ---------------- pending store (gated epochs) ----------------

    def read_pending(self) -> DataFrame | None:
        """Events a gated epoch withheld (plans/pipeline.py apply_epoch with
        ``strict_frontier`` or a ``version_gate``). The manifest references
        the current pending generation; each gated epoch rewrites it in full
        (it holds at most one gate-lag's worth of events)."""
        rel = self.current_manifest().get("pending")
        if not rel or not os.path.exists(f"{self.root}/{rel}"):
            return None
        return self.spark.read.parquet(f"{self.root}/{rel}")

    def write_pending(self, df: DataFrame, batch_id: int) -> str:
        """Persist the new pending generation BEFORE the manifest commit that
        references it (a crash in between leaves an orphan dir the next
        vacuum removes). Returns the manifest-relative path, also for an
        empty ``df``: the write runs no count, and an empty generation is a
        valid reference."""
        rel = f"pending/b{batch_id}"
        df.write.mode("overwrite").parquet(f"{self.root}/{rel}")
        # parquet always writes a _SUCCESS + footer even for 0 rows; an
        # empty pending generation is still a valid (empty) reference
        return rel

    # ---------------- bootstrap (DM full-load analog) ----------------

    def bootstrap(self, snapshot: DataFrame, as_of_ts: int, batch_id: int = 0) -> MergeStats:
        """DM-style full load: seed the table from an existing snapshot taken
        at ``as_of_ts``, then stream the binlog from that ts (the dump/load →
        incremental switchover in /root/reference/dm/: loadunit then syncer
        starting at the dump's checkpoint). Every snapshot row merges as an
        INSERT versioned at as_of_ts, so change events with commit_ts >
        as_of_ts win over it and redelivered events below it lose — the
        switchover needs no gap or overlap bookkeeping beyond the ts."""
        batch = snapshot.select(
            F.lit("I").alias("op"),
            F.lit(as_of_ts).cast("long").alias("commit_ts"),
            F.lit(as_of_ts - 1).cast("long").alias("start_ts"),
            F.lit(0).cast("int").alias("source_partition"),
            *[F.col(c) for c in self.key_cols],
            *[F.col(c) for c in self.data_cols if c in snapshot.columns],
        )
        return self.merge(batch, batch_id=batch_id)

    # ---------------- maintenance ----------------

    def lag(self) -> int | None:
        """Checkpoint-lag analog (ticdc_owner_checkpoint_ts_lag): commit-ts
        distance between the newest event ever applied and the table's
        resolved watermark. None before the first commit."""
        m = self.current_manifest()
        fr = m.get("frontiers", {})
        if not fr or m.get("resolved_ts") is None:
            return None
        return max(fr.values()) - m["resolved_ts"]

    def _read_history(self) -> dict[str, Any]:
        """The compacted manifest history: lineage/epoch rows of manifests
        folded by ``vacuum`` (one small JSON regardless of how many epochs
        ever ran — 10^6 streaming epochs stay one file + keep_manifests
        JSONs, not 10^6 driver-side reads)."""
        try:
            with open(f"{self.root}/_manifest/_history.json") as f:
                return json.load(f)
        except FileNotFoundError:
            return {"lineage": [], "epochs": [], "folded_through_seq": -1}

    def lineage(self) -> DataFrame:
        """Per-epoch per-source-partition applied counts + frontiers — the
        compacted history plus the still-live manifests (each committed
        atomically with its merge)."""
        rows = [tuple(r) for r in self._read_history()["lineage"]]
        for seq in self._manifest_seqs():
            for r in self._read_manifest(seq).get("lineage", []):
                rows.append(tuple(r))
        return self.spark.createDataFrame(rows, LINEAGE_SCHEMA)

    def epochs(self) -> DataFrame:
        """The fencing/epochs table (FIXTURES.md §4) — compacted history +
        live manifests."""
        rows = [tuple(r) for r in self._read_history()["epochs"]]
        for seq in self._manifest_seqs():
            m = self._read_manifest(seq)
            rows.append((int(m["batch_id"]), m.get("resolved_ts"), m.get("committed_at")))
        return self.spark.createDataFrame(
            rows, "batch_id LONG, resolved_ts LONG, committed_at DOUBLE"
        )

    def gc_tombstones(self, below_resolved_ts: int) -> int:
        """Drop tombstones with commit_ts < the global resolved-ts — the
        source contract (kv.go:58-66) promises no further events below it,
        so a delete there can never be out-raced. Rewrites every bucket
        (run rarely, like Iceberg's rewrite_data_files). Returns the number
        of tombstones actually dropped."""
        manifest = self.current_manifest()
        all_buckets = sorted(
            {int(b) for b in manifest["buckets"]}
            | {int(b) for b in (manifest.get("deltas") or {})}
        )
        df = self._read_buckets(manifest, all_buckets)
        if df is None:
            return 0
        df = self._with_all_data_cols(df)
        if manifest.get("deltas"):
            # MOR: resolve first — dropping a delta tombstone while an
            # older base row survives would resurrect the dead row
            df = self._resolve(df)
        dead = F.col("__deleted") & (F.col("__commit_ts") < below_resolved_ts)
        df = df.persist()
        try:
            removed = df.filter(dead).count()
            if removed == 0:
                return 0
            keep = df.filter(~dead).withColumn("bucket", self._bucket_col())
            data_rel = f"data/gc{manifest['seq'] + 1}"
            keep.write.mode("overwrite").partitionBy("bucket").parquet(
                f"{self.root}/{data_rel}"
            )
        finally:
            df.unpersist()
        new_buckets = {}
        for b in all_buckets:
            bucket_dir = f"{data_rel}/bucket={b}"
            if os.path.exists(f"{self.root}/{bucket_dir}"):
                new_buckets[str(b)] = bucket_dir
        # a GC rewrite folds deltas like a compact; commit() keeps gc_below
        # monotone, so a GC below an earlier horizon never lowers it
        self.commit(
            manifest,
            {"buckets": new_buckets, "deltas": {}, "gc_below": below_resolved_ts},
        )
        return removed

    def vacuum(self, keep_manifests: int = 2) -> int:
        """Delete data files no longer referenced by the newest
        ``keep_manifests`` manifests (Iceberg expire_snapshots analog) —
        bounds the data directory across streaming epochs — and FOLD the
        expired manifests' lineage/epoch rows into ``_history.json``
        before deleting their JSON files, so manifest metadata stays O(
        keep_manifests) files no matter how many epochs ever ran (their
        time travel was already invalidated by the data-file removal).
        Returns the number of bucket directories removed."""
        seqs = self._manifest_seqs()
        live = seqs[-keep_manifests:] if keep_manifests > 0 else seqs[-1:]
        live_set = set(live)
        to_fold = [s for s in seqs if s not in live_set]
        if to_fold:
            hist = self._read_history()
            # already-folded seqs (a crash between the history write and
            # the removals below leaves their files behind) are only
            # removed, never re-appended
            fold_new = [s for s in to_fold if s > hist.get("folded_through_seq", -1)]
            if fold_new:
                for seq in fold_new:
                    m = self._read_manifest(seq)
                    hist["lineage"].extend(list(r) for r in m.get("lineage", []))
                    hist["epochs"].append(
                        [int(m["batch_id"]), m.get("resolved_ts"), m.get("committed_at")]
                    )
                hist["folded_through_seq"] = max(fold_new)
                tmp = f"{self.root}/_manifest/_tmp.history.json"
                with open(tmp, "w") as f:
                    json.dump(hist, f)
                os.rename(tmp, f"{self.root}/_manifest/_history.json")
            for seq in to_fold:
                try:
                    os.remove(f"{self.root}/_manifest/{seq}.json")
                except FileNotFoundError:
                    pass
        # one pass over the live manifests collects EVERY reference kind —
        # data buckets, MOR deltas, pending store, validator captures/
        # pending-expected, DLQ batches — so a future manifest-referenced
        # store has exactly one place to register for GC protection
        referenced: set[str] = set()
        pending_refs: set[str] = set()
        validator_refs: set[str] = set()
        dlq_refs: set[str] = set()
        for seq in live:
            m = self._read_manifest(seq)
            referenced.update(m.get("buckets", {}).values())
            for rels in (m.get("deltas") or {}).values():
                referenced.update(rels)
            if m.get("pending"):
                pending_refs.add(m["pending"])
            validator_refs.update(m.get("validator_nets") or [])
            if m.get("validator_pending"):
                validator_refs.add(m["validator_pending"])
            dlq_refs.update(m.get("dlq") or [])
        removed = 0
        for top in ("data", "delta"):
            data_root = f"{self.root}/{top}"
            if not os.path.isdir(data_root):
                continue
            for batch_dir in os.listdir(data_root):
                for bucket_dir in os.listdir(f"{data_root}/{batch_dir}"):
                    rel = f"{top}/{batch_dir}/{bucket_dir}"
                    if bucket_dir.startswith("bucket=") and rel not in referenced:
                        shutil.rmtree(f"{self.root}/{rel}", ignore_errors=True)
                        removed += 1
                # remove a batch dir once no bucket remains (stray
                # _SUCCESS / committed-markers don't keep it alive)
                if not any(
                    d.startswith("bucket=")
                    for d in os.listdir(f"{data_root}/{batch_dir}")
                ):
                    shutil.rmtree(f"{data_root}/{batch_dir}", ignore_errors=True)
        pend_root = f"{self.root}/pending"
        if os.path.isdir(pend_root):
            for d in os.listdir(pend_root):
                if f"pending/{d}" not in pending_refs:
                    shutil.rmtree(f"{pend_root}/{d}", ignore_errors=True)
                    removed += 1
        # validator stores: captured nets + pending-expected generations not
        # referenced by any live manifest (consumed by a validation epoch,
        # or orphaned by a crash before their manifest committed)
        for sub in ("net", "pending"):
            vroot = f"{self.root}/_validator/{sub}"
            if not os.path.isdir(vroot):
                continue
            for d in os.listdir(vroot):
                if f"_validator/{sub}/{d}" not in validator_refs:
                    shutil.rmtree(f"{vroot}/{d}", ignore_errors=True)
                    removed += 1
        dlq_root = f"{self.root}/_dlq"
        if os.path.isdir(dlq_root):
            for d in os.listdir(dlq_root):
                if f"_dlq/{d}" not in dlq_refs:
                    shutil.rmtree(f"{dlq_root}/{d}", ignore_errors=True)
                    removed += 1
        return removed
