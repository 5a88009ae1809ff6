"""Structured Streaming changefeed runner — the capture/owner/processor loop.

Reference: the owner ticks per-changefeed, advancing a persisted checkpoint
(/root/reference/cdc/owner/changefeed.go:269-313, etcd-persisted); processors
pull/sort/mount/sink assigned spans (/root/reference/cdc/processor/
processor.go:497). Spark rebuild: ONE streaming query —

    spark.readStream (file source over the change-event log;
                      maxFilesPerTrigger = backpressure quota analog,
                      /root/reference/pkg/config/server_config.go:48)
      .foreachBatch(_process_batch)     # → plans/pipeline.apply_epoch
      .option("checkpointLocation", …)  # source-offset checkpoint (etcd analog)
      .trigger(AvailableNow | processingTime)

Exactly-once = SS offset tracking (each file delivered to exactly one
batch_id, batches replayed with the SAME id after crash) + CowTable's
batch_id fence + version-conditional MERGE idempotence. Restart-from-
checkpoint therefore re-delivers the in-flight epoch and the fence/merge
absorbs it — the redo-log-free recovery argued in SURVEY.md §2.6.

DDL events travel IN the change stream (op='DDL', payload = the new schema's
JSON) — the DDL puller decodes DDL jobs from the same log
(/root/reference/cdc/puller/ddl_puller.go:190-302) and the barrier holds the
checkpoint until the DDL is applied (/root/reference/cdc/owner/
barrier.go:22-47). Here the barrier is the epoch itself: each microbatch
first registers its DDLs (registry append), then decodes/merges its DMLs —
post-DDL rows in the same or later epochs decode with the new version. A
DML whose schema_version is not yet registered fails loudly (the reference
equivalently blocks until schema resolved-ts catches up,
schema_storage.go:152-178) rather than silently NULLing its payload.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiflow_spark.plans.pipeline import apply_epoch
from tiflow_spark.sinks.cow_table import CowTable
from tiflow_spark.sources.registry import SchemaVersion

CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("commit_ts", T.LongType()),
        T.StructField("start_ts", T.LongType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("schema_version", T.LongType()),
        T.StructField("payload", T.StringType()),
        T.StructField("pre_payload", T.StringType()),
        T.StructField("source_partition", T.IntegerType()),
    ]
)

# Multi-table feeds carry a routing column (event_router.go:91-132 analog).
CHANGE_EVENT_SCHEMA_MULTI = T.StructType(
    CHANGE_EVENT_SCHEMA.fields + [T.StructField("table_name", T.StringType())]
)


@dataclass
class Changefeed:
    """One replication job: change-event log dir → CowTable(s).

    Schema evolution, three mechanisms (all barrier-at-epoch-boundary):
    - static ``registry``;
    - ``registry_path``: reload the persisted registry every epoch — an
      out-of-band DDL lands as a registry append between epochs;
    - ``ddl_in_stream=True``: op='DDL' rows in the log itself carry the new
      schema JSON; each epoch registers them before decoding its DMLs (the
      in-band DDL puller + barrier analog — the normal CDC case).

    Multi-table: pass ``tables={name: (CowTable, registry)}`` and events
    carrying a ``table_name`` column; rows route to their table's pipeline
    (per-table sinks/progress, reference event_router.go:91-132).
    """

    spark: SparkSession
    events_dir: str
    checkpoint_dir: str
    table: CowTable | None = None
    registry: list[SchemaVersion] | None = None
    max_files_per_trigger: int = 4
    decoder: str = "jvm"
    registry_path: str | None = None
    ddl_in_stream: bool = False
    # commit-fence mode: withhold events above the global resolved-ts to the
    # table's pending store (reference engine.go:103-113); see apply_epoch
    strict_frontier: bool = False
    # replication start point (changefeed create --start-ts; reference
    # cli_changefeed_create / resumeChangefeed with checkpoint ts): events
    # below it are skipped at the source — starting mid-log replicates only
    # history from that ts on, exactly the reference semantic
    start_ts: int | None = None
    tables: dict[str, tuple[CowTable, list[SchemaVersion]]] | None = None
    table_col: str = "table_name"
    # DM shard-merge routing: applied to table_name before table dispatch
    route_rules: tuple | None = None
    # sharding-DDL coordination for route_rules-merged targets:
    # True = PESSIMISTIC (dm/pkg/shardddl/pessimism/lock.go): rows whose
    # schema_version exceeds min-over-shards(delivered version) are withheld
    # to the target's pending store until every shard executed the DDL;
    # per-shard version frontiers persist in the target's manifest.
    # False = OPTIMISTIC (dm/pkg/shardddl/optimism): no gate — every row
    # decodes against its own schema_version and the sink schema evolves to
    # the registered union immediately, so lagging shards' old-schema rows
    # coexist with leading shards' new-schema rows (DM's compatible-
    # superset merge is exactly the mounter's per-version decode + NULL
    # backfill here).
    shard_ddl_barrier: bool = True
    _shard_vers: dict = field(default_factory=dict)  # target -> {shard: ver}
    # online-DDL tool (gh-ost/pt-osc) handling: drop trash-table events and
    # ghost-table DMLs, route ghost-table DDLs to the real table (see
    # operators/filters.apply_online_ddl). Multi-table feeds only.
    online_ddl: bool = False
    event_schema: T.StructType | None = None
    # continuous data validation (reference dm/syncer/data_validator.go:
    # validate rows DURING replication, not just post-hoc): every N
    # committed batches, chunk-diff the settled region (commit_ts <= global
    # resolved watermark) of the buckets changed since the last validation
    # against the source log's expected state; findings are recorded in the
    # table manifest (atomic, restart-visible) and validation_log.
    # 0 = off (use verify_changefeed for a full post-hoc check).
    validate_every: int = 0
    validation_log: list = field(default_factory=list)  # (seq, dict)
    _batches_since_validation: int = 0
    # DM handle-error analog (/root/reference/dm/syncer/handle_error.go:
    # skip/replace/inject resolution for binlog events the syncer cannot
    # apply): instead of one poisoned event failing the whole epoch loudly
    # (the default — correct but it wedges a 10^10-event feed on one bad
    # row), quarantine undecodable / unregistered-version / null-key rows
    # into a manifest-referenced dead-letter store and keep replicating.
    # Resolve with dlq_resolve("skip") or dlq_resolve("replace", corrected).
    dead_letter: bool = False
    batch_log: list = field(default_factory=list)  # (batch_id, [name,] MergeStats)
    # changefeed.toml surface (config.load_changefeed_config): the table
    # filter and event-filter rules apply IN-FEED — op/txn/DDL ignores on
    # the raw stream (before DDL registration, so 'all ddl' ignores skip
    # schema evolution too, the reference's ddl-filter semantics), value
    # exprs on a decode projection after the DLQ split (an undecodable row
    # can't be expr-filtered; it quarantines first). Dispatchers/column
    # selectors/protocol feed the MQ path via config.mq_kwargs. For
    # single-table feeds, ``config_table`` is the identity the config's
    # matchers resolve against; routed multi-table feeds resolve
    # event-filter matchers on the post-route target name and the table
    # filter on the upstream name (DM filters upstream of routing).
    config: object | None = None
    config_table: str = "transcripts"

    def __post_init__(self) -> None:
        if self.config is not None and self.tables is None:
            if self.config.table_filter.should_ignore(self.config_table):
                raise ValueError(
                    f"config's [filter] rules exclude {self.config_table!r}"
                    " — the feed's only table; an always-empty changefeed "
                    "is a config error"
                )
        if self.tables is not None and self.registry_path is not None:
            # one persisted registry shared by N tables would interleave
            # every table's DDL versions into every other table's registry
            # (_apply_ddls appends per-table into the single path) — each
            # table owns its registry in `tables={name: (table, registry)}`
            raise ValueError(
                "tables= cannot be combined with a single registry_path — "
                "pass each table's registry in the tables mapping instead"
            )

    def _current_registry(self) -> list[SchemaVersion]:
        if self.registry_path is not None:
            from tiflow_spark.sources.registry import load_registry

            return load_registry(self.spark, self.registry_path)
        assert self.registry is not None
        return self.registry

    def _apply_ddls(
        self, batch: DataFrame, registry: list[SchemaVersion], strict: bool = True
    ) -> tuple[list[SchemaVersion], DataFrame]:
        """Register in-stream DDLs (ts order, redelivery-safe), verify every
        DML schema_version is decodable, return (registry, DML-only batch).
        One aggregate job over the (persisted) batch collects both.
        ``strict=False`` (dead-letter mode) skips the unknown-version raise —
        the DLQ split quarantines those rows instead of wedging the feed."""
        meta = batch.agg(
            F.collect_set(
                F.when(
                    F.col("op") == "DDL",
                    F.struct("commit_ts", "schema_version", "payload"),
                )
            ).alias("ddls"),
            F.collect_set("schema_version").alias("versions"),
        ).first()
        known = {v.schema_version for v in registry}
        for r in sorted(meta["ddls"], key=lambda r: (r["commit_ts"], r["schema_version"])):
            ver = int(r["schema_version"])
            if ver in known:
                continue  # at-least-once redelivery of the DDL event
            parsed = json.loads(r["payload"])
            if "schema" in parsed and "type" not in parsed:
                # extended DDL payload: {"schema": <struct json>,
                # "renames": [[new, old], ...]} — RENAME COLUMN carries the
                # mapping so renamed columns keep pre-DDL rows' data
                sch = T.StructType.fromJson(parsed["schema"])
                renames = tuple(tuple(p) for p in parsed.get("renames", []))
            else:
                sch = T.StructType.fromJson(parsed)
                renames = ()
            new = SchemaVersion(ver, int(r["commit_ts"]) + 1, sch, renames=renames)
            if self.registry_path is not None:
                from tiflow_spark.sources.registry import add_version

                registry = add_version(self.spark, self.registry_path, new)
            else:
                registry = sorted(registry + [new], key=lambda v: v.schema_version)
            known.add(ver)
        missing = {int(v) for v in meta["versions"] if v is not None} - known
        if missing and strict:
            raise ValueError(
                f"batch carries schema_version(s) {sorted(missing)} with no "
                "registered schema and no in-batch DDL — the DDL event must "
                "arrive in the log no later than the first row of its version "
                "(reference blocks on schema resolved-ts, schema_storage.go:152)"
            )
        return registry, batch.filter(F.col("op") != "DDL")

    def _evolve_sink_schema(
        self, table: CowTable, registry: list[SchemaVersion]
    ) -> None:
        """Sink-side DDL execution (ddl_manager.go:508-583 + the MySQL DDL
        sink analog): when the registry is the feed's source of schema truth
        (in-stream DDLs or a reloaded registry_path), the sink's column set
        follows the post-barrier registry — an added column lands in the
        very epoch its DDL arrived, a dropped one leaves the snapshot.
        Static-registry feeds keep the constructed data_schema (the caller
        owns it: projection sinks stay possible, and merge fails loudly on
        a mismatch instead of dropping data)."""
        if not (self.ddl_in_stream or self.registry_path is not None):
            return
        from tiflow_spark.sinks.cow_table import data_schema_from_registry
        from tiflow_spark.sources.registry import field_source_name, latest_schema

        new_schema = data_schema_from_registry(registry)
        if new_schema != table.data_schema:
            table.data_schema = new_schema
        # rename history (newest-first older names per current column) so
        # the sink can read bucket files written before a RENAME without
        # rewriting them (cow_table._with_all_data_cols)
        ordered = sorted(registry, key=lambda v: -v.schema_version)
        hist: dict[str, list[str]] = {}
        for f in latest_schema(registry).fields:
            names: list[str] = []
            for v in ordered:
                src = field_source_name(registry, f.name, v)
                if src and src != f.name and src not in names:
                    names.append(src)
            if names:
                hist[f.name] = names
        if hist != table.column_history:
            table.column_history = hist

    def _shard_barrier(
        self, name: str, tbl: CowTable, shard_maxima: list | None
    ) -> tuple[int | None, dict | None]:
        """Advance this target's per-shard schema_version frontiers with the
        current batch and return (version_gate, manifest_extra). The gate —
        min over shards of the highest version each shard has delivered —
        is the pessimistic shard-DDL lock's effect: a post-DDL row waits
        until the slowest shard has executed the same DDL. None until a
        second shard appears (a single-shard target needs no coordination).
        Frontiers are carried in the target's manifest (restart-safe) and
        only ever advance."""
        if shard_maxima is None:
            return None, None
        if name not in self._shard_vers:
            self._shard_vers[name] = {
                k: int(v)
                for k, v in tbl.current_manifest().get("shard_vers", {}).items()
            }
        state = self._shard_vers[name]
        for r in shard_maxima:
            if r[self.table_col] == name and r["v"] is not None:
                shard = str(r["__shard"])
                state[shard] = max(state.get(shard, 0), int(r["v"]))
        gate = min(state.values()) if len(state) > 1 else None
        return gate, {"shard_vers": dict(state)}

    def _dead_letter_split(
        self, batch: DataFrame, registry: list[SchemaVersion],
        table: CowTable, batch_id: int,
    ) -> tuple[DataFrame, dict | None]:
        """Quarantine rows the pipeline cannot apply — unregistered
        schema_version, JSON-undecodable payload, NULL key — into
        ``{table}/_dlq/`` and return (clean batch, manifest-extra update).
        The DLQ reference rides the epoch's atomic manifest commit, so a
        restart still sees the quarantined rows. Quarantined rows neither
        advance nor hold the frontier; a later ``replace`` re-applies them
        at their original commit_ts and the version-conditional merge
        absorbs the ordering."""
        from functools import reduce as _reduce

        known = [v.schema_version for v in registry]
        not_ddl = F.col("op") != "DDL"
        bad_version = not_ddl & (
            F.col("schema_version").isNull()
            | ~F.col("schema_version").isin(known)
        )
        null_key = not_ddl & _reduce(
            lambda a, b: a | b, [F.col(k).isNull() for k in table.key_cols]
        )
        # try_parse_json: NULL for malformed JSON regardless of schema
        # (from_json in PERMISSIVE mode returns an all-NULL struct instead,
        # which is indistinguishable from a legitimately-sparse payload)
        bad_payload = (
            F.col("op").isin("I", "U")
            & F.col("payload").isNotNull()
            & F.try_parse_json("payload").isNull()
        )
        reason = (
            F.when(bad_version, "unregistered_schema_version")
            .when(null_key, "null_key")
            .when(bad_payload, "undecodable_payload")
        )
        poisoned = reason.isNotNull()
        # one small job over the (caller-persisted) batch; dead_letter is
        # opt-in, so feeds that can't see poison pay nothing
        if batch.filter(poisoned).limit(1).count() == 0:
            return batch, None
        m = table.current_manifest()
        rel = f"_dlq/s{int(m['seq']) + 1}_b{batch_id}"
        (
            batch.filter(poisoned)
            .withColumn("reason", reason)
            .write.mode("overwrite")
            .parquet(f"{table.root}/{rel}")
        )
        return (
            batch.filter(~poisoned),
            {"dlq": list(m.get("dlq") or []) + [rel]},
        )

    def _filter_raw(self, batch: DataFrame, rules: list) -> DataFrame:
        """The raw-evaluable parts of the config's event filters: op kinds
        (incl. 'DDL') and ignore-txn-start-ts. No decode needed."""
        drop = F.lit(False)
        for r in rules:
            if r.ignore_ops:
                drop = drop | F.col("op").isin(*r.ignore_ops)
            if r.ignore_txn_start_ts:
                drop = drop | F.col("start_ts").isin(*r.ignore_txn_start_ts)
        return batch.filter(~drop)

    def _filter_value_exprs(
        self, batch: DataFrame, registry: list[SchemaVersion], rules: list
    ) -> DataFrame:
        """The decoded-row predicates of the config's event filters,
        evaluated over a decode PROJECTION of the raw batch (decode_payload
        keeps every original column, so the filtered frame projects back to
        the raw shape and apply_epoch decodes as usual — Catalyst collapses
        the two decodes into one codegen stage over the persisted batch)."""
        import dataclasses

        from tiflow_spark.functions.decode import (
            decode_payload, decode_pre_image,
        )
        from tiflow_spark.operators.filters import keep_predicate

        expr_rules = [
            dataclasses.replace(
                r, ignore_ops=frozenset(), ignore_txn_start_ts=frozenset()
            )
            for r in rules
            if r.ignore_insert_expr or r.ignore_update_new_expr
            or r.ignore_update_old_expr or r.ignore_delete_expr
        ]
        if not expr_rules:
            return batch
        aug = decode_payload(batch, registry)
        if any(r.ignore_update_old_expr for r in expr_rules):
            aug = decode_pre_image(aug, registry)
        keep = F.lit(True)
        for r in expr_rules:
            keep = keep & keep_predicate(r)
        return aug.filter(keep).select(*batch.columns)

    def _targets(
        self, batch: DataFrame
    ) -> list[tuple[str, CowTable | None, list[SchemaVersion], DataFrame]]:
        """``(name, table, registry, rows)`` per sink target: a single-table
        feed has one, ``config_table``, taking the whole batch (the reference
        drives every table span through one table_sink_worker)."""
        if self.tables is None:
            return [(self.config_table, self.table, self._current_registry(), batch)]
        return [
            (name, tbl, reg, batch.filter(F.col(self.table_col) == name))
            for name, (tbl, reg) in sorted(self.tables.items())
        ]

    def _set_registry(self, name: str, registry: list[SchemaVersion]) -> None:
        """Keep a target's post-DDL registry for the next epoch (a
        ``registry_path`` feed reloads its persisted registry instead)."""
        if self.tables is not None:
            self.tables[name] = (self.tables[name][0], registry)
        elif self.registry_path is None:
            self.registry = registry

    def _route(self, batch: DataFrame) -> tuple[DataFrame, list | None]:
        """The multi-table prelude: table filter, binlog filter, online DDL
        and shard-merge routing. Returns (batch, per-(target, shard) max
        schema_version rows for the sharding-DDL barrier, or None). A
        single-table feed has no prelude."""
        if self.tables is None:
            return batch, None
        if self.config is not None:
            # upstream (pre-route) names, DM block-allow semantics;
            # TableFilter.apply resolves driver-side over the small distinct
            # table set (no-op for a match-all filter). DDL rows of an
            # excluded table drop with it.
            batch = self.config.table_filter.apply(batch, col=self.table_col)
        binlog_rules = (
            getattr(self.config, "binlog_rules", ())
            if self.config is not None else ()
        )
        if binlog_rules:
            # DM's ordered Do/Ignore ladder runs on UPSTREAM table names,
            # before shard-merge routing (dm/syncer: binlog filter precedes
            # the router)
            from tiflow_spark.operators.filters import apply_binlog_filter

            batch = apply_binlog_filter(batch, binlog_rules, table_col=self.table_col)
        if self.online_ddl:
            from tiflow_spark.operators.filters import apply_online_ddl

            batch = apply_online_ddl(batch, table_col=self.table_col)
        if not self.route_rules:
            return batch, None
        from tiflow_spark.operators.filters import route_tables

        # remember the pre-route (shard) name — the sharding-DDL barrier
        # tracks each shard's delivered schema_version
        batch = batch.withColumn("__shard", F.col(self.table_col))
        batch = route_tables(batch, self.route_rules, self.table_col)
        if not self.shard_ddl_barrier:
            return batch, None
        # one tiny agg over the persisted batch: per (target, shard) max
        # delivered version (DDL rows included — a shard "executes" the DDL
        # when its event arrives)
        vers_src = batch
        if self.dead_letter:
            # quarantine-bound rows must NOT advance the barrier: an
            # unregistered (corrupt) version on one shard would permanently
            # poison its monotone frontier and admit the other shards'
            # post-DDL rows without lockstep. Versions a DML can
            # legitimately carry are the registered ones; a version new THIS
            # batch reaches the maxima through its op='DDL' row instead.
            known_all = sorted({
                v.schema_version
                for _t, _reg in self.tables.values()
                for v in _reg
            })
            vers_src = batch.filter(
                (F.col("op") == "DDL")
                | F.col("schema_version").isin(known_all)
            )
        shard_maxima = (
            vers_src.groupBy(self.table_col, "__shard")
            .agg(F.max("schema_version").alias("v"))
            .collect()
        )
        return batch, shard_maxima

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            batch, shard_maxima = self._route(batch)
            targets = self._targets(batch)
            any_applied = False
            for name, tbl, reg, sub in targets:
                cfg_rules = (
                    self.config.rules_for(name) if self.config is not None else []
                )
                if cfg_rules:
                    sub = self._filter_raw(sub, cfg_rules)
                if self.ddl_in_stream:
                    # per-table DDL barrier: register this table's DDLs
                    # against ITS registry, then drop the DDL rows so
                    # they never reach the LWW as null-key rows
                    reg, sub = self._apply_ddls(sub, reg, strict=not self.dead_letter)
                    self._set_registry(name, reg)
                self._evolve_sink_schema(tbl, reg)
                version_gate, extra = self._shard_barrier(name, tbl, shard_maxima)
                if self.dead_letter:
                    sub, dlq_extra = self._dead_letter_split(sub, reg, tbl, int(batch_id))
                    if dlq_extra is not None:
                        extra = {**(extra or {}), **dlq_extra}
                if cfg_rules:
                    sub = self._filter_value_exprs(sub, reg, cfg_rules)
                res = apply_epoch(
                    tbl, reg, sub, int(batch_id), decoder=self.decoder,
                    strict_frontier=self.strict_frontier,
                    version_gate=version_gate, manifest_extra=extra,
                    capture_net=self.validate_every > 0,
                )
                self.batch_log.append(
                    (int(batch_id), res.stats) if self.tables is None
                    else (int(batch_id), name, res.stats)
                )
                any_applied = any_applied or not res.stats.skipped
            if self.validate_every > 0 and any_applied:
                # one validation cadence for the whole feed; each target
                # validates against its own captured nets (the reference
                # DM validator covers every replicated table)
                self._batches_since_validation += 1
                if self._batches_since_validation >= self.validate_every:
                    self._batches_since_validation = 0
                    for name, *_ in targets:
                        self.validate_now(
                            table_name=None if self.tables is None else name
                        )
        finally:
            batch.unpersist()

    def metrics(self, table_name: str | None = None) -> DataFrame:
        """Per-epoch changefeed metrics — the reference's per-changefeed
        Grafana counters (applied event counts, resolved-ts, checkpoint
        lag) as a DataFrame, derived from the table's manifest-committed
        lineage plus the in-memory batch log. Multi-table feeds pass
        ``table_name`` to select the target."""
        from pyspark.sql.window import Window

        if table_name is not None:
            assert self.tables is not None and table_name in self.tables, table_name
            table = self.tables[table_name][0]
        else:
            assert self.table is not None, (
                "multi-table feed: pass metrics(table_name=...)"
            )
            table = self.table
        lineage = table.lineage().groupBy("batch_id").agg(
            F.sum("applied_events").alias("applied_events"),
            F.count(F.lit(1)).alias("n_source_partitions"),
        )
        # resolved_ts from the manifest history: the carried-forward GLOBAL
        # watermark (monotone), not the per-batch partition minimum
        epochs = table.epochs().groupBy("batch_id").agg(
            F.max("committed_at").alias("committed_at"),
            F.max("resolved_ts").alias("resolved_ts"),
        )
        return (
            lineage.join(epochs, "batch_id", "left")
            .withColumn(
                "commit_interval_sec",
                F.col("committed_at")
                - F.lag("committed_at").over(Window.orderBy("batch_id")),
            )
            .orderBy("batch_id")
        )

    def _target(self, table_name: str | None):
        """(table, registry) for a validation target — the single table, or
        one entry of a multi-table feed."""
        if table_name is not None:
            assert self.tables is not None and table_name in self.tables, table_name
            tbl, reg = self.tables[table_name]
            return tbl, reg
        assert self.table is not None, (
            "multi-table feed: pass validate_now(table_name=...)"
        )
        return self.table, self._current_registry()

    def validate_now(
        self, n_chunks: int = 16, table_name: str | None = None, full: bool = False
    ) -> dict:
        """One continuous-validation epoch (reference dm/syncer/
        data_validator.go:1-120 — validate rows *during* replication with
        failed-row tracking, vs the post-hoc verify_changefeed).

        Incremental (default, requires ``validate_every`` capture or a
        manual epoch run with capture on): diff the SETTLED region (winning
        commit_ts <= the global resolved watermark — rows above it are
        still in flight, exactly the rows the reference validator holds as
        pending/retry) of the epochs' CAPTURED net rows against the table
        read-back restricted to those rows' buckets and keys. Cost ∝ rows
        replicated since the last validation + affected-bucket read-back;
        the source log is NEVER rescanned (the r4 full-log derivation
        rescanned O(whole log) per validation — at the 10^10-event target
        that dwarfs the feed itself). In-flight winners persist as the
        validator's pending-expected store and re-enter the next epoch.
        Correctness leans on the source contract (kv.go:58-66): once the
        watermark passes a ts, no later event arrives below it — so a
        settled captured winner IS the newest version of its key.

        A second, also log-free check guards the rest of the affected
        buckets: rows NOT touched by this window's captures must be
        bit-identical to the snapshot at the capture baseline (catches
        merge-path row loss and post-baseline file corruption). What this
        epoch-scoped pair deliberately does NOT cover — matching the
        reference validator, which only sees rows as they flow — is bit-rot
        of rows whose last write predates the capture baseline; that is the
        offline audit's job (``full=True`` / verify_changefeed).

        ``full=True`` (or a feed without capture) is the offline audit: the
        r4 behavior, re-deriving expected state from the whole source log.
        Findings commit to the table manifest (atomic, restart-visible) and
        append to ``validation_log``."""
        table, registry = self._target(table_name)
        if full or not self.validate_every:
            return self._validate_full(table, registry, table_name, n_chunks)

        from tiflow_spark.operators.lww import lww_latest
        from tiflow_spark.operators.validate import diff_tables

        m = table.current_manifest()
        cur = int(m["seq"])
        resolved = m.get("resolved_ts")
        nets = list(m.get("validator_nets") or [])
        pend_rel = m.get("validator_pending")
        if resolved is None or (not nets and not pend_rel):
            return {"skipped": True, "reason": "nothing captured to validate"}

        frames = [
            self.spark.read.parquet(f"{table.root}/{rel}")
            for rel in [*nets, *( [pend_rel] if pend_rel else [] )]
        ]
        allnet = frames[0].drop("_n_events")
        for f in frames[1:]:
            allnet = allnet.unionByName(f.drop("_n_events"), allowMissingColumns=True)
        winners = lww_latest(allnet, table.key_cols).persist()
        try:
            settled = winners.filter(F.col("commit_ts") <= F.lit(int(resolved)))
            inflight = winners.filter(F.col("commit_ts") > F.lit(int(resolved)))
            # pending-expected generation written BEFORE the manifest that
            # references it (crash-safe; orphans vacuumed)
            new_pend = f"_validator/pending/s{cur + 1}"
            inflight.write.mode("overwrite").parquet(f"{table.root}/{new_pend}")

            buckets = sorted(
                int(r["bucket"]) for r in settled.select("bucket").distinct().collect()
            )
            snap = table.snapshot(include_tombstones=True, buckets=buckets)
            # superseded guard: a settled expected row whose TABLE version
            # is strictly newer is skipped on both sides — the newer write
            # was (or will be) validated by its own capture window, and the
            # expected event was a LWW no-op by design. This absorbs
            # out-of-contract late events (a commit-ts band split across
            # microbatch boundaries delivers rows below an already-advanced
            # watermark) and pre-capture table state. A LOST write is still
            # caught: losing a write leaves the table version OLDER than
            # (or missing vs) the expected winner.
            joined = snap.join(
                settled.select(
                    *table.key_cols,
                    F.col("commit_ts").alias("_e_cts"),
                    F.col("start_ts").alias("_e_sts"),
                    F.col("op_order").alias("_e_ord"),
                ),
                on=list(table.key_cols), how="inner",
            )
            newer = F.struct(
                F.col("__commit_ts"), F.col("__start_ts"), F.col("__op_order")
            ) > F.struct(F.col("_e_cts"), F.col("_e_sts"), F.col("_e_ord"))
            superseded = joined.filter(newer).select(*table.key_cols)
            expected = (
                table._with_all_data_cols(settled)
                .filter(F.col("op") != "D")
                .join(superseded, on=list(table.key_cols), how="left_anti")
                .select(*table.key_cols, *table.data_cols)
            )
            actual = (
                joined.filter(~newer & ~F.col("__deleted"))
                .select(*table.key_cols, *table.data_cols)
            )
            input_files = sorted(set(expected.inputFiles()) | set(actual.inputFiles()))
            result = diff_tables(
                expected, actual, key_cols=list(table.key_cols),
                compare_cols=list(table.data_cols), n_chunks=n_chunks,
            )
            # frozen-region check: rows in the affected buckets NOT touched
            # by this window's captures must be bit-identical to the
            # snapshot at the capture baseline (the manifest before the
            # first captured epoch) — catches co-bucket corruption the
            # key-restricted compare can't see, still without touching the
            # source log. Skipped (recorded) if vacuum expired the baseline.
            frozen = None
            if nets:
                baseline_seq = (
                    min(
                        int(rel.rsplit("/", 1)[1][1:].split("_b")[0])
                        for rel in nets
                    )
                    - 1
                )
                all_keys = winners.select(*table.key_cols)
                gc_below = m.get("gc_below")

                def _frozen_side(df):
                    df = df.join(
                        all_keys, on=list(table.key_cols), how="left_anti"
                    )
                    if gc_below is not None:
                        # tombstones below the GC horizon may legitimately
                        # disappear between validations (gc_tombstones)
                        df = df.filter(
                            ~(F.col("__deleted")
                              & (F.col("__commit_ts") < int(gc_below)))
                        )
                    return df.select(
                        *table.key_cols, *table.data_cols, "__deleted"
                    )

                try:
                    base = table.snapshot(
                        include_tombstones=True, as_of_seq=baseline_seq,
                        buckets=buckets,
                    )
                    input_files = sorted(set(input_files) | set(base.inputFiles()))
                    frozen = diff_tables(
                        _frozen_side(base), _frozen_side(snap),
                        key_cols=list(table.key_cols),
                        compare_cols=[*table.data_cols, "__deleted"],
                        n_chunks=n_chunks,
                    )
                except FileNotFoundError:
                    frozen = None  # baseline expired by vacuum — recorded
        finally:
            winners.unpersist()
        record = {
            "mode": "incremental",
            "validated_at_seq": cur,
            "epochs_covered": len(nets),
            "buckets": buckets,
            "resolved_ts": int(resolved),
            "n_chunks": result.n_chunks,
            "mismatched_chunks": result.mismatched_chunks,
            "replicated_row_diffs": result.row_diffs,
            "frozen_row_diffs": frozen.row_diffs if frozen is not None else None,
            "frozen_mismatched_chunks": (
                frozen.mismatched_chunks if frozen is not None else None
            ),
            "row_diffs": result.row_diffs
            + (frozen.row_diffs if frozen is not None else 0),
            "ok": result.identical
            and (frozen is None or frozen.identical),
        }
        # a FAILED validation preserves its expected-rows evidence: the
        # consumed captures (and the pending generation folded into this
        # window — in-flight keys that settled here are in the captures'
        # pending store, not in new_pend) are COPIED into
        # _validation_evidence/ BEFORE the manifest commit, so the operator
        # can diff expected vs actual row-by-row (the incremental mode
        # exists precisely because the source log can't be rescanned;
        # keeping only aggregate counts would be useless). A rename here
        # would invert the write-before-reference rule: a crash between
        # rename and commit leaves the live manifest pointing at moved-away
        # validator_nets and wedges every later validate_now. A copy is
        # crash-safe in both orderings (worst case: an orphan evidence dir
        # the operator deletes). The reference validator keeps failed rows
        # for retry/inspection (dm/syncer/data_validator.go). The dir sits
        # outside vacuum's roots — retained until the operator repairs
        # (operators/validate.repair) and deletes it.
        evidence_rel = None
        if not record["ok"]:
            import shutil as _shutil

            evidence_rel = f"_validation_evidence/s{cur + 1}"
            for i, rel in enumerate(nets):
                _shutil.copytree(
                    f"{table.root}/{rel}",
                    f"{table.root}/{evidence_rel}/net_{i:04d}",
                    dirs_exist_ok=True,
                )
            if pend_rel:
                _shutil.copytree(
                    f"{table.root}/{pend_rel}",
                    f"{table.root}/{evidence_rel}/pending_in",
                    dirs_exist_ok=True,
                )
            record["evidence"] = evidence_rel
        table.commit(
            m,
            {
                "validation": record,
                "validated_seq": cur + 1,
                "validator_nets": [],
                "validator_pending": new_pend,
            },
        )
        # consumed captures (and the superseded pending generation) are now
        # unreferenced — reclaim eagerly; vacuum also catches them
        import shutil as _shutil

        for rel in nets:
            _shutil.rmtree(f"{table.root}/{rel}", ignore_errors=True)
        if pend_rel:
            _shutil.rmtree(f"{table.root}/{pend_rel}", ignore_errors=True)
        self.validation_log.append((cur, record))
        return {**record, "input_files": input_files}

    def _validate_full(
        self,
        table: CowTable,
        registry: list[SchemaVersion],
        table_name: str | None,
        n_chunks: int,
    ) -> dict:
        """The offline-audit path (the r4 derivation): re-derive expected
        state from the source log, restricted to the buckets changed since
        the last validation. O(whole log) I/O per call — use the
        incremental path for continuous validation."""
        import glob as _glob

        from tiflow_spark.functions.decode import decode_payload
        from tiflow_spark.operators.lww import lww_latest, with_op_order
        from tiflow_spark.operators.validate import diff_tables

        m = table.current_manifest()
        cur = int(m["seq"])
        resolved = m.get("resolved_ts")
        if resolved is None or cur < 0:
            return {"skipped": True, "reason": "no committed watermark yet"}
        since = m.get("validated_seq")
        try:
            changed = (
                table.changed_buckets(int(since), cur) if since is not None else None
            )
        except FileNotFoundError:
            # the baseline manifest was folded into _history.json by vacuum
            # since the last validation — fall back to a full validation
            changed = None
        if changed == []:
            return {"ok": True, "buckets": [], "validated_at_seq": cur}
        bucket_col = table._bucket_col()

        paths = _glob.glob(self.events_dir) or [self.events_dir]
        events = self.spark.read.schema(self._schema()).parquet(*paths)
        if self.start_ts is not None:
            events = events.filter(F.col("commit_ts") >= self.start_ts)
        events = events.filter(
            (F.col("op") != "DDL") & (F.col("commit_ts") <= resolved)
        )
        if table_name is not None:
            if self.route_rules:
                # shard events route to this target — re-run routing on the
                # raw log so the audit sees what the feed saw
                from tiflow_spark.operators.filters import route_tables

                events = route_tables(events, self.route_rules, self.table_col)
            events = events.filter(F.col(self.table_col) == table_name)
        if changed is not None:
            events = events.filter(bucket_col.isin([int(b) for b in changed]))
        dec = decode_payload(
            lww_latest(with_op_order(events), table.key_cols), registry
        ).filter(F.col("op") != "D")
        # sink columns the registry doesn't decode (e.g. a projection sink
        # wider than the payload schema) backfill NULL, mirroring the
        # sink's own _with_all_data_cols rule
        expected = dec.select(
            *table.key_cols,
            *[
                F.col(c) if c in dec.columns
                else F.lit(None).cast(table.data_schema[c]).alias(c)
                for c in table.data_cols
            ],
        )
        snap = table.snapshot(include_tombstones=True, buckets=changed)
        actual = snap.filter(
            (F.col("__commit_ts") <= resolved) & ~F.col("__deleted")
        ).select(*table.key_cols, *table.data_cols)
        # keys whose applied winner is above the watermark are in flight
        # (non-strict feeds apply them eagerly) — skip them on both sides
        # until the watermark passes them
        inflight = snap.filter(F.col("__commit_ts") > resolved).select(
            *table.key_cols
        )
        expected = expected.join(inflight, on=list(table.key_cols), how="left_anti")

        result = diff_tables(
            expected, actual, key_cols=list(table.key_cols),
            compare_cols=list(table.data_cols), n_chunks=n_chunks,
        )
        record = {
            "validated_at_seq": cur,
            "since_seq": int(since) if since is not None else -1,
            "buckets": changed,
            "resolved_ts": int(resolved),
            "n_chunks": result.n_chunks,
            "mismatched_chunks": result.mismatched_chunks,
            "row_diffs": result.row_diffs,
            "ok": result.identical,
        }
        table.commit(m, {"validation": record, "validated_seq": cur + 1})
        self.validation_log.append((cur, record))
        return record

    def dlq_list(self, table_name: str | None = None) -> DataFrame | None:
        """Quarantined events awaiting resolution (reference
        dm/syncer/handle_error.go's error list / `query-status` errors),
        with their quarantine ``reason``. None when the DLQ is empty."""
        table, _ = self._target(table_name)
        refs = table.current_manifest().get("dlq") or []
        if not refs:
            return None
        out = self.spark.read.parquet(f"{table.root}/{refs[0]}")
        for rel in refs[1:]:
            out = out.unionByName(
                self.spark.read.parquet(f"{table.root}/{rel}"),
                allowMissingColumns=True,
            )
        return out

    def dlq_resolve(
        self,
        action: str,
        replacement: DataFrame | None = None,
        table_name: str | None = None,
    ) -> dict:
        """Resolve the dead-letter queue — the reference's binlog-event
        skip/replace (/root/reference/dm/syncer/handle_error.go:41-120):

        - ``action="skip"``: drop the quarantined events permanently (the
          operator judged them garbage);
        - ``action="replace"``: apply ``replacement`` — corrected change
          events in the feed's event shape — as a regular epoch; the DLQ
          clears atomically with that merge, and the rows land at their
          own commit_ts through the same LWW/fence path as live traffic.

        Returns {"resolved": n_quarantined, "applied": n_events}."""
        if action not in ("skip", "replace"):
            raise ValueError(f"unknown DLQ action {action!r} (skip|replace)")
        table, registry = self._target(table_name)
        m = table.current_manifest()
        refs = list(m.get("dlq") or [])
        if not refs:
            return {"resolved": 0, "applied": 0}
        n = self.dlq_list(table_name).count()
        applied = 0
        if action == "skip":
            table.commit(m, {"dlq": []})
        elif action == "replace":
            if replacement is None:
                raise ValueError("dlq_resolve('replace') needs the corrected events")
            drop = [
                c for c in (self.table_col, "__shard", "reason")
                if c in replacement.columns
            ]
            res = apply_epoch(
                table, registry, replacement.drop(*drop),
                table.last_committed_batch() + 1,
                decoder=self.decoder,
                manifest_extra={"dlq": []},
                capture_net=self.validate_every > 0,
            )
            applied = int(res.stats.applied_events)
        import shutil as _shutil

        for rel in refs:
            _shutil.rmtree(f"{table.root}/{rel}", ignore_errors=True)
        return {"resolved": int(n), "applied": applied}

    def synced(self, lag_threshold: int = 0) -> bool:
        """`synced` status check analog (/root/reference/cdc/owner/
        changefeed.go:972): the feed is synced iff the applied resolved-ts
        is within ``lag_threshold`` of the newest commit_ts present in the
        source log (puller resolved-ts vs checkpoint-ts lag)."""
        import glob as _glob

        assert self.table is not None, "synced() is per-table; use tables[name]"
        applied = self.table.current_manifest().get("resolved_ts")
        if applied is None:
            return False
        paths = _glob.glob(self.events_dir) or [self.events_dir]
        source_max = (
            self.spark.read.schema(self._schema())
            .parquet(*paths)
            .agg({"commit_ts": "max"})
            .first()[0]
        )
        if source_max is None:
            return True
        return applied >= source_max - lag_threshold

    def _schema(self) -> T.StructType:
        if self.event_schema is not None:
            return self.event_schema
        return CHANGE_EVENT_SCHEMA_MULTI if self.tables is not None else CHANGE_EVENT_SCHEMA

    def _stream(self):
        s = (
            self.spark.readStream.schema(self._schema())
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .parquet(self.events_dir)
        )
        if self.start_ts is not None:
            s = s.filter(
                (F.col("commit_ts") >= self.start_ts) | (F.col("op") == "DDL")
            )
        return s

    def run_available_now(self, timeout_sec: int = 600) -> None:
        """Drain everything currently in the log, then stop (the batch-replay
        mode; Trigger.AvailableNow still honors maxFilesPerTrigger per
        microbatch, so epochs stay bounded)."""
        self._drain(self._process_batch, timeout_sec)

    def _drain(self, body, timeout_sec: int) -> None:
        """Run ``body`` as the foreachBatch of an AvailableNow query over the
        log and wait for it to finish."""
        q = (
            self._stream()
            .writeStream.foreachBatch(body)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_sec)
        if q.isActive:
            q.stop()
            raise TimeoutError("changefeed did not drain within timeout")
        if q.exception() is not None:
            raise q.exception()

    def run_mq(
        self,
        mq_dir: str,
        n_partitions: int = 16,
        dispatch: str = "index-value",
        timeout_sec: int = 600,
        bootstrap_interval: int = 0,
        dispatch_columns: tuple[str, ...] | None = None,
        topic_expr: str | None = None,
        schema_name: str = "default",
        config=None,
    ) -> None:
        """Changefeed to an MQ sink instead of a table: each microbatch's
        events are decoded, canal-JSON-encoded with partition routing, and
        written to ``{mq_dir}/batch=<id>`` — overwrite per batch id, so a
        replayed epoch rewrites its own directory (idempotent, the MQ
        analog of the table's batch fence). A consumer replays the encoded
        stream into a table (sinks/mq.canal_json_decode) — the reference's
        kafka-consumer verification loop. With a Kafka classpath, swap the
        file write for sinks/mq.write_mq_kafka.

        ``bootstrap_interval=N`` re-broadcasts the FULL current registry to
        every partition on every Nth epoch (and on epoch 0) — the "simple"
        protocol's periodic bootstrap (reference bootstraper.go:38-130), so
        a consumer joining at batch k>0 rebuilds the registry from at most
        N epochs of look-back (sinks/mq.mq_registry) instead of replaying
        from the beginning. The one-shot DDL broadcast alone can't serve a
        consumer whose retention window no longer holds the DDL's epoch.

        Multi-table feeds (``tables=``) fan out to per-table TOPICS:
        ``topic_expr`` (default ``"{schema}_{table}"``) routes each row by
        the reference's topic expression (dispatcher/topic/expression.go);
        watermark/DDL/bootstrap broadcasts go to every topic × partition so
        a single-topic consumer stays complete. ``dispatch_columns`` feeds
        the "columns" partition dispatcher (columns.go:45-87)."""
        from tiflow_spark.functions.decode import decode_payload
        from tiflow_spark.operators.frontier import resolved_ts
        from tiflow_spark.sinks.mq import (
            bootstrap_messages,
            ddl_messages,
            encode_for_mq,
            resolve_topic,
            resolved_messages,
        )

        if self.tables is not None and topic_expr is None:
            topic_expr = "{schema}_{table}"

        # changefeed.toml dispatchers: each table's first matching rule
        # overrides the feed-level dispatch/columns/topic/column-selector
        # (event_router.go first-match semantics; config.mq_kwargs). Tables
        # no rule matches keep the feed-level arguments.
        def _table_mq_kwargs(name: str) -> dict:
            kw = {
                "dispatch": dispatch,
                "dispatch_columns": dispatch_columns,
                "topic_expr": topic_expr,
            }
            if config is not None:
                cfg_kw = config.mq_kwargs(name)
                sel = cfg_kw.pop("column_selector", None)
                if sel is not None:
                    kw["column_selector"] = sel
                kw.update({k: v for k, v in cfg_kw.items() if v is not None})
            return kw

        def _broadcast_topics(frame: DataFrame, topics: list[str | None]) -> DataFrame:
            """Stamp control messages (watermark/DDL/bootstrap) onto every
            topic of the feed; None = no topic routing (single-table)."""
            if topics == [None]:
                return frame
            return frame.crossJoin(
                self.spark.createDataFrame([(t,) for t in topics], "topic STRING")
            )

        def emit(batch: DataFrame, batch_id: int) -> None:
            batch = batch.persist()
            try:
                # per-target registry decode; a multi-table feed's rows
                # route to their table's topic
                frames: list[DataFrame] = []
                sent = []  # (topic, registry, rows) per target
                for name, _tbl, reg, sub in self._targets(batch):
                    if self.ddl_in_stream:
                        reg, sub_dml = self._apply_ddls(sub, reg)
                        self._set_registry(name, reg)
                    else:
                        sub_dml = sub.filter(F.col("op") != "DDL")
                    kw = _table_mq_kwargs(name)
                    decoded = decode_payload(sub_dml, reg)
                    if self.tables is None:
                        eff_topic = kw.pop("topic_expr")
                        topic_table = name if config is not None else "default"
                        topic = (
                            resolve_topic(eff_topic, topic_table, schema_name)
                            if eff_topic is not None else None
                        )
                        frame = encode_for_mq(decoded, n_partitions=n_partitions, **kw)
                        if topic is not None:
                            frame = frame.withColumn("topic", F.lit(topic))
                    else:
                        frame = encode_for_mq(
                            decoded, n_partitions=n_partitions,
                            table_col=self.table_col, schema_name=schema_name, **kw,
                        )
                        topic = resolve_topic(kw["topic_expr"], name, schema_name)
                    frames.append(frame)
                    sent.append((topic, reg, sub))
                topics = [topic for topic, _reg, _sub in sent]
                frame = frames[0]
                for f in frames[1:]:
                    frame = frame.unionByName(f)
                # watermark flush: this epoch's GLOBAL resolved-ts broadcast
                # to every topic × partition (reference mq sink resolved-ts
                # flush); DDL rows broadcast likewise (MQ DDL sink) so
                # consumers keep schema lockstep
                fr = resolved_ts(batch.filter(F.col("op") != "DDL"))
                if fr is not None:
                    frame = frame.unionByName(
                        _broadcast_topics(
                            resolved_messages(self.spark, int(fr), n_partitions),
                            topics,
                        ),
                        allowMissingColumns=False,
                    )
                if self.ddl_in_stream:
                    for topic, _reg, sub in sent:
                        ddls = ddl_messages(
                            sub.filter(F.col("op") == "DDL"), n_partitions
                        )
                        frame = frame.unionByName(
                            _broadcast_topics(ddls, [topic])
                        )
                if bootstrap_interval > 0 and batch_id % bootstrap_interval == 0:
                    for topic, reg, _sub in sent:
                        frame = frame.unionByName(
                            _broadcast_topics(
                                bootstrap_messages(self.spark, reg, n_partitions),
                                [topic],
                            )
                        )
                w = frame.write.mode("overwrite")
                if "topic" in frame.columns:
                    # per-topic subtrees — the broker's physical topic split;
                    # a single-topic consumer prunes to its own dir
                    w = w.partitionBy("topic")
                w.parquet(f"{mq_dir}/batch={batch_id}")
                self.batch_log.append((int(batch_id), "mq"))
            finally:
                batch.unpersist()

        self._drain(emit, timeout_sec)

    def run_continuous(self, processing_time: str = "1 second"):
        """Long-lived changefeed — the reference's only mode: keep tailing
        the log at a microbatch cadence. Returns the StreamingQuery handle;
        the caller owns its lifetime (q.stop() = changefeed pause; restarting
        with the same checkpoint_dir = resume)."""
        return (
            self._stream()
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )
