"""Changefeed lifecycle controller — the OpenAPI v2 facade.

Reference: the v2 API exposes create/pause/resume/remove/list over owner
state (/root/reference/cdc/api/v2/changefeed.go:63-920), with
resume-with-checkpoint-ts semantics (overwriteCheckpointTs,
changefeed.go:759) and a GC-safepoint safety check before (re)starting at an
old ts (cdc/owner/changefeed.go:363, EnsureChangefeedStartTsSafety analog).

Spark rebuild: a changefeed's identity is a tiny spec JSON under
``state_dir`` (the etcd changefeed-info analog); the mechanisms already
exist — Structured Streaming checkpoint dir (pause = stop consuming,
resume = rerun with the same checkpoint), CowTable's fenced merges
(re-delivery safe), ``start_ts`` source filtering, and the persisted
schema registry. The controller only orchestrates them, so every state
transition is a file write plus (for live continuous feeds) a
StreamingQuery stop — restart-safe by construction.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Any

from pyspark.sql import SparkSession

from tiflow_spark.sinks.cow_table import CowTable
from tiflow_spark.streaming.runner import Changefeed


class _CascadeHandle:
    """StreamingQuery-shaped handle for a continuous cascade feed (the
    poll loop runs in a daemon thread; the manifest dir is the offset log,
    so stop/start is just the thread — offsets live in the downstream
    manifest, committed atomically with each hop's merge)."""

    def __init__(self, feed, poll_interval_sec: float) -> None:
        import threading

        self._stop = threading.Event()
        self.exception: BaseException | None = None

        def loop() -> None:
            try:
                while not self._stop.is_set():
                    feed.sync()
                    self._stop.wait(poll_interval_sec)
            except BaseException as e:  # surfaced on stop/inspect
                self.exception = e

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    @property
    def isActive(self) -> bool:
        return self._thread.is_alive()

    def stop(self) -> None:
        # deliberately does NOT re-raise a stored loop failure: the caller
        # (pause/remove) inspects ``.exception`` via _query_error AFTER the
        # stop and persists state=error first. Raising here would escape
        # pause() between the handle pop and the spec save, so the failure
        # would never reach disk and a retried pause would record the feed
        # as cleanly 'stopped'.
        self._stop.set()
        self._thread.join(timeout=60)


class ChangefeedController:
    """create/pause/resume/remove/list over spec files in ``state_dir``.

    Three feed kinds share the lifecycle (VERDICT r4 next #5):
    - ``kind="table"`` — events log → CowTable (the default);
    - ``kind="mq"`` — events log → topic/partition-routed MQ stream
      (``mq_options`` forwards run_mq knobs; pause/resume ride the same
      Structured Streaming source checkpoint);
    - ``kind="cascade"`` — an upstream CowTable's CDF → downstream
      CowTable (``upstream_root``; the consumed-seq offset lives in the
      downstream manifest, so pause/resume need no extra state).
    """

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        # live StreamingQuery handles for run(continuous=True) feeds
        self._queries: dict[str, Any] = {}

    # ---------------- spec persistence ----------------

    def _spec_path(self, cf_id: str) -> str:
        return os.path.join(self.state_dir, f"{cf_id}.json")

    def _load(self, cf_id: str) -> dict[str, Any]:
        try:
            with open(self._spec_path(cf_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(f"changefeed {cf_id!r} does not exist") from None

    def _save(self, spec: dict[str, Any]) -> None:
        tmp = self._spec_path(spec["id"]) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(spec, f)
        os.rename(tmp, self._spec_path(spec["id"]))

    # ---------------- lifecycle ----------------

    def create(
        self,
        cf_id: str,
        events_dir: str | None,
        table_root: str | None,
        registry=None,
        start_ts: int | None = None,
        n_buckets: int = 32,
        feed_options: dict[str, Any] | None = None,
        table_options: dict[str, Any] | None = None,
        kind: str = "table",
        mq_options: dict[str, Any] | None = None,
        upstream_root: str | None = None,
        upstream_options: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Register a changefeed (v2 POST /changefeeds). The registry is
        persisted under the controller's state dir so the feed's schema
        evolution survives pause/resume; ``feed_options`` forwards
        Changefeed knobs (ddl_in_stream, strict_frontier, validate_every,
        max_files_per_trigger, decoder), ``table_options`` CowTable knobs
        (mode, bucket_expr, auto_compact_deltas, auto_vacuum_keep).

        ``kind="mq"``: ``mq_options`` must carry ``mq_dir`` (plus any
        run_mq knobs — n_partitions, dispatch, dispatch_columns,
        topic_expr, bootstrap_interval); no sink table.
        ``kind="cascade"``: ``upstream_root`` names the source CowTable;
        ``events_dir``/registry are unused (the upstream CDF carries
        decoded rows and the downstream schema follows the upstream's)."""
        if os.path.exists(self._spec_path(cf_id)):
            raise ValueError(f"changefeed {cf_id!r} already exists")
        if kind not in ("table", "mq", "cascade"):
            raise ValueError(f"unknown changefeed kind {kind!r}")
        if kind == "mq" and not (mq_options or {}).get("mq_dir"):
            raise ValueError("kind='mq' requires mq_options={'mq_dir': ...}")
        if kind == "cascade" and not upstream_root:
            raise ValueError("kind='cascade' requires upstream_root")
        registry_path = None
        if kind != "cascade":
            registry_path = os.path.join(self.state_dir, cf_id, "registry")
            from tiflow_spark.sources.registry import save_registry

            save_registry(self.spark, registry, registry_path)
        spec = {
            "id": cf_id,
            "kind": kind,
            "state": "normal",
            "events_dir": events_dir,
            "table_root": table_root,
            "checkpoint_dir": os.path.join(self.state_dir, cf_id, "ckpt"),
            "registry_path": registry_path,
            "start_ts": start_ts,
            "n_buckets": n_buckets,
            "feed_options": feed_options or {},
            "table_options": table_options or {},
            "mq_options": mq_options or {},
            "upstream_root": upstream_root,
            "upstream_options": upstream_options or {},
            "created_at": time.time(),
        }
        self._save(spec)
        return spec

    def _table(self, spec: dict[str, Any]) -> CowTable:
        return CowTable(
            self.spark, spec["table_root"], n_buckets=spec["n_buckets"],
            **spec["table_options"],
        )

    def _build(self, spec: dict[str, Any]):
        kind = spec.get("kind", "table")
        if kind == "cascade":
            from tiflow_spark.streaming.cascade import CascadeFeed

            upstream = CowTable(
                self.spark, spec["upstream_root"],
                **spec.get("upstream_options", {}),
            )
            return CascadeFeed(
                spark=self.spark, upstream=upstream,
                downstream=self._table(spec),
            )
        return Changefeed(
            spark=self.spark,
            events_dir=spec["events_dir"],
            checkpoint_dir=spec["checkpoint_dir"],
            table=self._table(spec) if kind == "table" else None,
            registry_path=spec["registry_path"],
            start_ts=spec["start_ts"],
            **spec["feed_options"],
        )

    def run(self, cf_id: str, continuous: bool = False, timeout_sec: int = 600):
        """Drive a normal-state changefeed: drain what's in the log
        (AvailableNow; cascade = one sync) or start the long-lived query
        (continuous). Returns the feed object (drain) or the query handle
        (continuous — a StreamingQuery, or its cascade thread analog)."""
        spec = self._load(cf_id)
        if spec["state"] != "normal":
            raise ValueError(
                f"changefeed {cf_id!r} is {spec['state']} — resume it first"
            )
        kind = spec.get("kind", "table")
        feed = self._build(spec)
        if kind == "cascade":
            if continuous:
                q = _CascadeHandle(
                    feed, spec.get("feed_options", {}).get("poll_interval_sec", 1.0)
                )
                self._queries[cf_id] = q
                return q
            feed.sync()
            return feed
        if kind == "mq":
            if continuous:
                raise ValueError(
                    "continuous MQ feeds are drain-per-run here — rerun "
                    "run(cf_id) to emit newly arrived epochs (the SS source "
                    "checkpoint carries the offset between runs)"
                )
            feed.run_mq(timeout_sec=timeout_sec, **spec["mq_options"])
            return feed
        if continuous:
            q = feed.run_continuous()
            self._queries[cf_id] = q
            return q
        feed.run_available_now(timeout_sec=timeout_sec)
        return feed

    @staticmethod
    def _query_error(q) -> BaseException | None:
        """Stored failure of a no-longer-active handle: _CascadeHandle
        keeps it in ``.exception`` (attribute), StreamingQuery returns it
        from ``.exception()`` (method)."""
        if q is None or q.isActive:
            return None
        exc = getattr(q, "exception", None)
        return exc() if callable(exc) else exc

    def pause(self, cf_id: str) -> None:
        """v2 POST /changefeeds/{id}/pause: stop consuming; the source
        offset checkpoint and the table both stay — resume continues from
        exactly where the feed stopped. Pausing a feed whose background
        loop already DIED re-raises its stored failure (a silently-halted
        feed must not masquerade as cleanly stopped — the reference moves
        a failed changefeed to state=error, changefeed.go)."""
        spec = self._load(cf_id)
        q = self._queries.pop(cf_id, None)
        if q is not None and q.isActive:
            q.stop()
        err = self._query_error(q)
        if err is not None:
            spec["state"] = "error"
            spec["error"] = str(err)
            self._save(spec)
            raise RuntimeError(
                f"changefeed {cf_id!r} had already FAILED; state=error"
            ) from err
        spec["state"] = "stopped"
        self._save(spec)

    def resume(self, cf_id: str, overwrite_checkpoint_ts: int | None = None) -> None:
        """v2 POST /changefeeds/{id}/resume. With ``overwrite_checkpoint_ts``
        (changefeed.go:759): discard the source-offset checkpoint and
        re-replicate from that ts — safe because merges are fenced and
        version-conditional, so re-delivered events converge; guarded by
        the GC-safepoint analog (a ts below the table's tombstone-GC
        horizon could resurrect deleted rows, changefeed.go:363)."""
        spec = self._load(cf_id)
        if overwrite_checkpoint_ts is not None:
            if spec.get("kind", "table") != "table":
                # MQ: stale batch dirs above the rewind would need a topic
                # truncate; cascade: the offset is the upstream seq, and
                # rewinding it replays a snapshot WITHOUT the deletes in
                # between — both are the resurrect hazard the table guard
                # blocks, so fail loudly instead of half-supporting them
                raise ValueError(
                    "overwrite_checkpoint_ts is table-feed only — recreate "
                    f"the {spec.get('kind')} feed to rewind it"
                )
            table = CowTable(
                self.spark, spec["table_root"], n_buckets=spec["n_buckets"],
                **spec["table_options"],
            )
            gc_below = table.current_manifest().get("gc_below")
            if gc_below is not None and overwrite_checkpoint_ts < gc_below:
                raise ValueError(
                    f"resume ts {overwrite_checkpoint_ts} is below the GC "
                    f"safepoint {gc_below} — deleted rows below it could "
                    "resurrect (EnsureChangefeedStartTsSafety)"
                )
            shutil.rmtree(spec["checkpoint_dir"], ignore_errors=True)
            spec["start_ts"] = overwrite_checkpoint_ts
            # reset the epoch fence: a fresh source checkpoint restarts
            # batch ids at 0, which the table would otherwise skip as
            # already-committed — the re-replicated epochs must actually
            # re-merge (convergent: the merge is version-conditional)
            m = table.current_manifest()
            if m["batch_id"] >= 0:
                table.commit(m, {"batch_id": -1})
        spec["state"] = "normal"
        self._save(spec)

    def remove(self, cf_id: str) -> None:
        """v2 DELETE /changefeeds/{id}: stop if live, drop the feed's
        checkpoint/registry/spec. The sink table is NOT touched — the
        reference's remove likewise leaves downstream data in place."""
        self._load(cf_id)  # existence check
        q = self._queries.pop(cf_id, None)
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(os.path.join(self.state_dir, cf_id), ignore_errors=True)
        os.remove(self._spec_path(cf_id))

    def list(self) -> list[dict[str, Any]]:
        """v2 GET /changefeeds: every spec plus live progress read from the
        table manifest (checkpoint = last batch id, resolved watermark).
        A feed whose background loop died with an exception is reported
        with state=error and the message — not its last persisted state
        (the reference's failed-changefeed state surfaces the same way in
        `cli changefeed list`)."""
        out = []
        for fn in sorted(os.listdir(self.state_dir)):
            if not fn.endswith(".json"):
                continue
            spec = self._load(fn[:-5])
            err = self._query_error(self._queries.get(fn[:-5]))
            if err is not None:
                spec["state"] = "error"
                spec["error"] = str(err)
            m = {}
            manifest_dir = (
                os.path.join(spec["table_root"], "_manifest")
                if spec.get("table_root") else ""
            )
            if manifest_dir and os.path.isdir(manifest_dir):
                table = CowTable(
                    self.spark, spec["table_root"], n_buckets=spec["n_buckets"],
                    **spec["table_options"],
                )
                mf = table.current_manifest()
                m = {
                    "checkpoint_batch_id": mf.get("batch_id"),
                    "resolved_ts": mf.get("resolved_ts"),
                }
            out.append({**spec, **m})
        return out
