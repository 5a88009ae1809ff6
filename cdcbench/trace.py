"""Tracing for the benchmark: a streaming listener, and (traced runs only)
spans around the public calls into each layer.

Spans are kept in memory as (id, parent, name, start, end, attrs) and
written as JSON when the run ends. The wrappers sit in the benchmark's
files, around module attributes the program looks up at call time:
``streaming.runner.apply_epoch`` (the runner's reference to
``plans.pipeline.apply_epoch``) and the ``sinks.cow_table.CowTable``
methods ``merge`` and ``vacuum``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class ProgressListener(StreamingQueryListener):
    """Collects each microbatch's progress (durations in seconds)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if not p.numInputRows:
            return
        d = p.durationMs
        with self._lock:
            self._batches.append({
                "batch_id": int(p.batchId),
                "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                "add_batch_s": d.get("addBatch", 0) / 1000.0,
                "input_rows": int(p.numInputRows),
            })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, expected: int, timeout_s: float = 30.0) -> list[dict]:
        """Wait (progress events arrive asynchronously) until ``expected``
        batches are in, then return them and start a fresh list."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self._batches) >= expected:
                    break
            time.sleep(0.02)
        with self._lock:
            out, self._batches = self._batches, []
        return sorted(out, key=lambda b: b["batch_id"])


def _list_files(root: str) -> dict[str, int]:
    out = {}
    for top in ("data", "delta"):
        base = f"{root}/{top}"
        for dirpath, _dirs, files in os.walk(base):
            for f in files:
                if f.endswith(".parquet"):
                    p = f"{dirpath}/{f}"
                    out[p] = os.path.getsize(p)
    return out


class Tracer:
    """Spans plus per-call counters; ``install`` wraps the layer calls."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record a span while installed (set-up is not traced)."""
        if not self._patches:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def _job_counts(self, first: int, end: int) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        tasks = failed = 0
        for jid in range(first, end):
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                s = st.getStageInfo(sid)
                if s is not None:
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        return end - first, tasks, failed

    def _patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper_factory(orig))

    def install(self) -> None:
        from tiflow_spark.sinks.cow_table import CowTable
        from tiflow_spark.streaming import runner

        tracer = self

        def wrap_apply_epoch(orig):
            def apply_epoch(table, registry, batch, batch_id, *a, **kw):
                first = tracer._next_job_id()
                with tracer.span("plans.apply_epoch", batch_id=int(batch_id)) as rec:
                    res = orig(table, registry, batch, batch_id, *a, **kw)
                jobs, tasks, failed = tracer._job_counts(first, tracer._next_job_id())
                rec.update(jobs=jobs, tasks=tasks, failed_tasks=failed)
                return res
            return apply_epoch

        def wrap_merge(orig):
            def merge(self, batch, batch_id, *a, **kw):
                before = _list_files(self.root)
                with tracer.span("sinks.merge", batch_id=int(batch_id)) as rec:
                    stats = orig(self, batch, batch_id, *a, **kw)
                after = _list_files(self.root)
                new = [p for p in after if p not in before]
                seqs = self._manifest_seqs()
                rec.update(
                    skipped=stats.skipped,
                    applied_events=stats.applied_events,
                    affected_buckets=stats.affected_buckets,
                    files_written=len(new),
                    bytes_written=sum(after[p] for p in new),
                    manifest_bytes=(
                        os.path.getsize(f"{self.root}/_manifest/{seqs[-1]}.json")
                        if seqs else 0
                    ),
                )
                return stats
            return merge

        def wrap_vacuum(orig):
            def vacuum(self, *a, **kw):
                with tracer.span("sinks.vacuum") as rec:
                    removed = orig(self, *a, **kw)
                rec["removed"] = int(removed)
                return removed
            return vacuum

        self._patch(runner, "apply_epoch", wrap_apply_epoch)
        self._patch(CowTable, "merge", wrap_merge)
        self._patch(CowTable, "vacuum", wrap_vacuum)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def children(self, rec: dict, name: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"] and s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (count, total seconds, self seconds): a span's self time
        is its duration minus the durations of its direct children."""
        out: dict[str, list] = {}
        child_total: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_total[s["parent"]] = child_total.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], [0, 0.0, 0.0])
            agg[0] += 1
            agg[1] += dur
            agg[2] += dur - child_total.get(s["id"], 0.0)
        return {k: tuple(v) for k, v in out.items()}
