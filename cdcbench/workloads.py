"""The two closed-loop workloads: ``tail`` and ``operators``.

Each workload is a pass, repeated until the run's measuring time is used
up. A pass only starts after the previous one ends, and inside a pass the
next epoch, read or query starts only after the previous one commits.

- tail: drain a key-local change log (one small epoch per conv-id range)
  into a fresh 256-range-bucket COW table through the streaming changefeed,
  then read each epoch's changes (``changes_between(s-1, s)``) and the full
  ``snapshot()``, both to the noop sink.
- operators: bench.py's twelve headline queries over the fixed sf0.01
  tables, in a seeded order, each written to the noop sink.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from cdcbench import check

# bench.py's twelve headline queries (BENCH_QUERIES): operators.lww,
# update_split and validate, functions.text, functions.dedup and
# functions.similarity.
OPERATOR_QUERIES = [
    "cdc_lww_final_state",
    "cdc_net_op_algebra",
    "cdc_update_split",
    "cdc_checksum_chunks",
    "text_stats",
    "text_lang_id",
    "dedup_exact",
    "dedup_minhash_sigs",
    "dedup_simhash",
    "ann_topk",
    "ann_lsh_topk",
    "embedding_near_dups",
]

# The tail table range-buckets conv ids, CONVS_PER_RANGE contiguous ids per
# bucket, so one key-local epoch lands in a handful of its 256 buckets.
TAIL_BUCKETS, CONVS_PER_RANGE = 256, 16


@dataclass
class Tally:
    """Operations attempted/failed and the timed samples of one run."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer is not None else contextlib.nullcontext({})


class TailWorkload:
    def __init__(self, spark, workdir: str, listener, tracer=None):
        self.spark, self.workdir = spark, workdir
        self.listener, self.tracer = listener, tracer
        self.log: dict = {}
        self.n_pass = 0
        self.last_table = None

    def load(self, log: dict) -> None:
        self.log = log

    def drain(self, log: dict, tag: str, tally: Tally | None):
        """Drain ``log`` into a fresh table under ``tag``; returns the table."""
        from tiflow_spark.sinks.cow_table import CowTable
        from tiflow_spark.sources.registry import default_registry
        from tiflow_spark.streaming.runner import Changefeed

        root = f"{self.workdir}/{tag}"
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        n_epochs = len(log["events_per_epoch"])
        table = CowTable(
            self.spark, f"{root}/table", n_buckets=TAIL_BUCKETS,
            # keep every epoch's manifest and files, so each stays readable
            auto_vacuum_keep=n_epochs + 2,
            bucket_expr=(
                f"pmod(cast(substring(conv_id, 2, 18) as long) div {CONVS_PER_RANGE}, "
                f"{TAIL_BUCKETS})"
            ),
        )
        feed = Changefeed(
            spark=self.spark, events_dir=log["events_dir"],
            checkpoint_dir=f"{root}/ckpt", table=table,
            registry=default_registry(log["ddl_ts"]),
            # the log has one file per epoch, so one trigger is one epoch
            max_files_per_trigger=1,
        )
        t0 = time.perf_counter()
        with _span(self.tracer, "streaming.drain", tag=tag):
            feed.run_available_now()
        drain_s = time.perf_counter() - t0
        batches = self.listener.take(n_epochs)
        if tally is None:
            return table
        applied = [s for _b, s in feed.batch_log if not s.skipped]
        tally.op(len(feed.batch_log) == n_epochs and len(applied) == n_epochs,
                 f"{tag}: {len(feed.batch_log)} epochs committed, expected {n_epochs}")
        for b in batches:
            tally.op(True)
            tally.add("epoch_commit_s", b["trigger_s"])
            tally.add("trigger_overhead_s", b["trigger_s"] - b["add_batch_s"])
            tally.add("add_batch_s", b["add_batch_s"])
            tally.add("input_rows", b["input_rows"])
            tally.add("events_per_s", b["input_rows"] / b["trigger_s"])
        tally.add("epochs", len(batches))
        tally.add("drain_s", drain_s)
        return table

    def read_back(self, table, tally: Tally) -> None:
        """One change-feed read per committed epoch, then the snapshot."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        n_epochs = len(self.log["events_per_epoch"])
        last = int(table.current_manifest()["seq"])
        for seq in range(last - n_epochs + 1, last + 1):
            df = table.changes_between(seq - 1, seq)
            obs = None
            if self.tracer is not None:
                obs = Observation(f"cdf_{self.n_pass}_{seq}")
                df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            t0 = time.perf_counter()
            with _span(self.tracer, "sinks.cdf_read", seq=seq):
                _noop(df)
            tally.add("cdf_read_s", time.perf_counter() - t0)
            tally.op(True)
            if obs is not None:
                tally.add("cdf_rows", obs.get["rows"])
                tally.add("cdf_changed_buckets", len(table.changed_buckets(seq - 1, seq)))
        t0 = time.perf_counter()
        with _span(self.tracer, "sinks.snapshot_read"):
            _noop(table.snapshot())
        tally.add("snapshot_read_s", time.perf_counter() - t0)
        tally.op(True)

    def warmup(self, warm_log: dict) -> None:
        """Set-up on a throwaway table: drain the warm-up log and read it
        back through the same read paths."""
        table = self.drain(warm_log, "warmup", None)
        _noop(table.changes_between(-1, int(table.current_manifest()["seq"])))
        _noop(table.snapshot())
        shutil.rmtree(f"{self.workdir}/warmup", ignore_errors=True)

    def one_pass(self, tally: Tally) -> None:
        if self.last_table is not None:
            shutil.rmtree(os.path.dirname(self.last_table.root), ignore_errors=True)
        t0 = time.perf_counter()
        with _span(self.tracer, "pass", n=self.n_pass):
            table = self.drain(self.log, f"pass{self.n_pass}", tally)
            self.read_back(table, tally)
        tally.add("pass_s", time.perf_counter() - t0)
        self.last_table = table
        self.n_pass += 1

    def verify(self, tally: Tally) -> None:
        """Untimed: the last pass's table snapshot against the state DuckDB
        computes from the event parquet."""
        expected = check.expected_chunks(self.log["events_dir"])
        out = f"{self.workdir}/snapshot_check"
        self.last_table.snapshot().write.mode("overwrite").parquet(out)
        got = check.snapshot_chunks(out)
        shutil.rmtree(out, ignore_errors=True)
        tally.op(got == expected and len(got) > 0,
                 "final table state differs from the DuckDB expectation")


class OperatorsWorkload:
    def __init__(self, spark, tracer=None):
        from tiflow_spark.plans.bench_queries import ORACLES, QUERIES

        self.spark, self.tracer = spark, tracer
        self.queries, self.oracles = QUERIES, ORACLES
        self.sf_dir = ""
        self.rows = 0
        self.order: list[str] = []

    def load(self, tables: dict, order: list[str]) -> None:
        self.sf_dir, self.rows, self.order = tables["sf_dir"], tables["rows"], order

    def warmup_and_verify(self, tally: Tally, extra_passes: int) -> float:
        """Set-up: every query once, collected to the driver and checked
        against its DuckDB oracle, then ``extra_passes`` untallied passes.
        Returns the engine seconds only (the oracle comparison is untimed)."""
        oracle = check.QueryOracle(self.sf_dir, self.oracles)
        engine_s = 0.0
        try:
            for name in self.order:
                t0 = time.perf_counter()
                sdf = self.queries[name](self.spark, self.sf_dir)
                rows = [tuple(r) for r in sdf.collect()]
                engine_s += time.perf_counter() - t0
                ok, why = oracle.matches(name, rows, list(sdf.columns))
                tally.op(ok, why)
        finally:
            oracle.close()
        t0 = time.perf_counter()
        for _ in range(extra_passes):
            for name in self.order:
                _noop(self.queries[name](self.spark, self.sf_dir))
        return engine_s + time.perf_counter() - t0

    def one_pass(self, tally: Tally) -> None:
        suite = 0.0
        with _span(self.tracer, "pass"):
            for name in self.order:
                t0 = time.perf_counter()
                with _span(self.tracer, f"query.{name}"):
                    _noop(self.queries[name](self.spark, self.sf_dir))
                dt = time.perf_counter() - t0
                tally.op(True)
                tally.add("query_s", dt)
                tally.add(f"query.{name}_s", dt)
                suite += dt
        tally.add("pass_s", suite)
        tally.add("events_per_s", self.rows / suite)

    def verify(self, tally: Tally) -> None:
        """Outputs were checked against the oracles during set-up."""


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))
