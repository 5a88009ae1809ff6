"""CDC benchmark: one command, every metric by name and unit, checked output.

Usage (from the repository root):

    python3 cdcbench/run.py --workload tail|operators \
        --seed N --seconds S --trace 0|1

The run makes (or reuses) its inputs from the seed — tail logs in a child
process, before the measuring JVM starts — starts a local SparkSession on
every core, sets up, then repeats the workload's closed-loop pass
for S seconds and checks every output against DuckDB. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it records the machine, the
versions and the input/set-up details. Everything the run writes stays under
``.cdcbench_work/`` in the repository root. See cdcbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".cdcbench_work")
WORKLOADS = ("tail", "operators")
# fewest passes a run measures: the figures are medians over passes
MIN_PASSES = {"tail": 1, "operators": 2}
# untallied operators passes in set-up, after the checked one
WARM_PASSES = 1


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _configure_env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and size the
    driver heap to the machine (the library default assumes a large box)."""
    tmp = f"{run_dir}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TIFLOW_SPARK_LOCAL_DIR"] = f"{run_dir}/spark-local"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    if "TIFLOW_SPARK_DRIVER_MEM" not in os.environ:
        gib = max(1, min(3, _mem_total_bytes() // (6 << 30)))
        os.environ["TIFLOW_SPARK_DRIVER_MEM"] = f"{gib}g"


def _status_kb(pid: int | str | None, field: str) -> int:
    if pid is None:
        return 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def _jvm_pid(spark) -> int | None:
    """The driver JVM: the gateway process or, if that is a launcher
    script, its java child."""
    pid = spark.sparkContext._gateway.proc.pid
    for cand in [pid] + _children(pid):
        try:
            with open(f"/proc/{cand}/comm") as f:
                if f.read().strip() == "java":
                    return cand
        except FileNotFoundError:
            continue
    return None


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except FileNotFoundError:
        return []


def _tree_cpu_s(pid: int | None) -> float:
    """CPU seconds used so far by ``pid``, its live descendants and the
    descendants they have reaped (Spark's Python workers)."""
    total = 0.0
    stack = [pid] if pid is not None else []
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")
        stack.extend(_children(p))
    return total


def _jit_s(spark) -> float:
    """Seconds the JVM has spent in JIT compilation so far (summed over its
    compiler threads, which start and stop as the JVM needs them)."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mx.getCompilationMXBean().getTotalCompilationTime() / 1000.0


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown"
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(ref_path):
        with open(ref_path) as f:
            return f.read().strip()
    packed = os.path.join(ROOT, ".git", "packed-refs")
    if os.path.exists(packed):
        with open(packed) as f:
            for line in f:
                if line.rstrip().endswith(ref[5:]):
                    return line.split()[0]
    return "unknown"


def _e2e_metrics(tally, setup_s: float) -> dict:
    from cdcbench.workloads import median

    s = tally.samples
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_cpu_s": {"value": median(s["pass_cpu_s"]), "unit": "s"},
    }


def _layer_metrics(tally, tracer, rss_mb: float) -> dict:
    from cdcbench.workloads import OPERATOR_QUERIES, median, quantile

    s = tally.samples

    def med(xs):
        return median(xs) if xs else 0.0

    epochs = [x for x in tracer.spans if x["name"] == "plans.apply_epoch"]
    merges = [x for x in tracer.spans if x["name"] == "sinks.merge"]
    vacuums = [x for x in tracer.spans if x["name"] == "sinks.vacuum"]

    def dur(x):
        return x["end"] - x["start"]

    apply_self = [
        dur(e) - sum(dur(m) for m in tracer.children(e, "sinks.merge")) for e in epochs
    ]
    merge_self = [
        dur(m) - sum(dur(v) for v in tracer.children(m, "sinks.vacuum")) for m in merges
    ]
    applied = sum(m.get("applied_events", 0) for m in merges)
    # share of each epoch's triggerExecution covered by the trigger's own
    # overhead plus the traced apply_epoch call
    trig = s.get("epoch_commit_s", [])
    over = s.get("trigger_overhead_s", [])
    coverage = [
        (o + dur(e)) / t for t, o, e in zip(trig, over, epochs) if t > 0
    ]
    m = {
        "workload.pass_s": (med(s["pass_s"]), "s", "lower"),
        "jvm.jit_per_pass_s": (med(s["pass_jit_s"]), "s", "lower"),
        "streaming.epochs_per_pass": (med(s.get("epochs", [])), "count", "lower"),
        "streaming.trigger_overhead_s": (med(over), "s", "lower"),
        "streaming.add_batch_s": (med(s.get("add_batch_s", [])), "s", "lower"),
        "streaming.input_rows": (med(s.get("input_rows", [])), "count", "higher"),
        "streaming.epoch_commit_p50_s": (med(trig), "s", "lower"),
        "streaming.epoch_commit_p75_s": (
            quantile(trig, 0.75) if trig else 0.0, "s", "lower"),
        "plans.apply_epoch_s": (med([dur(e) for e in epochs]), "s", "lower"),
        "plans.apply_epoch_self_s": (med(apply_self), "s", "lower"),
        "plans.spark_jobs_per_epoch": (med([e["jobs"] for e in epochs]), "count", "lower"),
        "plans.spark_tasks_per_epoch": (med([e["tasks"] for e in epochs]), "count", "lower"),
        "plans.failed_tasks": (float(sum(e["failed_tasks"] for e in epochs)), "count", "lower"),
        "plans.trigger_coverage_min": (min(coverage) if coverage else 0.0, "ratio", "higher"),
        "sinks.merge_s": (med([dur(x) for x in merges]), "s", "lower"),
        "sinks.merge_self_s": (med(merge_self), "s", "lower"),
        "sinks.vacuum_s": (med([dur(x) for x in vacuums]), "s", "lower"),
        "sinks.vacuum_files_removed": (med([x["removed"] for x in vacuums]), "count", "lower"),
        "sinks.affected_buckets": (med([x["affected_buckets"] for x in merges]), "count", "lower"),
        "sinks.files_written": (med([x["files_written"] for x in merges]), "count", "lower"),
        "sinks.bytes_written_per_event": (
            sum(x["bytes_written"] for x in merges) / applied if applied else 0.0,
            "B", "lower"),
        "sinks.manifest_bytes": (med([x["manifest_bytes"] for x in merges]), "B", "lower"),
        "sinks.cdf_s": (med(s.get("cdf_read_s", [])), "s", "lower"),
        "sinks.cdf_p75_s": (
            quantile(s["cdf_read_s"], 0.75) if s.get("cdf_read_s") else 0.0, "s", "lower"),
        "sinks.cdf_changed_buckets": (med(s.get("cdf_changed_buckets", [])), "count", "lower"),
        "sinks.cdf_rows": (med(s.get("cdf_rows", [])), "count", "higher"),
        "sinks.snapshot_s": (med(s.get("snapshot_read_s", [])), "s", "lower"),
        "driver.peak_rss_mb": (rss_mb, "MB", "lower"),
        "trace.events_per_s": (med(s["events_per_s"]), "1/s", "higher"),
        "operators.query_p50_s": (med(s.get("query_s", [])), "s", "lower"),
    }
    for name in OPERATOR_QUERIES:
        m[f"query.{name}_s"] = (med(s.get(f"query.{name}_s", [])), "s", "lower")
    return {k: {"value": float(v), "unit": u} for k, (v, u, _b) in m.items()}


def _print_self_times(kind: str, tracer, tally) -> None:
    """Per-layer self-time table: the spans, plus the trigger overhead the
    streaming listener reports, summed over the run."""
    rows = [(n, c, tot, slf) for n, (c, tot, slf) in sorted(tracer.self_times().items())]
    over = tally.samples.get("trigger_overhead_s", [])
    if over:
        rows.append(("streaming.trigger_overhead", len(over), sum(over), sum(over)))
    print(f"# per-layer self time, workload={kind}")
    print(f"# {'span':34s} {'count':>6s} {'total_s':>9s} {'self_s':>9s}")
    for n, c, tot, slf in rows:
        print(f"# {n:34s} {c:6d} {tot:9.3f} {slf:9.3f}")


def main() -> int:
    args = _parse()
    if not os.path.isfile(os.path.join(ROOT, "tiflow_spark", "__init__.py")):
        print("run from the repository root: tiflow_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = f"{WORK}/run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _configure_env(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    import pyspark

    from cdcbench import jvm
    from cdcbench.inputs import (
        TAIL, WARMUP, WARMUP_SEED, operator_tables, prepare_logs, query_order,
    )
    from cdcbench.trace import ProgressListener, Tracer
    from cdcbench.workloads import (
        OPERATOR_QUERIES, OperatorsWorkload, TailWorkload, Tally, median,
    )

    gen_s, cache_hit = 0.0, True
    if args.workload == "tail":
        # generated (or found in the cache) before the measuring session
        # starts: every run's set-up begins from a fresh JVM
        (warm_log, log), gen_s, cache_hit = prepare_logs(
            f"{WORK}/cache", [(WARMUP, WARMUP_SEED), (TAIL, args.seed)])

    t0 = time.perf_counter()
    spark = jvm.start("cdcbench")
    try:
        listener = ProgressListener()
        spark.streams.addListener(listener)
        session_s = time.perf_counter() - t0

        tracer = Tracer(spark) if args.trace else None
        tally = Tally()
        if args.workload == "operators":
            # set-up: one pass collected and checked against the oracles
            # (the check itself is untimed), then WARM_PASSES to the noop sink
            wl = OperatorsWorkload(spark, tracer)
            wl.load(operator_tables(), query_order(OPERATOR_QUERIES, args.seed))
            warm_s = wl.warmup_and_verify(tally, WARM_PASSES)
        else:
            # set-up drains the fixed warm-up log into a throwaway table
            wl = TailWorkload(spark, run_dir, listener, tracer)
            wl.load(log)
            t1 = time.perf_counter()
            wl.warmup(warm_log)
            warm_s = time.perf_counter() - t1
        setup_s = session_s + warm_s

        if tracer is not None:
            tracer.install()
        t_measure = time.perf_counter()
        jvm_pid = _jvm_pid(spark)
        while True:
            cpu0 = _tree_cpu_s(jvm_pid) + sum(os.times()[:2])
            jit0 = _jit_s(spark)
            try:
                wl.one_pass(tally)
            except Exception as e:  # noqa: BLE001 — counted; the run goes on
                tally.op(False, f"pass: {type(e).__name__}: {e}"[:300])
            # JIT compilation is counted in the pass's CPU (the engine keeps
            # compiling the code its plans generate) and reported apart
            tally.add("pass_jit_s", _jit_s(spark) - jit0)
            tally.add("pass_cpu_s", _tree_cpu_s(jvm_pid) + sum(os.times()[:2]) - cpu0)
            if (time.perf_counter() - t_measure >= args.seconds
                    and len(tally.samples["pass_cpu_s"]) >= MIN_PASSES[args.workload]):
                break
        measure_s = time.perf_counter() - t_measure
        if tracer is not None:
            tracer.uninstall()
        # JVM peak plus the Python driver's resident size, taken before the
        # untimed checks load their data
        rss_mb = (_status_kb(jvm_pid, "VmHWM") + _status_kb("self", "VmRSS")) / 1024.0
        if "pass_s" not in tally.samples:
            print(f"no pass completed: {tally.errors}", file=sys.stderr)
            return 1
        wl.verify(tally)

        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": jvm.cores(), "ram_gib": round(_mem_total_bytes() / 2**30, 1),
            "driver_mem": os.environ["TIFLOW_SPARK_DRIVER_MEM"],
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "commit": _git_commit(),
            "gen_s": round(gen_s, 3), "input_cache_hit": cache_hit,
            "session_s": round(session_s, 3),
            "warmup_s": round(warm_s, 3),
            "measure_s": round(measure_s, 3),
            "pass_s": [round(x, 3) for x in tally.samples["pass_s"]],
            "pass_cpu_s": [round(x, 3) for x in tally.samples["pass_cpu_s"]],
            "pass_jit_s": [round(x, 3) for x in tally.samples["pass_jit_s"]],
            "events_per_s": round(median(tally.samples["events_per_s"]), 1),
            "step_s": [round(x, 3) for x in tally.samples.get(
                "query_s" if args.workload == "operators" else "epoch_commit_s", [])],
            "samples": {k: len(v) for k, v in tally.samples.items()},
            "errors": tally.errors,
        }
        if tracer is None:
            metrics = _e2e_metrics(tally, setup_s)
        else:
            metrics = _layer_metrics(tally, tracer, rss_mb)
            span_path = f"{WORK}/spans-{args.workload}-{args.seed}.json"
            tracer.write(span_path)
            info["spans"] = os.path.relpath(span_path, ROOT)
            _print_self_times(args.workload, tracer, tally)
        print(json.dumps({"info": info}))
        print(json.dumps({
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        jvm.stop(spark)


if __name__ == "__main__":
    sys.exit(main())
