"""Benchmark inputs.

tail: change logs written by the engine's key-local writer
(``tiflow_spark.sources.datagen.write_epoch_files_key_local``). It writes one
file per epoch directory whatever the core count, so a feed with
``max_files_per_trigger=1`` commits one epoch per microbatch on any machine.
The logs are generated in a child process (``python3 -m cdcbench.inputs``)
before the measuring SparkSession starts, so the JVM that is measured never
runs a generation job. They are cached per (shape, seed, generator source).

operators: the fixed sf0.01 tables in ``cdcbench/data/sf0.01``, copied
unchanged from the repository's read-only test data (the scale its DuckDB
oracles are checked at). The seed only orders the queries in a pass.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
OPERATORS_DIR = os.path.join(HERE, "data", "sf0.01")
OPERATORS_TABLES = ("events", "documents", "embeddings")

# Change-log shapes: ``epochs`` is the number of microbatches a drain must
# commit (a different count is a failed operation), each one contiguous
# conv-id range.
TAIL = dict(n_convs=1_500, epochs=6)
# Throwaway two-epoch log drained during set-up; fixed, so it is made once.
WARMUP = dict(n_convs=200, epochs=2)
WARMUP_SEED = 7


def _spec(shape: dict, seed: int):
    from tiflow_spark.sources.datagen import GenSpec

    return GenSpec(n_convs=shape["n_convs"], hot_turns=256, n_source_partitions=32, seed=seed)


def _source_hash() -> str:
    """Hash of the code that decides a log's content: the generator and
    this file. A change to either makes new cache entries."""
    import tiflow_spark.sources.datagen as datagen

    h = hashlib.sha256()
    for path in (datagen.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _entry(cache_root: str, shape: dict, seed: int) -> str:
    return f"{cache_root}/{_source_hash()}-c{shape['n_convs']}-e{shape['epochs']}-s{seed}"


def _write_log(spark, shape: dict, seed: int, entry: str) -> None:
    """Child side: write one log under ``entry`` and its ``meta.json`` (last,
    so an entry without it is incomplete and made again)."""
    from tiflow_spark.sources.datagen import write_epoch_files_key_local

    shutil.rmtree(entry, ignore_errors=True)
    spec = _spec(shape, seed)
    paths = write_epoch_files_key_local(spark, spec, f"{entry}/log", n_groups=shape["epochs"])
    per_epoch = []
    for p in paths:
        files = glob.glob(f"{p}/*.parquet")
        if len(files) != 1:
            raise RuntimeError(f"{p}: {len(files)} files, expected 1")
        per_epoch.append(pq.read_metadata(files[0]).num_rows)
    meta = {
        "events_dir": f"{entry}/log/epoch_*",
        "events_per_epoch": per_epoch,
        "events": sum(per_epoch),
        "ddl_ts": spec.ddl_ts,
    }
    with open(f"{entry}/meta.json", "w") as f:
        json.dump(meta, f)


def prepare_logs(cache_root: str, jobs: list[tuple[dict, int]]) -> tuple[list[dict], float, bool]:
    """Return (log metadata per job, generation seconds, all cached) for
    ``jobs`` of (shape, seed). Missing logs are generated by one child
    process, which has ended when this returns."""
    entries = [_entry(cache_root, shape, seed) for shape, seed in jobs]
    missing = [
        {"entry": e, "shape": shape, "seed": seed}
        for e, (shape, seed) in zip(entries, jobs)
        if not os.path.exists(f"{e}/meta.json")
    ]
    t0 = time.perf_counter()
    if missing:
        subprocess.run(
            [sys.executable, "-m", "cdcbench.inputs", json.dumps(missing)],
            cwd=os.path.dirname(HERE), check=True, stdout=subprocess.DEVNULL,
        )
    gen_s = time.perf_counter() - t0
    metas = []
    for e in entries:
        with open(f"{e}/meta.json") as f:
            metas.append(json.load(f))
    return metas, gen_s, not missing


def operator_tables() -> dict:
    """The fixed operators tables: directory and row count."""
    rows = sum(
        pq.read_metadata(f"{OPERATORS_DIR}/{t}.parquet").num_rows for t in OPERATORS_TABLES
    )
    return {"sf_dir": OPERATORS_DIR, "rows": rows}


def query_order(names: list[str], seed: int) -> list[str]:
    """The operators pass runs its queries in a seeded order."""
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def _generate(jobs: list[dict]) -> None:
    from cdcbench import jvm

    spark = jvm.start("cdcbench-inputs")
    try:
        for job in jobs:
            _write_log(spark, job["shape"], job["seed"], job["entry"])
    finally:
        jvm.stop(spark)


if __name__ == "__main__":
    _generate(json.loads(sys.argv[1]))
