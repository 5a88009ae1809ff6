"""Start and stop the local SparkSession the benchmark runs on."""

from __future__ import annotations

import os
import subprocess


def cores() -> int:
    return os.cpu_count() or 1


def start(app: str):
    """A ``local[nproc]`` session with one shuffle partition per core."""
    from tiflow_spark.session import get_spark

    return get_spark(app, cores=cores(), shuffle_partitions=cores())


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
