"""Start and stop the benchmark's Spark driver JVM."""

from __future__ import annotations

import subprocess


def start_session(cores: int, driver_mem: str, app: str = "perfbench"):
    from parquet_playground_rs_spark.session import get_spark

    return get_spark(app=app, cores=cores, shuffle_partitions=cores,
                     driver_mem=driver_mem, ui=False)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
