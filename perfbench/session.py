"""The benchmark's own Spark session.

The settings live here, not in the repo's ``bench.py``, so that editing
that script cannot move these numbers. They follow the engine's tuned
bench session: adaptive query execution, zstd parquet checkpoints, Arrow
transfers, ParallelGC and a heap sized to the working set.
"""

from __future__ import annotations

import os
import sys


def cores() -> int:
    """``local[k]`` with k = min(2, nproc): the crawl is bound by per-job
    fixed cost, not by task parallelism; on a 4-vCPU box k = 2 crawled as
    fast as k = 4 with about a quarter less CPU, and leaves cores to the
    JVM's compiler and GC threads and the driver."""
    return max(1, min(2, os.cpu_count() or 1))


HEAP = "3g"


def make_session(scratch: str, event_log_dir: str | None = None):
    """Start a local session whose temporary files all land in ``scratch``.

    ``event_log_dir`` turns on Spark's uncompressed event log (traced
    runs only)."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # would override spark.local.dir
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the launcher too) keeps its files out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    k = cores()
    b = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(2 * k, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it exits when its standard input closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
