"""Helpers shared by the three workloads: percentiles, run conditions,
set-up timing and Spark cleanup."""

from __future__ import annotations

import gc
import hashlib
import math
import os
import platform
import statistics
import time

PERCENTILES = (50, 75, 90, 95, 99)


def since_process_start() -> float:
    """Seconds since this process was created (clock-tick resolution)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        # field 22 (starttime) counted after the parenthesised command
        fields = fh.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(samples)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail_percentile(samples: list[float], need_beyond: int = 10):
    """(p, value) for the highest of PERCENTILES with at least
    ``need_beyond`` samples strictly above it; None when even the
    median has fewer."""
    best = None
    for p in PERCENTILES:
        v = percentile(samples, p)
        if sum(1 for x in samples if x > v) >= need_beyond:
            best = (p, v)
    return best


def canary_ms(rounds: int = 100_000, repeats: int = 3) -> float:
    """Median wall of a fixed md5 chain: a machine-speed probe recorded
    beside every run. Metrics are never rescaled by it."""
    walls = []
    for _ in range(repeats):
        h = b"perfbench"
        t0 = time.perf_counter()
        for _ in range(rounds):
            h = hashlib.md5(h).digest()
        walls.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(walls)


def conditions(spark) -> dict:
    return {
        "loadavg_1m": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"
        ),
        "python_version": platform.python_version(),
    }


def release(spark) -> None:
    """Drop cached frames and persisted/checkpointed RDD blocks between
    operations, outside any timed region (the same cleanup bench.py
    runs between rows)."""
    gc.collect()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM gateway and wait for the
    JVM process to exit, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def sha256_files(paths: list[str]) -> str:
    """sha256 over the files' bytes in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def parquet_bytes(path: str) -> int:
    """Bytes of the Parquet data files under ``path`` (0 if absent)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                total += os.path.getsize(os.path.join(root, f))
    return total
