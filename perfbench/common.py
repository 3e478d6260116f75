"""Spark session sizing, repeated set-up, provenance and result helpers
shared by the workloads."""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import sys
import time


SETUP_REPEATS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """Driver heap: a quarter of physical memory, at most 4 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return int(min(4096, total // 4))


def start_session(work: str):
    """A ``local[nproc]`` session whose scratch files stay under ``work``."""
    from pyspark.sql import SparkSession

    n = nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", f"{heap_mb()}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def repeated_setup(work: str, setup_once, teardown=None):
    """Run the workload's set-up ``SETUP_REPEATS`` times, each in a fresh
    SparkContext of the same JVM, and keep the last. ``setup_once(spark)``
    generates the inputs and builds (or adds) the plans; ``teardown()``
    undoes what it started before the next repetition, untimed. Returns
    ``(spark, median set-up seconds)``."""
    times = []
    spark = None
    for _ in range(SETUP_REPEATS):
        if spark is not None:
            if teardown is not None:
                teardown()
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        setup_once(spark)
        times.append(time.perf_counter() - t0)
    return spark, statistics.median(times)


# Median time of one HostProbe sample on the reference host (4 vCPUs of a
# shared host, at a quiet time). End-to-end figures are reported at this
# speed.
PROBE_REF_S = 0.35


class HostProbe:
    """Times a fixed Spark job that does not use the library, to tell how
    fast the shared host runs: a hash aggregate over ``spark.range`` on
    every core (JVM) and a ``mapInPandas`` pass (Python workers, Arrow).
    Like the workloads' units, it is dominated by per-job and per-task
    costs. The host's speed drifts by 20-50% over minutes, with or without
    time stolen by the hypervisor, and moves the probe with the workloads."""

    def __init__(self, spark):
        self.spark = spark
        self.samples: list[float] = []
        self._run()  # the first run starts the Python workers; not kept

    def _run(self) -> float:
        def batches(it):
            # nested, so that the Python workers get it by value
            import pandas as pd

            for b in it:
                yield pd.DataFrame({"x": [float((b["id"] * 3).sum())]})

        n = nproc()
        t0 = time.perf_counter()
        self.spark.range(0, 5_000_000, 1, n).selectExpr("sum(hash(id))").collect()
        self.spark.range(0, 100_000, 1, n).mapInPandas(batches, "x double").collect()
        return time.perf_counter() - t0

    def sample(self, repeats: int = 2) -> None:
        self.samples += [self._run() for _ in range(repeats)]

    def factor(self) -> float:
        """Host speed against the reference host's: below 1 when slower."""
        log("host probe " + " ".join(f"{x:.3f}" for x in self.samples))
        return PROBE_REF_S / statistics.median(self.samples)


def provenance(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    import pyspark

    return {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": nproc(), "heap_mb": heap_mb(), "spark": pyspark.__version__,
        "python": platform.python_version(), "platform": platform.platform(),
    }


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)

