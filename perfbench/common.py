"""Session, timing and sizing helpers shared by the benchmark workloads."""

from __future__ import annotations

import os
import resource
import statistics
import subprocess
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Load is one process on four local cores; shuffle partitions match the
#: cores, as in the test session.
CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"


def start_spark(work: str, cores: int = CORES):
    """Start the engine's session with its scratch paths inside ``work``
    (Spark's local dirs come from ``SPARK_LOCAL_DIRS``, set by the caller).

    Returns ``(spark, seconds spent in get_spark)``."""
    from bigdata_covid19_real_time_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def p50(values: list[float]) -> float:
    return statistics.median(values)


def p75(values: list[float]) -> float:
    """Third quartile, interpolated within the sample's range (a run has
    few epochs; the exclusive method would extrapolate towards the max)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=4, method="inclusive")[2]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def dir_files(path: str, suffix: str = "") -> int:
    return sum(
        f.endswith(suffix) for _, _, files in os.walk(path) for f in files
    )


def jobs_in_group(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


class LoadTableTracer:
    """Wraps ``sources.batch.load_table`` everywhere a module bound it,
    counting calls, their time and the jobs they launch; restores the
    original on exit."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.calls = 0
        self.seconds = 0.0
        self.jobs = 0
        self.tables: list[str] = []
        self._patched: list = []

    def __enter__(self):
        import sys

        from bigdata_covid19_real_time_spark.sources import batch

        original = batch.load_table

        def traced(spark, sf_dir, name):
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            group = f"perfbench-load-{uuid.uuid4().hex}"
            self.sc.setJobGroup(group, f"load_table {name}")
            t0 = time.perf_counter()
            try:
                return original(spark, sf_dir, name)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1
                self.tables.append(name)
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
                self.jobs += jobs_in_group(self.sc, group)

        for mod in list(sys.modules.values()):
            if getattr(mod, "load_table", None) is original:
                self._patched.append(mod)
                mod.load_table = traced
        self._original = original
        return self

    def __exit__(self, *exc) -> None:
        for mod in self._patched:
            mod.load_table = self._original
