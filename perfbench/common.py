"""Session lifetime, statistics and Spark status helpers shared by the
workloads.  Nothing here imports the program under test at module
level, so the helpers can be tested without Spark."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_work")


# --- the workload interface ------------------------------------------------


class Workload:
    """What ``run.py`` drives.  A workload generates its inputs, warms
    up once, then runs ``op(i)`` for i = 0, 1, ... while ``has_op(i)``;
    each op returns a record with at least ``wall`` (seconds).  Failed
    checks are collected in ``checks`` as (name, ok, detail).  An
    untraced run makes at least ``min_ops`` ops."""

    min_ops = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.checks: list[tuple[str, bool, str]] = []

    def check(self, name: str, got, want) -> None:
        self.checks.append((name, got == want, f"got {got}, want {want}"))

    def has_op(self, i: int) -> bool:
        return True

    def final_checks(self, ops: list[dict]) -> None:
        """Checks of the state the timed ops left behind."""


# --- statistics ----------------------------------------------------------


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them;
    a single sample is its own quartiles."""
    if len(values) == 1:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tracing_overhead(walls: list[float]) -> float:
    """Median over the traced ops (even, from op 2 on) that have an
    untraced op on each side of the op's time minus the mean of its two
    neighbours'.  Op cost drifts as a stream's log grows, and the
    neighbours bracket the traced op, so the drift cancels to first
    order.  Op 0, the first after warm-up, is slower than the rest, so
    it is never a neighbour."""
    return median([
        walls[i] - (walls[i - 1] + walls[i + 1]) / 2 for i in range(2, len(walls) - 1, 2)
    ])


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median: the run-to-run spread the bounds are set against."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


# --- process environment ---------------------------------------------------


def fresh_workdir(name: str) -> str:
    """An empty scratch directory inside the checkout.  Spark's local
    dirs, the JVM's and Python's temp files and every warehouse the
    run writes live under it, so nothing is read back from an earlier
    run and nothing is written outside the checkout."""
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """The program's own session builder on ``local[nproc]``."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    from rakam_api_spark.session import get_spark

    spark = get_spark("rakam-perfbench", cpus=cpus())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway JVM and wait for it to exit
    (it exits on EOF of its stdin)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- Spark status at op boundaries ----------------------------------------


def drain_listener_bus(sc, timeout_ms: int = 10_000) -> None:
    """Wait until job and stage events reach the status store, so the
    tracker sees every job of the op that just returned."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def known_job_ids(sc) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(None))


def jobs_in_window(job_ids: list[int], before_max: int) -> list[int]:
    """Job ids are issued in increasing order, and one caller runs one
    op at a time, so the jobs an op launched are exactly the ids above
    the largest id known when it started."""
    return sorted(j for j in job_ids if j > before_max)


def window_stats(sc, jobs: list[int]) -> dict[str, int]:
    """Jobs, stages that ran at least one task, and tasks completed."""
    tracker = sc.statusTracker()
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = 0
    for s in stages:
        st = tracker.getStageInfo(s)
        if st is not None and st.numCompletedTasks > 0:
            ran += 1
            tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


def cached_storage(sc) -> tuple[int, float]:
    """(RDDs with cached partitions, MB held in memory and on disk) as
    the block manager reports them."""
    n = 0
    size = 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        if info.numCachedPartitions() > 0:
            n += 1
            size += info.memSize() + info.diskSize()
    return n, size / 1e6


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files ending in ``suffix``, their total bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            if f.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size
