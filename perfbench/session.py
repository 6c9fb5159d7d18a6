"""Spark session set-up for the benchmark, fitted to the host.

Everything the session writes stays under the benchmark's work directory:
temporary files, Spark's local directories, the warehouse. Driver memory
goes through the package's ``SPARK_GRAFT_DRIVER_MEM`` variable, whose 32g
default does not fit a small host.
"""

from __future__ import annotations

import os
import subprocess
import time

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "1g"
SETUP_SAMPLES = 3  # cold session starts per run; setup_s is their median


def prepare_env(work: str) -> None:
    """Environment for the session and its child processes; call before
    the first Spark import starts a JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _extra_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the traced run reads its jobs back from the status store; keep
        # every job and stage of one invocation
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "20000",
    }


def _session(work: str):
    from cpdd_spark.session import get_spark

    return get_spark(
        master=MASTER,
        app_name="perfbench",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=_extra_conf(work),
    )


def start(work: str):
    """Cold session start and package ship, then the Python-worker spawn:
    what one ``spark-submit`` pays before its first query. Returns
    (spark, session seconds, spawn seconds)."""
    t0 = time.perf_counter()
    spark = _session(work)
    t1 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    # one task per core through a Python worker: spawns the daemon and its
    # workers with their pandas/Arrow imports
    spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def start_measured(work: str):
    """Start the session ``SETUP_SAMPLES`` times, each in a fresh JVM, and
    keep the last. Returns (spark, session-start seconds of every sample,
    worker-spawn seconds of the kept session)."""
    starts = []
    for _ in range(SETUP_SAMPLES - 1):
        t0 = time.perf_counter()
        spark = _session(work)
        starts.append(time.perf_counter() - t0)
        stop(spark, kill=True)
    spark, s, spawn = start(work)
    starts.append(s)
    return spark, starts, spawn


def stop(spark, kill: bool = False) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited.
    ``kill`` ends the JVM at once instead of letting it shut down, for a
    session that has run nothing worth flushing."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if kill:
                proc.kill()
            elif proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
