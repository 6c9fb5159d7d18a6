"""SparkSession construction with scale-appropriate defaults.

Single place that pins the configs the 100 TB design relies on: AQE (runtime
re-planning, skew-join splitting, partition coalescing), Arrow transfer for
the pandas-UDF kernels, and a shuffle-partition count sized to the
parallelism level. In the sandbox we run local[8]/local[32]; on a real
cluster the same builder is driven by spark-submit conf instead.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make ``cpdd_spark`` importable on executors.

    Driver-side ``sys.path`` hacks don't reach executor Python workers: any
    pandas-UDF closure that references this package dies with
    ``ModuleNotFoundError`` unless the package ships with the job. On a real
    cluster that's ``spark-submit --py-files cpdd_spark.zip`` (the north
    rule's deployment mode); here we zip the installed package once and
    ``addPyFile`` it, which is the same mechanism.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "cpdd_spark_pkg.zip")
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < max(
        os.path.getmtime(os.path.join(pkg_dir, f))
        for f in os.listdir(pkg_dir)
        if f.endswith(".py")
    ):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for fname in sorted(os.listdir(pkg_dir)):
                if fname.endswith(".py"):
                    zf.write(os.path.join(pkg_dir, fname), f"cpdd_spark/{fname}")
    spark.sparkContext.addPyFile(zip_path)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over the session's default parallelism.

    A single small parquet file scans as ONE partition, so a compute-heavy
    operator over it (an interpreted-Python kernel, a tokenize + explode,
    a corpus x queries cross join) would otherwise run in one task on one
    core — measured 1/32 utilization on the sf0.1 bench for the media
    kernels. Callers spread a narrow projection, so the shuffle moves only
    the columns the operator reads; at cluster scale the scan is already
    wider and this is a cheap rebalance."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def default_driver_memory() -> str:
    """Half the host's physical memory in whole GiB, at least ``1g``.

    In local mode the driver JVM is also the executor, and the Python
    workers and the OS page cache share the rest of the host."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys >> 31)}g"


def get_spark(
    master: str | None = None,
    app_name: str = "cpdd_spark",
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master=None`` defers to spark-submit / existing session — the cluster
    path. Explicit ``local[N]`` is the sandbox two-scale protocol
    (BASELINE.md: local[8] vs local[32] as the N vs 4N executor proxy).
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        # local mode runs driver==executor in ONE JVM whose default heap is
        # 1g — far too small for shuffles at bench scale — so the default
        # is fitted to the host (default_driver_memory); the variable
        # overrides it. Must be set before the JVM launches (no-op on an
        # already-running session). On a real cluster spark-submit
        # --driver-memory/--executor-memory governs.
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", default_driver_memory()
        ),
        # AQE: runtime coalescing of small shuffle partitions and skew-join
        # splitting — first line of defense for hot LSH bands at scale.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow batches for every pandas UDF (MinHash/SimHash/Jaccard kernels).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Transcripts compress extremely well; keep scan splits reasonable.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # FLOOR on scan parallelism, tied to the session's parallelism
        # level (not a constant): a 100-200 MB multi-row-group table
        # otherwise packs into 1-2 splits and its whole scan+map side runs
        # on 1-2 cores. At cluster scale real inputs carry far more splits
        # than cores and the floor is inert; single-row-group files can't
        # be split by config at all (the compute-heavy operators over
        # those spread explicitly — see spread and its call sites).
        "spark.sql.files.minPartitionNum": str(shuffle_partitions),
        # InferFiltersFromGenerate copies an explode's GENERATOR EXPRESSION
        # into an inferred `size(e) > 0` predicate and pushes it to the
        # scan. When the generator is expensive (shingling: per-gram
        # array_join over sliced token arrays), the pushed predicate
        # re-evaluates the whole construction per row with the
        # tokenization re-inlined PER GRAM — measured 27x slowdown on the
        # n-gram index build (35 s -> 1.3 s for 1M grams; the round-5
        # scale rehearsal caught it as a 390x superlinear stage at 40k
        # docs). Our explodes are all over computed arrays where the
        # inferred filter prunes nothing a cheap explicit filter doesn't
        # already (ngram filters on token count; band/sketch arrays are
        # fixed-width non-empty), so the rule is pure loss here.
        "spark.sql.optimizer.excludedRules": (
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
        ),
        "spark.sql.session.timeZone": "UTC",
        # Quieter local runs.
        "spark.ui.showConsoleProgress": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
