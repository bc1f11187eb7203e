"""SparkSession factory with scale-oriented defaults.

Tuned for the 100 TB design point (SURVEY.md §4): AQE with partition
coalescing and skew-join splitting, Arrow exchange for the pandas-UDF
stages, and an explicit shuffle-partition count (overridable per run).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding this package, for the Python workers' path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_mem() -> str:
    """min(32g, half of physical RAM), floor 2g."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(f.readline().split()[1])
        return f"{max(2, min(32, kb // (2 * 1024 * 1024)))}g"
    except Exception:
        return "8g"


def get_spark(app_name: str = "crego-document-extractor-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if not master:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-join handling (north_rule)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow exchange for mapInPandas / pandas_udf stages
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # heavy-tailed docs: keep Arrow batches bounded so one 50k-span
        # document can't blow a batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM heap IS the whole executor pool —
        # at 32 threads an 8g heap turns allocation into the scaling
        # ceiling (measured: 32-core wall -27% going 8g → 32g); capped
        # at half the physical RAM so the library default can't drive
        # a small host into swap
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_mem()))
        # throughput GC: the explode+aggregate extraction plan allocates
        # heavily (UTF8String/regexp churn); ParallelGC measured ~30%
        # less CPU and half the GC time vs default G1 at local[32]
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS",
                               "-XX:+UseParallelGC"))
        .config("spark.ui.enabled", "false")
        # the Python worker daemon: stock pyspark.daemon, minus the
        # per-task re-read of Spark's zip archives on CPython 3.11
        # (pydaemon.py); the package root goes on the workers' path so
        # it is found from any cwd
        .config("spark.python.daemon.module",
                "crego_document_extractor_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return builder.getOrCreate()
