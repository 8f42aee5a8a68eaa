"""SparkSession factory tuned for the image workload.

Local sandbox runs ``local[$SPARK_GRAFT_CPUS]`` with a
``$SPARK_GRAFT_DRIVER_MEM`` heap, both sized from the host when unset; on a
real cluster the same builder is driven by spark-submit conf. Design notes:

- AQE on (adaptive coalescing + skew-join). Of the skew the fixtures
  produce on purpose (the z0 hot cell, FIXTURES.md §1), only
  ``layer_algebra``/``line_algebra`` salt hot cells explicitly;
  ``point_in_polygon_join``'s cell path relies on AQE's skew-join alone.
- Arrow batches are capped (images are fat rows: a 256x256 RGB PNG is
  ~100 KB, so 10k-row default batches would blow executor memory at scale).
- Session timezone pinned to UTC so duckdb-oracle comparisons are stable.
- Local masters fork Python workers from ``gdal_spark._daemon``: PySpark
  invalidates import caches once per task, which in CPython 3.11 re-reads
  ``pyspark.zip`` and the other zips on the worker path (150-290 ms a
  task); that fork server re-reads an archive only when it has changed.
  Cluster masters keep Spark's default daemon, since the module may not be
  importable where the executors start it (README "Cluster deployment").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of MemAvailable (at least
    1 GB): in local mode the driver JVM shares the host with one Python
    worker per core, and a heap larger than the host gets the JVM killed."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemAvailable:"))
    return f"{max(1024, kb // 2 // 1024)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "gdal_spark",
    shuffle_partitions: int | None = None,
    arrow_batch: int = 256,
    extra: dict | None = None,
) -> SparkSession:
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE", "0")
    ) or max(2 * cores, 32)
    arrow_batch = int(
        os.environ.get("SPARK_GRAFT_ARROW_BATCH", "0")
    ) or arrow_batch
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # grouped pandas stages are CPU-bound per group, not per byte: the
        # 64MB default advisory size would coalesce a few-hundred-MB
        # shuffle into a handful of tasks (the tile compose sets its own
        # partition count and does not depend on this)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", default_driver_memory())
        # ContextCleaner reclaims shuffle files / broadcasts / checkpoint
        # state only when driver GC collects their referents; with a large
        # heap GC may not run for the whole session, so accumulated state
        # taxes every later stage (measured: tile job 133 img/s after 15
        # queries vs 221 img/s right after a forced GC — BENCH/NOTES.md).
        # 2min (default 30min) bounds the decay for long sessions.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master == "local" or master.startswith("local["):
        # the workers' fork server; its package root goes on their
        # PYTHONPATH (Spark appends it), so it starts from any cwd
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.config("spark.python.daemon.module", "gdal_spark._daemon")
            .config("spark.executorEnv.PYTHONPATH", root)
        )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
