"""SparkSession factory tuned for the engine.

Local-mode settings mirror what we would submit on a real cluster via
spark-submit --py-files: AQE on (runtime skew-join + coalesce), Arrow
transfer on with the reference's 65 536-row batch size
(ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp:1947 MAX_FEATURES_IN_BATCH).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 65_536  # reference Arrow batch size (ogrlayerarrow.cpp:1947)


def _driver_memory() -> str:
    """Half the host's physical memory, capped at 24g: in local mode the
    driver JVM shares the host with every Python worker."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2, 24 << 30) >> 20}m"


def get_spark(
    app_name: str = "gdal-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    ``shuffle_partitions`` scales with cores so the same job is a fair
    scaling-efficiency measurement at local[8] vs local[32].
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 16)
    # Keep glibc from serving numpy's batch temporaries via mmap/munmap:
    # at 32 concurrent Python workers the resulting TLB-shootdown storm
    # made the Arrow refine stage 7x SLOWER at local[32] than local[8]
    # (measured; see BASELINE.md). Workers inherit the driver's env in
    # local mode; on a cluster set the same via spark.executorEnv.*.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_ARENA_MAX", "4")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_ARENA_MAX", "4")
    )
    return builder.getOrCreate()
