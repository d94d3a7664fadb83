"""SparkSession factory with the engine's standard configuration.

Scale posture (tuned for a real multi-executor cluster; the sandbox
only swaps master local[N]):

* AQE on — runtime coalescing + skew-join splitting is the first line
  of defense against hot cells (SURVEY.md §4 "skew handling").
* Arrow on — every Python-side kernel is an Arrow-batched pandas UDF
  (the reference's own columnar contract, ogrlayerarrow.cpp).
* shuffle.partitions sized to cores locally; on a cluster this should
  be 2-3× total executor cores (set via spark-submit --conf).
* cores and driver memory default to what this host has (see
  ``host_defaults``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_defaults() -> tuple[int, str]:
    """(cores, driver memory) for ``local[N]`` on this host.

    ``$SPARK_GRAFT_CPUS`` and ``$SPARK_DRIVER_MEM`` win when set.
    Otherwise cores are the CPUs this process may run on, and driver
    memory is 16g capped at half of the host's physical memory."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cores = int(cpus) if cpus else len(os.sched_getaffinity(0))
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    mem = os.environ.get("SPARK_DRIVER_MEM") or f"{min(16 << 10, total_mb // 2)}m"
    return cores, mem


def get_spark(
    app_name: str = "gdal_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    host_cores, driver_mem = host_defaults()
    if cores is None:
        cores = host_cores
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate duplicates the generator's full
        # expression tree into a size(...) > 0 pre-filter. Every
        # explode in this engine feeds a COMPUTED fixed-length array
        # (cell covers, ring offsets, band structs) that is never
        # empty/null, so the inferred filter only doubles the
        # codegen'd arithmetic per row (observed 2x the cell-cover
        # math in the PIP join plan).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
