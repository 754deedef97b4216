"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what a real cluster submit would set via
``spark-submit --py-files`` (see engine docs): AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow on (every pandas UDF
crosses the JVM<->Python boundary in columnar batches), shuffle
partitions sized to the core count rather than the 200 default.

Defaults fit the host: every core ``os.cpu_count()`` reports and half of
physical RAM for the driver (capped at 16g). ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM`` override them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


MAX_DRIVER_MB = 16 * 1024


def session_defaults(
    environ=os.environ, cpu_count: int | None = None,
    phys_bytes: int | None = None,
) -> tuple[int, str]:
    """Default ``(cores, driver_memory)`` for :func:`get_spark`: the
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` overrides, else
    every core and half of physical RAM, capped at ``MAX_DRIVER_MB``.
    ``cpu_count`` / ``phys_bytes`` stand in for the host's values."""
    cores = environ.get("SPARK_GRAFT_CPUS")
    if cores is None:
        cores = cpu_count or os.cpu_count() or 1
    mem = environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is None:
        if phys_bytes is None:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        mem = f"{min(MAX_DRIVER_MB, phys_bytes // 2**21)}m"
    return int(cores), mem


def get_spark(
    app_name: str = "anomaly_detection_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    default_cores, driver_mem = session_defaults()
    if cores is None:
        cores = default_cores
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
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (see /root/repo/TESTDATA.md)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def shuffle_partitions(spark: SparkSession) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating platforms that
    set it to a non-numeric value ('auto' under auto-optimized shuffle):
    the fan-out pins only need a sane upper bound, so fall back to the
    cluster's default parallelism there."""
    v = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(v)
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism
