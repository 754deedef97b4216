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

from pyspark.sql import DataFrame, SparkSession


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


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples in ``schema`` order) under
    the DDL ``schema``. Every frame the engine builds from Python values
    goes through here.

    The rows become a ``pyarrow.Table``, which the JVM reads itself: the
    frame plans as a ``LocalTableScan``. Built from a list of tuples it
    would plan a PythonRDD (``Scan ExistingRDD``), and every action on it
    would start Python workers (~0.3 s per action at local[4]). Columns
    are inferred from the values, then cast to the schema with Arrow's
    safe cast, so a lossy value (1.5 for a ``bigint``) raises instead of
    being truncated."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    target = to_arrow_schema(StructType.fromDDL(schema))
    if rows:
        cols = [pa.array(c) for c in zip(*rows, strict=True)]
        table = pa.Table.from_arrays(cols, names=target.names)
    else:
        table = target.empty_table()
    return spark.createDataFrame(table.cast(target))


def group_apply(df: DataFrame, group_cols, fn, schema, *,
                max_groups: int | None = None) -> DataFrame:
    """Pandas grouped map of ``fn`` over ``group_cols`` (``groupBy``, then
    ``applyInPandas``) with its fan-out pinned to
    ``min(max_groups, defaultParallelism)`` tasks. Every grouped pandas
    stage goes through here.

    AQE's coalescePartitions sizes post-shuffle partitions by BYTES
    (64 MB advisory) and knows nothing of the downstream Python cost, so
    at small shuffle volumes it collapsed every applyInPandas stage to
    ONE task: measured 5.9 s single-task vs 0.9 s parallel on the RRCF
    kernel, where 25k rows are ~2 MB of shuffle but ~5 s of Python
    (PLANS.md lesson 8). A ``repartition(n, cols)`` with an explicit
    count is exempt from coalescing, and the groupBy on the same columns
    reuses its partitioning (no second exchange). The per-group work is
    Python CPU, which scales with cores, so ``n`` is the core count,
    never more than the number of groups (``max_groups``)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if max_groups:
        n = min(n, max_groups)
    return (df.repartition(n, *group_cols).groupBy(*group_cols)
            .applyInPandas(fn, schema=schema))
