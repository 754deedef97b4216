"""Per-partition audit ledger + resume (north rule: "every partition's
lineage, stats, and check metrics are checkpointed to an Iceberg audit
table so a killed run resumes from the last committed partition").

The reference's only resume mechanism is rewriting its JSON config on
retrain (/root/reference/src/consumer.py:88-104). The engine replaces that
with a proper ledger:

* work is split into logical partitions (e.g. repo buckets);
* each partition's run appends ONE audit row: lineage (input fingerprint,
  row count), column stats (Welford moments), check metrics (per-check
  error/warning counts), verdict, wall time, run id;
* resume = a filter ``NOT partition_key IN (committed keys)`` on the
  input. On the catalog layout it lands in the scan's
  ``PartitionFilters``, so committed buckets' files are never opened;
* one commit = one aggregate job over every pending partition plus one
  ledger append.

Storage is a parquet directory in append mode (one file per commit,
which is atomic-enough: a killed write leaves a missing file, not a torn
row). ``compact()`` and the crash recovery rename directories, so the
ledger lives on a filesystem.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomaly_detection_spark.session import local_frame

AUDIT_SCHEMA = (
    "partition_key string, run_id string, committed_at double, "
    "n_rows bigint, n_value bigint, input_fingerprint bigint, "
    "mean double, m2 double, "
    "n_error bigint, n_warning bigint, n_undefined bigint, "
    "verdict string, wall_s double"
)


class AuditLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame | None:
        """The ledger, or None if none exists yet. Any other read failure
        raises: reading an unreadable ledger as empty would recompute
        every partition and append duplicate rows."""
        self._recover()
        try:
            return self.spark.read.parquet(self.path)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return None

    def committed(self) -> DataFrame:
        """Partition keys already committed (empty frame if no ledger yet)."""
        df = self._read()
        if df is None:
            return local_frame(self.spark, [], AUDIT_SCHEMA)
        return df

    def committed_keys(self) -> list[str]:
        """The distinct committed partition keys — the one resume rule.
        With no ledger yet it returns [] and runs no Spark job."""
        df = self._read()
        if df is None:
            return []
        return [r[0] for r in df.select("partition_key").distinct().collect()]

    def append(self, rows: DataFrame) -> None:
        rows.write.mode("append").parquet(self.path)

    def compact(self, target_files: int = 1) -> int:
        """Rewrite the ledger into ``target_files`` files (append mode
        creates one file set per commit; long-running ledgers accumulate
        small files). Returns the row count. On Iceberg this maps to
        rewrite_data_files; here: write the compacted copy to a sibling
        directory, rename the old ledger aside, rename the copy in, and
        only then delete the old one. Siblings share a filesystem, so both
        renames are atomic; a crash between them leaves the whole ledger
        aside, where :meth:`committed` finds it. With no ledger yet it
        writes nothing and returns 0."""
        df = self._read()
        if df is None:
            return 0
        n = df.count()
        path = self.path.rstrip("/")
        new, old = path + ".compact", path + ".old"
        shutil.rmtree(new, ignore_errors=True)
        df.coalesce(target_files).write.parquet(new)
        os.replace(path, old)
        os.replace(new, path)
        shutil.rmtree(old)
        return n

    def _recover(self) -> None:
        """Finish a compaction that stopped after renaming the old ledger
        aside: put it back if the new one never arrived, else drop it."""
        path = self.path.rstrip("/")
        old = path + ".old"
        if os.path.isdir(old):
            if os.path.exists(path):
                shutil.rmtree(old)
            else:
                os.replace(old, path)


def run_partitioned_checks(
    spark: SparkSession,
    df: DataFrame,
    *,
    partition_col: str,
    value_col: str,
    code_cols: list[str],
    ledger: AuditLedger,
    run_id: str | None = None,
    fail_on_error_rate: float = 0.0,
) -> DataFrame:
    """Execute a compiled check suite partition-wise with resume.

    ``df`` must already carry the per-row check code columns. Committed
    partitions are filtered out of ``df`` (on a partitioned scan, before
    any file is opened); then one Spark job aggregates EVERY pending
    partition's metrics (no per-partition driver loop — the grouping is
    distributed) and collects them, one row per partition; the rows are
    appended to the ledger in one single-file write. ``wall_s`` is that
    aggregation's wall time, shared by the rows of one commit. Verdict
    per partition: 'fail' if error_rate > fail_on_error_rate else 'pass'.

    Returns the audit rows written this run (empty if nothing pending).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    key = F.col(partition_col).cast("string")
    done = ledger.committed_keys()
    # rows with a null key belong to no partition and are never audited
    # (NOT IN drops them as well)
    scoped = df.withColumn("partition_key", key).filter(
        ~key.isin(done) if done else key.isNotNull())

    err = sum(F.when(F.col(c) == -1, 1).otherwise(0) for c in code_cols)
    warn = sum(F.when(F.col(c) == 0, 1).otherwise(0) for c in code_cols)
    undef = sum(F.when(F.col(c) == 2, 1).otherwise(0) for c in code_cols)
    v = F.col(value_col).cast("double")

    t0 = time.perf_counter()
    agg = scoped.groupBy("partition_key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        # non-null value count: mean is over non-null values only, so
        # exact totals recover as mean * n_value (NOT mean * n_rows,
        # which overcounts whenever the value column has nulls)
        F.count(v).alias("n_value"),
        # order-insensitive lineage fingerprint of the partition's input
        # (bit_xor never overflows, unlike sum under ANSI mode)
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns
                               if not c.startswith("c_") and c != "partition_key"]))
        .alias("input_fingerprint"),
        F.avg(v).alias("mean"),
        (F.var_pop(v) * F.count(v)).alias("m2"),
        F.sum(err).cast("bigint").alias("n_error"),
        F.sum(warn).cast("bigint").alias("n_warning"),
        F.sum(undef).cast("bigint").alias("n_undefined"),
    ).collect()
    wall = time.perf_counter() - t0
    committed_at = time.time()
    audit = local_frame(spark, [
        (r.partition_key, run_id, committed_at, r.n_rows, r.n_value,
         r.input_fingerprint, r.mean, r.m2,
         r.n_error, r.n_warning, r.n_undefined,
         "fail" if r.n_error > r.n_rows * fail_on_error_rate else "pass",
         wall) for r in agg], AUDIT_SCHEMA)
    if agg:
        ledger.append(audit.coalesce(1))
    return audit
