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
* resume = anti-join the partition list against committed audit rows —
  only pending partitions are recomputed.

Sandbox storage is a parquet directory in append mode (one file per
commit, which is atomic-enough: a killed write leaves a missing file, not
a torn row). On a real cluster the same writer targets an Iceberg table
(``.writeTo(...).append()`` is transactional); the format is chosen by
``audit_format``.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

AUDIT_SCHEMA = (
    "partition_key string, run_id string, committed_at double, "
    "n_rows bigint, n_value bigint, input_fingerprint bigint, "
    "mean double, m2 double, "
    "n_error bigint, n_warning bigint, n_undefined bigint, "
    "verdict string, wall_s double"
)


class AuditLedger:
    def __init__(self, spark: SparkSession, path: str,
                 audit_format: str = "parquet"):
        self.spark = spark
        self.path = path
        self.fmt = audit_format

    def committed(self) -> DataFrame:
        """Partition keys already committed (empty frame if no ledger yet).
        Any other read failure raises: reading an unreadable ledger as
        empty would recompute every partition and append duplicate rows."""
        try:
            return self.spark.read.format(self.fmt).load(self.path)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return self.spark.createDataFrame([], AUDIT_SCHEMA)

    def pending(self, partitions: DataFrame, key: str = "partition_key") -> DataFrame:
        """Anti-join: partitions with no committed audit row."""
        done = self.committed().select(
            F.col("partition_key").alias(key)
        ).distinct()
        return partitions.join(done, on=key, how="left_anti")

    def append(self, rows: DataFrame) -> None:
        rows.write.format(self.fmt).mode("append").save(self.path)

    def compact(self, target_files: int = 1) -> int:
        """Rewrite the ledger into ``target_files`` files (append mode
        creates one file set per commit; long-running ledgers accumulate
        small files). Returns the row count. On Iceberg this maps to
        rewrite_data_files; here: read -> coalesce -> atomic swap via a
        temp directory."""
        import shutil
        import tempfile

        df = self.committed()
        n = df.count()
        tmp = tempfile.mkdtemp(prefix="audit_compact_")
        try:
            df.coalesce(target_files).write.format(self.fmt)               .mode("overwrite").save(tmp + "/data")
            shutil.rmtree(self.path)
            shutil.move(tmp + "/data", self.path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return n


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

    ``df`` must already carry the per-row check code columns. One Spark
    job aggregates EVERY pending partition's metrics (no per-partition
    driver loop — the grouping is distributed); the result is appended to
    the ledger in one atomic-ish write. Verdict per partition: 'fail' if
    error_rate > fail_on_error_rate else 'pass'.

    Returns the audit rows written this run (empty if nothing pending).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    parts = df.select(F.col(partition_col).cast("string").alias("partition_key")).distinct()
    todo = ledger.pending(parts).cache()
    if todo.isEmpty():
        return spark.createDataFrame([], AUDIT_SCHEMA)

    t0 = time.time()
    scoped = df.withColumn(
        "partition_key", F.col(partition_col).cast("string")
    ).join(F.broadcast(todo), on="partition_key", how="left_semi")

    err = sum(F.when(F.col(c) == -1, 1).otherwise(0) for c in code_cols)
    warn = sum(F.when(F.col(c) == 0, 1).otherwise(0) for c in code_cols)
    undef = sum(F.when(F.col(c) == 2, 1).otherwise(0) for c in code_cols)
    v = F.col(value_col).cast("double")

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
    )
    wall = time.time() - t0
    audit = agg.select(
        "partition_key",
        F.lit(run_id).alias("run_id"),
        F.lit(time.time()).alias("committed_at"),
        "n_rows", "n_value", "input_fingerprint", "mean", "m2",
        "n_error", "n_warning", "n_undefined",
        F.when(
            F.col("n_error") > F.col("n_rows") * F.lit(fail_on_error_rate),
            F.lit("fail"),
        ).otherwise(F.lit("pass")).alias("verdict"),
        F.lit(wall).alias("wall_s"),
    )
    ledger.append(audit)
    todo.unpersist()
    return ledger.committed().filter(F.col("run_id") == run_id)
