"""Partitioned layout: pruning reaches the scan; bucket assignment is
stable. (Audit resume over this layout: tests/test_audit_resume.py.)"""

import glob

from pyspark.sql import functions as F

from anomaly_detection_spark.catalog import (
    read_table,
    scan_has_partition_pruning,
    with_bucket,
    write_partitioned,
)
from anomaly_detection_spark.corpus import generate_code_corpus


def test_partitioned_write_prune_roundtrip(spark, tmp_path):
    path = str(tmp_path / "corpus")
    df = generate_code_corpus(spark, 5000)
    write_partitioned(df, path, key="repo", n_buckets=8)

    # hive layout on disk: bucket=<k> directories
    dirs = sorted(glob.glob(path + "/bucket=*"))
    assert len(dirs) == 8

    full = read_table(spark, path)
    assert full.count() == 5000

    pruned = full.filter(F.col("bucket").isin([0, 3]))
    assert scan_has_partition_pruning(pruned)
    assert not scan_has_partition_pruning(full)
    got_buckets = {r["bucket"] for r in
                   pruned.select("bucket").distinct().collect()}
    assert got_buckets <= {0, 3}

    # bucket assignment is stable: rereading and rebucketing agree
    again = with_bucket(read_table(spark, path).drop("bucket"),
                        "repo", 8)
    mismatch = (
        again.join(full.select("row_id", F.col("bucket").alias("b2")),
                   "row_id")
        .filter(F.col("bucket") != F.col("b2")).count()
    )
    assert mismatch == 0

