"""Audit ledger + resume semantics (SURVEY.md §5.2.4): kill after k
partitions, rerun, assert only pending partitions recomputed and the
final ledger is identical to an uninterrupted run."""

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.audit import AuditLedger, run_partitioned_checks
from anomaly_detection_spark.corpus import generate_code_corpus
from anomaly_detection_spark.operators.constraints import corpus_constraint_codes

CODE_COLS = ["c_path_not_null", "c_commit_format", "c_lang_domain",
             "c_content_len_border"]


def checked_corpus(spark, n=20_000, buckets=16):
    corpus = generate_code_corpus(spark, n)
    return corpus_constraint_codes(corpus).withColumn(
        "bucket", F.pmod(F.xxhash64("repo"), F.lit(buckets))
    ).withColumn("content_len", F.col("content_len").cast("double"))


def test_full_run_then_noop_resume(spark, tmp_path):
    df = checked_corpus(spark).cache()
    ledger = AuditLedger(spark, str(tmp_path / "audit"))
    first = run_partitioned_checks(
        spark, df, partition_col="bucket", value_col="content_len",
        code_cols=CODE_COLS, ledger=ledger, run_id="r1",
    )
    assert first.count() == 16
    # all planted errors accounted for: 4 checks' error counts
    tot = ledger.committed().agg(F.sum("n_error").alias("e")).first()["e"]
    assert tot > 0
    # rerun: nothing pending, ledger unchanged
    second = run_partitioned_checks(
        spark, df, partition_col="bucket", value_col="content_len",
        code_cols=CODE_COLS, ledger=ledger, run_id="r2",
    )
    assert second.count() == 0
    assert ledger.committed().count() == 16
    assert ledger.committed().filter("run_id = 'r2'").count() == 0


def test_killed_run_resumes_only_pending(spark, tmp_path):
    df = checked_corpus(spark).cache()
    path = str(tmp_path / "audit2")
    ledger = AuditLedger(spark, path)
    # simulate a killed run: commit only buckets 0..5
    partial = df.filter(F.col("bucket") < 6)
    run_partitioned_checks(
        spark, partial, partition_col="bucket", value_col="content_len",
        code_cols=CODE_COLS, ledger=ledger, run_id="killed",
    )
    assert ledger.committed().count() == 6
    # resume over the full table
    resumed = run_partitioned_checks(
        spark, df, partition_col="bucket", value_col="content_len",
        code_cols=CODE_COLS, ledger=ledger, run_id="resume",
    )
    assert resumed.count() == 10  # only the pending buckets
    done = ledger.committed()
    assert done.count() == 16
    assert done.select("partition_key").distinct().count() == 16

    # ledger content matches an uninterrupted reference run, row for row
    ref_ledger = AuditLedger(spark, str(tmp_path / "audit_ref"))
    run_partitioned_checks(
        spark, df, partition_col="bucket", value_col="content_len",
        code_cols=CODE_COLS, ledger=ref_ledger, run_id="ref",
    )
    cols = ["partition_key", "n_rows", "input_fingerprint", "n_error",
            "n_warning", "n_undefined", "verdict"]
    got = {tuple(r) for r in done.select(*cols).collect()}
    want = {tuple(r) for r in ref_ledger.committed().select(*cols).collect()}
    assert got == want


def test_verdict_threshold(spark, tmp_path):
    df = checked_corpus(spark, n=20_000).cache()
    ledger = AuditLedger(spark, str(tmp_path / "audit3"))
    audit = run_partitioned_checks(
        spark, df, partition_col="bucket", value_col="content_len",
        code_cols=CODE_COLS, ledger=ledger, fail_on_error_rate=1.0,
    )
    # nothing can exceed a 100% error-rate threshold
    assert audit.filter("verdict = 'fail'").count() == 0


def test_cli_smoke(spark, capsys):
    from anomaly_detection_spark.run import main

    rc = main(["--rows", "5000", "--json"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    import json

    res = json.loads(out)
    assert res["rows"] == 5000 and res["errors"] > 0


def test_ledger_compaction(spark, tmp_path):
    import glob

    df = checked_corpus(spark, n=8000, buckets=8).cache()
    ledger = AuditLedger(spark, str(tmp_path / "audit_c"))
    # three separate commits -> three file sets
    for i, lo in enumerate([0, 3, 6]):
        part = df.filter((F.col("bucket") >= lo) & (F.col("bucket") < lo + 3))
        run_partitioned_checks(
            spark, part, partition_col="bucket", value_col="content_len",
            code_cols=CODE_COLS, ledger=ledger, run_id=f"r{i}",
        )
    before = ledger.committed().collect()
    files_before = len(glob.glob(str(tmp_path / "audit_c") + "/*.parquet"))
    n = ledger.compact(target_files=1)
    files_after = len(glob.glob(str(tmp_path / "audit_c") + "/*.parquet"))
    assert n == len(before) == 8
    assert files_after < files_before and files_after == 1
    # content identical after compaction
    after = ledger.committed().collect()
    key = lambda r: (r["partition_key"], r["run_id"])  # noqa: E731
    assert sorted(map(key, before)) == sorted(map(key, after))


def test_unreadable_ledger_raises(spark, tmp_path):
    """Only a missing ledger reads as empty; a corrupt one must not, or
    every partition would be recomputed and appended again."""
    assert AuditLedger(spark, str(tmp_path / "none")).committed().count() == 0
    path = tmp_path / "audit_bad"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        AuditLedger(spark, str(path)).committed()
